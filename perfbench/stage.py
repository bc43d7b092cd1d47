"""Seeded input staging.

Every run generates its inputs with the engine's own fixtures
(`fixtures.cdc.gen_changes` / `to_raw_events`) before anything is timed, and
digests them. The digest of each (spec, seed, engine source) is recorded on
first use; a later run whose inputs hash differently fails its input gate, so
every run of a seed reads the same rows in the same files. Parquet files are
digested by their decoded content: parquet-mr writes each column's list of
encodings in an order that changes from one JVM to the next, so the footer
bytes differ between processes while the data pages do not.

Inputs are regenerated rather than reused on purpose: generation is the first
Spark work in the process, and skipping it left the JVM colder when the
warm-up pass started. The measured pass then ran up to a quarter slower
(cow_bulk epoch p50 4.8 s with fresh inputs, 6.0 s with reused ones).

A staged set holds:

- `backlog/batch-NNNN.parquet`: one raw-event file per micro-batch, in LSN
  order, with increasing mtimes (the streaming file source drains the oldest
  file first). Seeded malformed copies of real events, with a bad op or a null
  key, are mixed in; the engine must quarantine exactly these.
- `base/`: the bootstrap snapshot (live rows at the end of the base prefix),
  only for specs with a base.
- `oracle/`: `expected_final_state` of the whole log.
- `lookups.json`: the lookup plan with the expected sha256(content) per key.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass

MTIME0 = 1_767_225_600  # 2026-01-01 UTC; file i gets MTIME0 + i
KEY_SAMPLE = 4096        # keys per seed the lookup plan is drawn from
MALFORMED_PER_10K = 10   # 0.1% of the backlog


@dataclass(frozen=True)
class Spec:
    """Sizes of one workload. The program only ever sees the staged files."""

    name: str
    mode: str                # EngineConfig.merge_mode
    n_files: int             # micro-batches in the backlog
    events_per_file: int
    base_events: int         # log prefix folded into the bootstrap snapshot
    n_repos: int
    n_paths: int
    n_buckets: int
    compact_threshold: int
    content_blocks: int      # gen_changes document size (1..N 65-char blocks)
    lookups_per_pass: int
    warmup_epochs: int       # micro-batches the warm-up drains the backlog in
    v2_file: int             # micro-batch that starts schema v2

    @property
    def tail_events(self) -> int:
        return self.n_files * self.events_per_file

    @property
    def v2_at(self) -> int:
        """First LSN of schema v2: the start of micro-batch `v2_file`."""
        return self.base_events + self.v2_file * self.events_per_file + 1


@dataclass
class Staged:
    dir: str
    spec: Spec
    seed: int
    manifest: dict

    @property
    def backlog(self) -> str:
        return os.path.join(self.dir, "backlog")

    @property
    def base(self) -> str:
        return os.path.join(self.dir, "base")

    @property
    def oracle(self) -> str:
        return os.path.join(self.dir, "oracle")

    def lookups(self) -> list[dict]:
        with open(os.path.join(self.dir, "lookups.json")) as f:
            return json.load(f)


def stage(spark, spec: Spec, seed: int, out: str) -> Staged:
    """Generate the inputs of (spec, seed) under `out` and digest them."""
    shutil.rmtree(out, ignore_errors=True)
    man = _generate(spark, spec, seed, out)
    files = sorted(os.path.relpath(p, out) for p in glob.glob(
        os.path.join(out, "**", "*"), recursive=True) if os.path.isfile(p))
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode())
        h.update(_sha256(os.path.join(out, rel)).encode())
    man["digest"] = h.hexdigest()
    return Staged(out, spec, seed, man)


def check_digest(staged: Staged, record_dir: str, engine_sha: str) -> str | None:
    """Record the inputs' digest on first use; return an error when a later
    run of the same (spec, seed, engine source) staged different bytes."""
    key = hashlib.sha256(json.dumps(
        [asdict(staged.spec), staged.seed, engine_sha]).encode()).hexdigest()
    path = os.path.join(record_dir, f"{staged.spec.name}-{staged.seed}-{key[:16]}")
    os.makedirs(record_dir, exist_ok=True)
    try:
        with open(path, "x") as f:
            f.write(staged.manifest["digest"])
        return None
    except FileExistsError:
        with open(path) as f:
            want = f.read().strip()
    if want != staged.manifest["digest"]:
        return (f"inputs of seed {staged.seed} hash to "
                f"{staged.manifest['digest']}, recorded {want}")
    return None


def _sha256(path: str) -> str:
    """sha256 of a file's bytes, or of a parquet file's rows (Arrow IPC)."""
    if path.endswith(".parquet"):
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(path)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _write_one(df, out: str) -> None:
    """Write `df` sorted by key as one file with a stable name, so the
    digest depends on content only."""
    df.orderBy("repo", "path").coalesce(1).write.parquet(out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    os.rename(part, os.path.join(out, "part-0.parquet"))
    for p in os.listdir(out):
        if p != "part-0.parquet":
            os.remove(os.path.join(out, p))


def _generate(spark, spec: Spec, seed: int, out: str) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_migration_service_spark.fixtures.cdc import (
        expected_final_state,
        gen_changes,
        to_raw_events,
    )
    from data_migration_service_spark.functions.hashing import content_sha256

    n_total = spec.base_events + spec.tail_events
    ch = gen_changes(spark, n_total, n_repos=spec.n_repos,
                     n_paths_per_repo=spec.n_paths, seed=seed,
                     schema_v2_at=spec.v2_at, schema_v3_at=n_total + 1,
                     partitions=4, content_blocks=spec.content_blocks).cache()

    # backlog: raw tail events plus seeded malformed copies of some of them
    tail = to_raw_events(ch.where(F.col("lsn") > spec.base_events))
    pick = F.pmod(F.xxhash64("lsn", F.lit("malformed"), F.lit(seed)),
                  F.lit(10_000))
    bad = tail.where(pick < MALFORMED_PER_10K)
    bad = bad.withColumn("op", F.when(pick % 2 == 0, F.lit("bogus"))
                         .otherwise(F.col("op"))) \
             .withColumn("path", F.when(pick % 2 == 1, F.lit(None).cast("string"))
                         .otherwise(F.col("path")))
    batch = ((F.col("lsn") - spec.base_events - 1)
             / spec.events_per_file).cast("int")
    raw = tail.unionByName(bad).withColumn("_b", batch)
    tmpw = os.path.join(out, "_write")
    (raw.repartition(spec.n_files, "_b").sortWithinPartitions("lsn", "op", "path")
     .write.partitionBy("_b").parquet(tmpw))
    backlog = os.path.join(out, "backlog")
    os.makedirs(backlog)
    for i in range(spec.n_files):
        (src,) = glob.glob(os.path.join(tmpw, f"_b={i}", "*.parquet"))
        dst = os.path.join(backlog, f"batch-{i:04d}.parquet")
        os.rename(src, dst)
        os.utime(dst, (MTIME0 + i, MTIME0 + i))
    shutil.rmtree(tmpw)

    _write_one(expected_final_state(ch), os.path.join(out, "oracle"))
    if spec.base_events:
        base = expected_final_state(ch.where(F.col("lsn") <= spec.base_events))
        _write_one(base.withColumnRenamed("last_lsn", "lsn"),
                   os.path.join(out, "base"))

    # lookup plan, drawn from a seeded sample of keys: hot (most events, still
    # live), cold (fewest events, live), absent (deleted by the end of the
    # log, or never written at all)
    every = max(spec.n_repos * spec.n_paths // KEY_SAMPLE, 1)
    sample = ch.where(F.pmod(F.xxhash64("repo", "path", F.lit(seed)),
                             F.lit(every)) == 0) \
        .groupBy("repo", "path").agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by(F.col("op"), F.col("lsn")).alias("last_op"),
            F.max_by(content_sha256("content"), F.col("lsn")).alias("h"),
    ).collect()
    sample.sort(key=lambda r: (-r["n"], r["repo"], r["path"]))
    live = [r for r in sample if r["last_op"] != "delete"]
    hot, cold = live[:64], live[-64:]
    deleted = [r for r in sample if r["last_op"] == "delete"][:64]
    expect = {(r["repo"], r["path"]): r["h"] for r in live}
    rng = random.Random(seed)
    plan = []
    for i in range(4 * spec.lookups_per_pass):
        keys = [(r["repo"], r["path"]) for r in rng.sample(hot, 2)]
        c = rng.choice(cold)
        keys.append((c["repo"], c["path"]))
        if deleted and i % 2 == 0:
            d = rng.choice(deleted)
            keys.append((d["repo"], d["path"]))
        else:
            keys.append(("repo_absent", f"none/{seed}/{i}.py"))
        plan.append({"keys": [list(k) for k in keys],
                     "expect": {f"{r}\t{p}": expect[(r, p)]
                                for r, p in keys if (r, p) in expect}})
    with open(os.path.join(out, "lookups.json"), "w") as f:
        json.dump(plan, f)

    ch.unpersist()
    files = sorted(glob.glob(os.path.join(backlog, "*.parquet")))
    n_bad = sum(pq.read_metadata(p).num_rows for p in files) - spec.tail_events
    return {"spec": asdict(spec), "seed": seed,
            "tail_events": spec.tail_events, "malformed": n_bad,
            "backlog_events": spec.tail_events + n_bad,
            "backlog_bytes": sum(os.path.getsize(p) for p in files)}
