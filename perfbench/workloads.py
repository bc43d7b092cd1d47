"""The workloads: one replay pass through the public API, and the run loop.

A pass is what a user of the engine does end to end:

1. prepare a fresh target (create it, or clone the bootstrapped template);
2. `Engine.replay(streaming=True)` drains the staged backlog, one file per
   micro-batch, with the schema registry, quarantine, lineage and stats on;
3. `Engine.verify` checks sha256(content) per key against the oracle;
4. one closed-loop client issues `Engine.lookup(keys).collect()` calls of
   hot, cold and absent keys, each checked against the oracle.

A run starts the session, stages inputs (untimed), builds the template,
makes one warm-up pass (see `run_pass`), then repeats measured passes until
`seconds` have elapsed. With `trace=True` the measured passes alternate untraced and
traced, and the traced ones feed the per-layer metrics.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import types as PT

from perfbench import spans as T
from perfbench.stage import Spec, Staged

SPECS = {
    # Small epochs: the fixed per-epoch cost (Spark jobs, registry and
    # quarantine probes, stats and Bloom jobs, commits) dominates. Every
    # bucket compacts twice, in epoch 3 (with the schema bump) and epoch 7,
    # and two deltas per bucket are pending when verify and the lookups run,
    # so reads go through the MOR reduce and the Bloom prune. Seven of the
    # ten epochs are plain appends, so the median epoch is a plain one and
    # does not jump between the first, compacting and plain epochs from run
    # to run. The warm-up drains the same files two per micro-batch, which
    # still compacts and bumps the schema: with fewer warm-up epochs the
    # first measured epochs ran slower and the spread over seeds was wider.
    "mor_tail": Spec(name="mor_tail", mode="mor", n_files=10,
                     events_per_file=600, base_events=0, n_repos=100,
                     n_paths=200, n_buckets=8, compact_threshold=4,
                     content_blocks=8, lookups_per_pass=4, warmup_epochs=5,
                     v2_file=3),
    # Bootstrap, then a few large copy-on-write epochs over a base several
    # times one batch: each epoch rewrites most buckets, so data-proportional
    # work (target read, fused LWW exchange, parquet rewrite) dominates.
    # Lookups read a fully compacted table (no deltas to prune). Its cost is
    # per byte, so a one-batch warm-up runs the same shapes in a third of
    # the time.
    "cow_bulk": Spec(name="cow_bulk", mode="cow", n_files=4,
                     events_per_file=5_000, base_events=24_000,
                     n_repos=500, n_paths=500, n_buckets=8,
                     compact_threshold=8, content_blocks=2,
                     lookups_per_pass=4, warmup_epochs=1, v2_file=2),
}

# the first lookup on a fresh table is slower in every pass, warm-up or not
WARMUP_LOOKUPS = 1

V1_FIELDS = [("repo", PT.StringType(), False), ("path", PT.StringType(), False),
             ("commit", PT.StringType(), True), ("lang", PT.StringType(), True),
             ("content", PT.StringType(), True), ("lsn", PT.LongType(), False)]


@dataclass
class PassResult:
    traced: bool
    prep_s: float = 0.0
    drain_s: float = 0.0
    verify_s: float = 0.0
    epoch_walls: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    table_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    spans: list = field(default_factory=list)
    missing: list[str] = field(default_factory=list)


class Context:
    """Session, staged inputs and per-run state shared by the passes."""

    def __init__(self, spark, staged: Staged, work: str):
        from data_migration_service_spark.fixtures.cdc import default_registry

        self.spark = spark
        self.staged = staged
        self.spec = staged.spec
        self.work = work
        self.schema = PT.StructType([
            PT.StructField(n, t, nullable) for n, t, nullable in V1_FIELDS])
        n_total = self.spec.base_events + self.spec.tail_events
        self.registry = default_registry(self.spec.v2_at, n_total + 1)
        self.oracle = spark.read.parquet(staged.oracle)
        self.plan = staged.lookups()
        self.template = None
        self.n_passes = 0

    def config(self, root: str):
        from data_migration_service_spark.config import EngineConfig

        return EngineConfig(
            table_path=os.path.join(root, "table"),
            n_buckets=self.spec.n_buckets, merge_mode=self.spec.mode,
            compact_threshold=self.spec.compact_threshold,
            checkpoint_path=os.path.join(root, "ckpt"),
            quarantine_path=os.path.join(root, "quarantine"),
            skip_limit=None)

    def build_template(self) -> None:
        """Bootstrap the base snapshot once; passes clone it (hard links)."""
        if not self.spec.base_events:
            return
        from data_migration_service_spark.api import Engine
        from data_migration_service_spark.tables.lake import SnapshotTable

        root = os.path.join(self.work, "template")
        cfg = self.config(root)
        SnapshotTable.create(self.spark, cfg.table_path, self.schema,
                             list(cfg.key_cols), cfg.n_buckets)
        eng = Engine(self.spark, cfg, registry=self.registry)
        eng.bootstrap(self.spark.read.parquet(self.staged.base), epoch=0)
        self.template = eng.table


def run_pass(ctx: Context, tracer: T.Tracer | None = None,
             warmup: bool = False) -> PassResult:
    """One pass on a fresh table; never raises (failures are counted).

    The warm-up pass drains the backlog in `spec.warmup_epochs` micro-batches
    and makes WARMUP_LOOKUPS lookups; its final state, verify and lookups are
    checked against the same oracle as a measured pass."""
    from data_migration_service_spark.api import Engine
    from data_migration_service_spark.tables.lake import SnapshotTable

    spec, man = ctx.spec, ctx.staged.manifest
    idx = ctx.n_passes
    ctx.n_passes += 1
    root = os.path.join(ctx.work, f"pass-{idx:03d}")
    res = PassResult(traced=tracer is not None)
    n_lookups = WARMUP_LOOKUPS if warmup else spec.lookups_per_pass
    plan = [ctx.plan[(idx * spec.lookups_per_pass + i) % len(ctx.plan)]
            for i in range(n_lookups)]
    per_trigger = -(-spec.n_files // spec.warmup_epochs) if warmup else 1
    n_epochs = -(-spec.n_files // per_trigger)
    res.attempted = n_epochs + 2 + len(plan)  # epochs, verify, quarantine
    try:
        t0 = time.monotonic()
        cfg = ctx.config(root)
        if ctx.template is not None:
            ctx.template.clone_to(cfg.table_path)
        else:
            SnapshotTable.create(ctx.spark, cfg.table_path, ctx.schema,
                                 list(cfg.key_cols), cfg.n_buckets)
        eng = Engine(ctx.spark, cfg, registry=ctx.registry)
        res.prep_s = time.monotonic() - t0
        if tracer is not None:
            tracer.install(T.LAYER_TARGETS)
        try:
            t1 = time.monotonic()
            eng.replay(ctx.staged.backlog, streaming=True,
                       max_files_per_trigger=per_trigger)
            res.drain_s = time.monotonic() - t1
            t2 = time.monotonic()
            vr = eng.verify(ctx.oracle)
            res.verify_s = time.monotonic() - t2
            for item in plan:
                t3 = time.monotonic()
                rows = _lookup(ctx, eng, item["keys"], tracer)
                res.lookup_s.append(time.monotonic() - t3)
                got = {f"{r['repo']}\t{r['path']}": _sha(r["content"])
                       for r in rows}
                if got != item["expect"] or len(rows) != len(got):
                    res.failed += 1
                    res.errors.append(f"lookup {item['keys']}: got {got}, "
                                      f"want {item['expect']}")
        finally:
            if tracer is not None:
                tracer.uninstall()
        epochs = eng.status(detail=True)["epochs"]
        res.epoch_walls = [e["wall_sec"] for e in epochs]
        if len(epochs) != n_epochs:
            res.failed += abs(n_epochs - len(epochs))
            res.errors.append(f"{len(epochs)} epochs recorded, expected "
                              f"{n_epochs} from {spec.n_files} files staged")
        if not vr.consistent:
            res.failed += 1
            res.errors.append(f"verify: {vr.n_mismatch} mismatched, "
                              f"{vr.n_missing_in_target} missing in target, "
                              f"{vr.n_missing_in_source} missing in source")
        n_q = sum(e.get("rows_quarantined", 0) for e in epochs)
        if n_q != man["malformed"]:
            res.failed += 1
            res.errors.append(f"quarantined {n_q} rows, injected "
                              f"{man['malformed']}")
        res.table_bytes = table_bytes(eng.table)
    except Exception:  # a pass boundary: record, count, let the run report
        res.failed = res.attempted
        res.errors.append(traceback.format_exc())
    if tracer is not None:
        res.spans = list(tracer.spans)
    shutil.rmtree(root, ignore_errors=True)
    for e in res.errors:
        print(f"[perfbench] {spec.name} pass {idx}: {e}", file=sys.stderr)
    return res


def _lookup(ctx: Context, eng, keys, tracer):
    kdf = ctx.spark.createDataFrame([tuple(k) for k in keys],
                                    "repo string, path string")
    if tracer is None:
        return eng.lookup(kdf).collect()
    with tracer.span("lookup.op"):
        return eng.lookup(kdf).collect()


def _sha(content):
    return None if content is None else hashlib.sha256(
        content.encode("utf-8")).hexdigest()


def table_bytes(table) -> int:
    """Bytes of the data files the current snapshot references."""
    snap = table.current()
    refs = [(d, b) for b, d in snap.buckets.items()]
    refs += [(d, b) for b, ds in snap.deltas.items() for d in ds]
    total = 0
    for d, b in refs:
        for p in table.bucket_paths(d, [b]):
            total += sum(e.stat().st_size for e in os.scandir(p)
                         if e.name.endswith(".parquet"))
    return total


# ---- the run ----

@dataclass
class RunResult:
    passes: list[PassResult]
    warmup: PassResult
    session_s: float
    template_s: float
    attempted: int
    failed: int


def run(spark, staged: Staged, work: str, seconds: float, trace: bool,
        session_s: float) -> RunResult:
    ctx = Context(spark, staged, work)
    t0 = time.monotonic()
    ctx.build_template()
    template_s = time.monotonic() - t0
    warm = run_pass(ctx, warmup=True)
    passes: list[PassResult] = []
    t_meas = time.monotonic()
    while True:
        if trace:
            # later passes run warmer; alternating which of the pair is
            # traced with the seed lets that drift cancel in the median of
            # trace.overhead_frac over seeds
            pair = [None, T.Tracer(spark.sparkContext)]
            for tracer in pair if staged.seed % 2 == 0 else pair[::-1]:
                passes.append(run_pass(ctx, tracer))
                if tracer is not None:
                    tracer.count_jobs()
                    passes[-1].missing = tracer.missing
        else:
            passes.append(run_pass(ctx))
        failed = warm.failed + sum(p.failed for p in passes)
        if failed or time.monotonic() - t_meas >= seconds:
            break
    return RunResult(passes, warm, session_s, template_s,
                     attempted=warm.attempted + sum(p.attempted for p in passes),
                     failed=failed)


# ---- metrics ----

def end_to_end(r: RunResult, staged: Staged) -> dict[str, tuple[float, str]]:
    ps = [p for p in r.passes if not p.traced]
    events = staged.manifest["backlog_events"]
    return {
        "verified_events_per_s": (statistics.median(
            events / (p.drain_s + p.verify_s) for p in ps), "events/s"),
        "epoch_p50_s": (statistics.median(
            w for p in ps for w in p.epoch_walls), "s"),
        "table_mb": (statistics.median(p.table_bytes for p in ps) / 1e6, "MB"),
        "lookup_p50_ms": (1e3 * statistics.median(
            s for p in ps for s in p.lookup_s), "ms"),
        "setup_s": (r.session_s + r.template_s + r.warmup.drain_s
                    + r.warmup.verify_s + sum(r.warmup.lookup_s)
                    + statistics.median(p.prep_s for p in [r.warmup, *ps]),
                    "s"),
    }


def per_layer(r: RunResult, staged: Staged) -> tuple[dict, list[str]]:
    """Per-layer metrics averaged per traced pass, plus span-check errors."""
    traced = [p for p in r.passes if p.traced]
    plain = [p for p in r.passes if not p.traced]
    n = len(traced)
    spans = [s for p in traced for s in p.spans]
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(*names):
        return sum(s.duration for nm in names for s in named(nm)) / n

    def selft(*names):
        return sum(T.self_time(s, kids.get(s.span_id, []))
                   for nm in names for s in named(nm)) / n

    def jobs_total(s):
        return s.jobs + sum(jobs_total(c) for c in kids.get(s.span_id, []))

    def jobs(*names, total=True):
        return sum(jobs_total(s) if total else s.jobs
                   for nm in names for s in named(nm)) / n

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in named(name))

    errors = []
    for s in named("replay.apply_batch"):
        if not T.children_fit(s, kids.get(s.span_id, [])):
            errors.append(f"span {s.span_id}: children of apply_batch "
                          "overlap or leave its interval")
    batches = named("replay.apply_batch")
    written = attr("lake.write_buckets", "bytes") / n
    dirs_in = attr("lake.prune_deltas", "dirs_in")
    staged_bytes = staged.manifest["backlog_bytes"]
    m = {
        "registry.resolve_s": (dur("registry.resolve_batch"), "s"),
        "registry.resolve_jobs": (jobs("registry.resolve_batch"), "count"),
        "registry.ddl_s": (dur("registry.apply_ddl_for_version"), "s"),
        "quarantine.s": (dur("quarantine.quarantine_and_filter"), "s"),
        "quarantine.jobs": (jobs("quarantine.quarantine_and_filter"), "count"),
        "quarantine.rows": (attr("quarantine.quarantine_and_filter", "rows") / n,
                            "count"),
        "replay.self_s": (selft("replay.apply_batch"), "s"),
        "replay.jobs_per_epoch": (sum(jobs_total(s) for s in batches)
                                  / max(len(batches), 1), "count"),
        "replay.stream_overhead_s": (dur("replay.drain")
                                     - dur("replay.apply_batch"), "s"),
        "merge.self_s": (selft("merge.apply_changes", "merge.cdc_apply"), "s"),
        "merge.jobs": (jobs("merge.apply_changes", "merge.cdc_apply",
                            total=False), "count"),
        "merge.compact_s": (dur("merge.compact"), "s"),
        "merge.compact_calls": (len(named("merge.compact")) / n, "count"),
        "merge.buckets_rewritten": (attr("lake.write_buckets",
                                         "buckets_rewritten") / n, "count"),
        "lake.write_s": (dur("lake.write_buckets"), "s"),
        "lake.write_jobs": (jobs("lake.write_buckets"), "count"),
        "lake.bytes_written": (written, "bytes"),
        "lake.files_written": (attr("lake.write_buckets", "files") / n, "count"),
        "lake.write_amp": (written / staged_bytes, "ratio"),
        "lake.commit_s": (dur("lake.commit"), "s"),
        "lake.commit_calls": (len(named("lake.commit")) / n, "count"),
        "verify.s": (dur("verify.verify_state"), "s"),
        "verify.jobs": (jobs("api.verify"), "count"),
        "lookup.probe_s": (dur("lookup.probe_key_hashes"), "s"),
        "lookup.probe_jobs": (jobs("lookup.probe_key_hashes"), "count"),
        "lake.prune_s": (dur("lake.prune_deltas"), "s"),
        "lake.prune_keep_ratio": (
            attr("lake.prune_deltas", "dirs_kept") / dirs_in if dirs_in else 1.0,
            "ratio"),
        "lookup.collect_s": (dur("lookup.op") - dur("lookup.probe_key_hashes")
                             - dur("lake.prune_deltas"), "s"),
        "trace.overhead_frac": (
            statistics.median(p.drain_s for p in traced)
            / statistics.median(p.drain_s for p in plain) - 1, "ratio"),
    }
    return m, errors
