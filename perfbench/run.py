"""End-to-end CDC replay benchmark.

    python3 perfbench/run.py --workload mor_tail --seed 1 --seconds 20 --trace 0

Runs one workload (see `workloads.SPECS`) through the engine's public API on
`local[<cpus> - 1]` and prints, as the last stdout line, one JSON object with
the keys `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it is a report with the host stamp, every sample and (traced) the span
summary. Exits 1 when any correctness gate fails, 2 when the engine cannot be
imported. Everything it writes stays under `perfbench/.work/`.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_HEAP = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the work dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_HEAP)
    opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()


def engine_sha() -> str:
    """sha256 of the engine's Python sources (the checkout may lack git)."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(
            ROOT, "data_migration_service_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def host_stamp(spark, master: str) -> dict:
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        git_head = head.stdout.strip() if head.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        git_head = None
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": master,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_head": git_head,
        "engine_sha256": engine_sha(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import data_migration_service_spark  # noqa: F401
        from perfbench import stage, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.SPECS)}", file=sys.stderr)
        return 2
    spec = workloads.SPECS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{spec.name}-{args.seed}-{os.getpid()}")
    _isolate(run_dir)

    from data_migration_service_spark.session import get_spark

    # one core stays free for the driver's own threads (Python, the JVM's
    # scheduler, GC and JIT): with every core running tasks, timings follow
    # the OS scheduler more than the program
    master = f"local[{max(len(os.sched_getaffinity(0)) - 1, 1)}]"
    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{spec.name}", master=master)
    session_s = time.monotonic() - t0
    try:
        t1 = time.monotonic()
        staged = stage.stage(spark, spec, args.seed,
                             os.path.join(run_dir, "inputs"))
        stage_s = time.monotonic() - t1
        errors = [e for e in [stage.check_digest(
            staged, os.path.join(WORK, "digests"), engine_sha())] if e]
        r = workloads.run(spark, staged, run_dir, args.seconds,
                          bool(args.trace), session_s)
        e2e = workloads.end_to_end(r, staged)
        checks = 1  # the input digest; the traced run adds the span check
        if args.trace:
            metrics, span_errors = workloads.per_layer(r, staged)
            errors += span_errors[:1]
            checks += 1
        else:
            metrics = e2e
        for e in errors:
            print(f"[perfbench] {spec.name}: {e}", file=sys.stderr)
        attempted = r.attempted + checks
        failed = r.failed + len(errors)
        report = {
            "workload": spec.name, "seed": args.seed, "trace": args.trace,
            "host": host_stamp(spark, master),
            "input": {k: staged.manifest[k] for k in (
                "digest", "backlog_events", "malformed", "backlog_bytes")},
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "samples": dict(_samples(r), stage_s=stage_s),
            "errors": errors,
            "missing_spans": sorted({m for p in r.passes for m in p.missing}),
        }
        if args.trace:
            _write_spans(r, os.path.join(WORK, f"spans-{spec.name}-{args.seed}.jsonl"))
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _samples(r) -> dict:
    def one(p):
        return {"traced": p.traced, "prep_s": p.prep_s, "drain_s": p.drain_s,
                "verify_s": p.verify_s, "epoch_walls": p.epoch_walls,
                "lookup_s": p.lookup_s, "table_bytes": p.table_bytes,
                "failed": p.failed}
    return {"session_s": r.session_s, "template_s": r.template_s,
            "warmup": one(r.warmup), "passes": [one(p) for p in r.passes]}


def _write_spans(r, path: str) -> None:
    with open(path, "w") as f:
        for i, p in enumerate(x for x in r.passes if x.traced):
            for s in p.spans:
                f.write(json.dumps({
                    "pass": i, "id": s.span_id, "name": s.name,
                    "parent": s.parent, "thread": s.thread, "start": s.start,
                    "end": s.end, "jobs": s.jobs,
                    "attrs": s.attrs}) + "\n")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # still running: make sure it ends before we do
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
