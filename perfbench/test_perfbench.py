"""Tests of the benchmark itself: span arithmetic, wrapper install/restore,
the bare-checkout failure, and a tiny-size smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import shutil
import subprocess
import sys
import types

import pytest

from perfbench import spans as T

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(i, start, end, parent=None):
    return T.Span(i, f"s{i}", start, parent, "t", end=end)


def test_covered_merges_overlaps_and_clips():
    assert T.covered([], 0, 10) == 0
    assert T.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert T.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert T.covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_is_duration_minus_covered_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 5.0, 9.0, 1)]
    assert T.self_time(parent, kids) == pytest.approx(3.0)
    assert sum(k.duration for k in kids) + T.self_time(parent, kids) == \
        pytest.approx(parent.duration)
    assert T.children_fit(parent, kids)
    # overlapping children are counted once in self time but fail the fit
    overlap = [_span(2, 1.0, 6.0, 1), _span(3, 5.0, 9.0, 1)]
    assert T.self_time(parent, overlap) == pytest.approx(2.0)
    assert not T.children_fit(parent, overlap)
    assert not T.children_fit(parent, [_span(2, 9.0, 11.0, 1)])


class _Target:
    def work(self, x):
        return x + 1


def test_install_wraps_restores_and_reports_missing():
    mod = types.ModuleType("perfbench_fake_layer")
    mod.func = lambda x: x * 2
    sys.modules[mod.__name__] = mod
    try:
        tr = T.Tracer()
        tr.install([
            ("fake.func", [mod.__name__], "func", None),
            ("fake.work", [f"{__name__}:_Target"], "work",
             lambda sp, a, k, out: sp.attrs.update(out=out)),
            ("fake.gone", [mod.__name__, "no_such_module_xyz"], "nope", None),
        ])
        with tr.span("outer"):
            assert mod.func(3) == 6
            assert _Target().work(1) == 2
        names = [s.name for s in tr.spans]
        assert names == ["outer", "fake.func", "fake.work"]
        outer = tr.spans[0]
        assert all(s.parent == outer.span_id for s in tr.spans[1:])
        assert tr.spans[2].attrs["out"] == 2
        assert tr.missing == ["fake.gone"]
        tr.uninstall()
        assert "work" in _Target.__dict__ and not hasattr(
            _Target.work, "__wrapped__")
        assert not hasattr(mod.func, "__wrapped__")
    finally:
        del sys.modules[mod.__name__]


def test_bare_checkout_fails_without_result(tmp_path):
    """In a directory holding only the benchmark, the run must exit non-zero
    without printing a result line."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mor_tail",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---- tiny-size smoke runs (Spark) ----

TINY = {
    "mor_tail": dict(n_files=4, events_per_file=300, n_repos=10, n_paths=20,
                     lookups_per_pass=2),
    "cow_bulk": dict(n_files=3, events_per_file=400, base_events=800,
                     n_repos=20, n_paths=40, lookups_per_pass=2),
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ.setdefault("SPARK_LOCAL_DIRS",
                          str(tmp_path_factory.mktemp("spark-local")))
    from data_migration_service_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]")
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(TINY))
def test_workload_smoke(spark, tmp_path, name):
    from perfbench import stage, workloads

    spec = dataclasses.replace(workloads.SPECS[name], **TINY[name])
    staged = stage.stage(spark, spec, 7, str(tmp_path / "inputs"))
    assert staged.manifest["malformed"] >= 0
    assert len(os.listdir(staged.backlog)) == spec.n_files
    again = stage.stage(spark, spec, 7, str(tmp_path / "again"))
    assert again.manifest["digest"] == staged.manifest["digest"]
    assert stage.check_digest(staged, str(tmp_path / "d"), "x") is None
    assert stage.check_digest(again, str(tmp_path / "d"), "x") is None

    r = workloads.run(spark, staged, str(tmp_path / "run"), 0, True, 1.0)
    assert r.failed == 0, [e for p in [r.warmup, *r.passes] for e in p.errors]
    e2e = workloads.end_to_end(r, staged)
    layer, errors = workloads.per_layer(r, staged)
    assert errors == []
    for k, (v, unit) in {**e2e, **layer}.items():
        assert unit and math.isfinite(v), k
    for k in ("verified_events_per_s", "epoch_p50_s", "table_mb",
              "lookup_p50_ms", "setup_s"):
        assert e2e[k][0] > 0, k
    assert layer["quarantine.rows"][0] == staged.manifest["malformed"]
    assert layer["replay.jobs_per_epoch"][0] > 0
    assert layer["lake.commit_calls"][0] >= spec.n_files
    assert layer["lake.bytes_written"][0] > 0
    traced = [p for p in r.passes if p.traced]
    assert traced and not any(p.missing for p in traced)
    json.dumps({k: v for k, (v, _) in layer.items()})
