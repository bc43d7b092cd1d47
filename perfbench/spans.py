"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side only: `Tracer.install` swaps
the public functions of each engine layer (see `LAYER_TARGETS`) for thin
wrappers and `Tracer.uninstall` puts the originals back. Nothing inside
`data_migration_service_spark` is edited.

Each span records name, start, end, parent and thread. It also gets its own
Spark job group, set on entry and restored on exit, so every Spark job the
wrapped call launches is attributed to the innermost open span. Job counts are
read afterwards from `statusTracker().getJobIdsForGroup`. The group is a
thread-local property; the streaming sink runs on the stream's own thread, and
the wrappers set the group on whichever thread makes the call.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

PKG = "data_migration_service_spark"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    parent: int | None
    thread: str
    end: float | None = None
    jobs: int = 0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals` (clipped)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it that its children cover."""
    return span.duration - covered([(c.start, c.end) for c in children],
                                   span.start, span.end)


def children_fit(span: Span, children: list[Span], tol: float = 1e-6) -> bool:
    """True when the children lie inside the span and do not overlap, so
    that sum(child durations) + self time == span duration."""
    if any(c.start < span.start - tol or c.end > span.end + tol
           for c in children):
        return False
    spans = sorted(children, key=lambda c: c.start)
    return all(b.start >= a.end - tol for a, b in zip(spans, spans[1:]))


class Tracer:
    """Collects spans in memory; `sc` (a SparkContext) enables job counting."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.missing: list[str] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []

    # ---- spans ----

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            # a span opened on a thread with nothing open (the streaming
            # sink's thread) belongs to the newest span still open anywhere
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            sp = Span(next(self._ids), name, time.monotonic(),
                      parent.span_id if parent else None,
                      threading.current_thread().name)
            self.spans.append(sp)
            self._open.append(sp)
        stack.append(sp)
        if self.sc is not None:
            prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
            sp.attrs["_prev_group"] = prev
            self.sc.setJobGroup(_group_id(sp), name)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.monotonic()
        if self.sc is not None:
            for k, v in sp.attrs.pop("_prev_group").items():
                self.sc.setLocalProperty(k, v)
        stack = self._stack()
        stack.remove(sp)
        with self._lock:
            self._open.remove(sp)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.begin(name)
        try:
            yield sp
        finally:
            self.end(sp)

    # ---- wrapping ----

    def install(self, targets) -> None:
        """Wrap each (span name, [module or 'module:Class'], attr, observe)
        target; a target that no longer exists is recorded as missing."""
        for name, owners, attr, observe in targets:
            found = False
            for owner_path in owners:
                owner = _resolve(owner_path)
                orig = getattr(owner, attr, None) if owner is not None else None
                if orig is None:
                    continue
                found = True
                self._patched.append((owner, attr, owner.__dict__.get(attr)))
                setattr(owner, attr, self._wrap(name, orig, observe))
            if not found:
                self.missing.append(name)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, saved = self._patched.pop()
            if saved is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, saved)

    def _wrap(self, name: str, fn: Callable, observe) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(sp)
            if observe is not None:
                observe(sp, args, kwargs, out)
            return out

        return wrapper

    # ---- job counts ----

    def count_jobs(self, spans: list[Span] | None = None) -> None:
        """Fill `Span.jobs` (jobs launched while the span was innermost)."""
        if self.sc is None:
            return
        try:  # let job-start events reach the status store first
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # internal API moved: fall back to a short wait
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        for sp in spans if spans is not None else self.spans:
            sp.jobs = len(tracker.getJobIdsForGroup(_group_id(sp)))


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def _group_id(sp: Span) -> str:
    return f"perfbench-{os.getpid()}-{sp.span_id}"


def _resolve(path: str):
    mod, _, cls = path.partition(":")
    try:
        m = importlib.import_module(mod)
    except ImportError:
        return None
    return getattr(m, cls, None) if cls else m


# ---- the layers, as reached from outside ----

def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def _observe_write(sp: Span, args, kwargs, dirname) -> None:
    table = args[0]
    affected = kwargs.get("affected", args[2] if len(args) > 2 else [])
    sp.attrs["bytes"], sp.attrs["files"] = _dir_bytes(
        os.path.join(table._datadir, dirname))
    sp.attrs["buckets_rewritten"] = len(affected or [])


def _observe_prune(sp: Span, args, kwargs, pruned) -> None:
    snap = args[1] if len(args) > 1 else kwargs["snap"]
    buckets = list(args[2] if len(args) > 2 else kwargs["buckets"])
    sp.attrs["dirs_in"] = sum(len(snap.deltas.get(b) or []) for b in buckets)
    sp.attrs["dirs_kept"] = sum(len(pruned.deltas.get(b) or []) for b in buckets)


def _observe_quarantine(sp: Span, args, kwargs, out) -> None:
    sp.attrs["rows"] = int(out[1])


LAYER_TARGETS = [
    # (span name, owners patched, attribute, observer)
    ("replay.drain", [f"{PKG}.api:Engine"], "replay", None),
    ("replay.apply_batch", [f"{PKG}.streaming.replay:ReplayEngine"],
     "apply_batch", None),
    ("registry.resolve_batch", [f"{PKG}.registry", f"{PKG}.streaming.replay"],
     "resolve_batch", None),
    ("registry.apply_ddl_for_version",
     [f"{PKG}.registry", f"{PKG}.streaming.replay"], "apply_ddl_for_version",
     None),
    ("quarantine.quarantine_and_filter", [f"{PKG}.operators.quarantine"],
     "quarantine_and_filter", _observe_quarantine),
    ("merge.apply_changes", [f"{PKG}.operators.patch", f"{PKG}.streaming.replay"],
     "apply_changes", None),
    ("merge.cdc_apply", [f"{PKG}.operators.merge"], "cdc_apply", None),
    ("merge.compact", [f"{PKG}.operators.merge"], "compact", None),
    ("lake.write_buckets", [f"{PKG}.tables.lake:SnapshotTable"],
     "write_buckets", _observe_write),
    ("lake.commit", [f"{PKG}.tables.lake:SnapshotTable"], "commit", None),
    ("lake.prune_deltas", [f"{PKG}.tables.lake:SnapshotTable"],
     "prune_deltas", _observe_prune),
    ("api.verify", [f"{PKG}.api:Engine"], "verify", None),
    ("verify.verify_state", [f"{PKG}.operators.verify"], "verify_state", None),
    ("api.lookup", [f"{PKG}.api:Engine"], "lookup", None),
    ("lookup.probe_key_hashes", [f"{PKG}.operators.merge", f"{PKG}.api"],
     "probe_key_hashes", None),
]
