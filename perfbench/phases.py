"""Phase table of a traced run: self time, Spark jobs and calls per span.

    python3 perfbench/phases.py perfbench/.work/spans-mor_tail-1.jsonl

Reads the spans a `--trace 1` run writes and prints one markdown table per
traced pass. Self times of the spans under `replay.drain` add up to the drain
wall; the rest of the pass (verify, lookups) follows below the drain rows.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.spans import Span, self_time  # noqa: E402


def load(path: str) -> dict[int, list[Span]]:
    by_pass: dict[int, list[Span]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            d = json.loads(line)
            by_pass[d["pass"]].append(Span(d["id"], d["name"], d["start"],
                                           d["parent"], d["thread"],
                                           end=d["end"], jobs=d["jobs"]))
    return by_pass


def table(spans: list[Span]) -> list[str]:
    kids: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    rows: dict[str, list[float]] = defaultdict(lambda: [0.0, 0, 0])
    for s in spans:
        r = rows[s.name]
        r[0] += self_time(s, kids[s.span_id])
        r[1] += s.jobs
        r[2] += 1
    drain = sum(s.duration for s in spans if s.name == "replay.drain")
    out = [f"drain wall {drain:.2f} s", "",
           "| span | self s | share of drain | jobs | calls |",
           "|---|---:|---:|---:|---:|"]
    for name, (st, jobs, calls) in sorted(rows.items(), key=lambda kv: -kv[1][0]):
        share = f"{st / drain:.1%}" if drain and _under(name, spans) else ""
        out.append(f"| {name} | {st:.3f} | {share} | {jobs} | {calls} |")
    return out


def _under(name: str, spans: list[Span]) -> bool:
    """True when spans of `name` run inside the drain."""
    by_id = {s.span_id: s for s in spans}
    s = next(x for x in spans if x.name == name)
    while s is not None:
        if s.name == "replay.drain":
            return True
        s = by_id.get(s.parent)
    return False


if __name__ == "__main__":
    for i, spans in sorted(load(sys.argv[1]).items()):
        print(f"traced pass {i}")
        print("\n".join(table(spans)))
        print()
