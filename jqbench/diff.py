"""Compare benchmark outputs layer by layer.

    python3 jqbench/diff.py --old A1.json [A2.json ...] --new B1.json [B2.json ...]

Each file is a run record written by ``jqbench/run.py`` (under
``.jqbench_work/out/``).  Several files per side (runs on other seeds)
are summarised by their median.  A metric that did not apply to a run
is absent from its record, and is compared only where both sides have
it.  For every metric, and for the
self time of every traced span, one row gives both medians, the change
relative to the old side, whether that is better or worse by the
direction in ``BENCHMARK.json``, and whether it exceeds the old side's
own spread (the distance between its quartiles).  Rows are sorted by
the size of the change, so the layer that moved comes first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict:
    """{metric: value} from a run record."""
    with open(path) as f:
        rec = json.load(f)
    out = {k: v for k, v in rec["end_to_end"].items() if not k.startswith("_")}
    out.update(rec.get("per_layer", {}))
    out.update(span_self_ms(rec.get("spans", [])))
    return out


def span_self_ms(spans: list) -> dict:
    """Mean self time per span name, in ms: a span's duration minus the
    part of it that its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    total, count = defaultdict(float), defaultdict(int)
    for i, s in enumerate(spans):
        total[s["name"]] += s["end"] - s["start"] - child[i]
        count[s["name"]] += 1
    return {"span.%s.self_ms" % n: total[n] / count[n] * 1e3 for n in total}


def directions() -> dict:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m["better"] for k in ("end_to_end", "per_layer") for m in spec[k]}


def spread(values: list) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def compare(old: list, new: list, better: dict) -> list:
    """Rows (metric, old median, new median, relative change, verdict)."""
    rows = []
    for name in sorted(set().union(*old) & set().union(*new)):
        a = [r[name] for r in old if name in r]
        b = [r[name] for r in new if name in r]
        ma, mb = statistics.median(a), statistics.median(b)
        rel = (mb - ma) / abs(ma) if ma else (0.0 if mb == ma else float("inf"))
        way = better.get(name, "lower" if name.startswith("span.") else None)
        if mb == ma or way is None:
            verdict = "same" if mb == ma else "moved"
        else:
            verdict = "better" if (mb < ma) == (way == "lower") else "worse"
            if abs(mb - ma) <= spread(a):
                verdict += " (within spread)"
        rows.append((name, ma, mb, rel, verdict))
    rows.sort(key=lambda r: -abs(r[3]) if r[3] != float("inf") else float("-inf"))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--old", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    old = [load(p) for p in args.old]
    new = [load(p) for p in args.new]
    print("%-28s %14s %14s %9s  %s" % ("metric", "old", "new", "change", "verdict"))
    for name, a, b, rel, verdict in compare(old, new, directions()):
        print("%-28s %14.4f %14.4f %+8.1f%%  %s" % (name, a, b, 100 * rel, verdict))
    return 0


if __name__ == "__main__":
    sys.exit(main())
