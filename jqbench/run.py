"""jq-engine benchmark.

    python3 jqbench/run.py --workload etl_dirty --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Generates the workload's corpus from
``--seed``, sets up Spark, runs the workload's closed loop for
``--seconds`` and checks every result against the generator's
expectations.  It prints one line per metric (name, value, unit) and,
last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (and the tracing overhead).  The full record, spans
included, is written to ``.jqbench_work/out/``; ``jqbench/diff.py``
compares two of them layer by layer.  Workloads and metrics are
described in ``jqbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Extra end-to-end figures printed for a reader; BENCHMARK.json names the
# ones a run reports in its JSON line.
REPORTED = {"query_p50_s": "s", "query_tail_s": "s"}


def metric_units() -> tuple:
    """(end_to_end, per_layer) as {name: unit}, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The engine is imported from this checkout, never from elsewhere.
    if not os.path.isfile(os.path.join(ROOT, "hive_jq_udtf_spark", "udtf.py")):
        print("jqbench: no hive_jq_udtf_spark package beside jqbench/ in %s" % ROOT,
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from jqbench.harness import WORK, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print("jqbench: unknown workload %r (one of %s)" % (args.workload, ", ".join(WORKLOADS)),
              file=sys.stderr)
        return 2

    end_to_end, per_layer = metric_units()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    out = run.run()
    e2e = out["end_to_end"]
    failed_frac = out["failed"] / out["attempted"]
    for f in out["failures"]:
        print("FAILED", f)
    print("workload %s  seed %d  ops %d" % (args.workload, args.seed, len(out["latencies"])))
    for name, unit in {**end_to_end, **REPORTED}.items():
        note = "  (%s)" % e2e["_tail_label"] if name == "query_tail_s" else ""
        print("%-24s %14.4f %s%s" % (name, e2e[name], unit, note))
    print("%-24s %14.4f %s" % ("failed_frac", failed_frac, "ratio"))
    if args.trace:
        values = out["per_layer"]
        for name, unit in per_layer.items():
            if values[name] is None:
                print("%-24s %14s %s  (no query of its kind ran)" % (name, "n/a", unit))
            else:
                print("%-24s %14.4f %s" % (name, values[name], unit))
        # a metric that does not apply is left out of the record and the result
        out["per_layer"] = {k: v for k, v in values.items() if v is not None}
        names = {k: u for k, u in per_layer.items() if k in out["per_layer"]}
        values = out["per_layer"]
    else:
        names, values = end_to_end, e2e

    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    path = os.path.join(WORK, "out", "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace))
    out.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
    with open(path, "w") as f:
        json.dump(out, f)

    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
