"""Summarise an ab_perfbench.py JSONL file.

    python plans/r20/summarize_ab.py AB.jsonl

For each workload and end-to-end metric: every pair, the wins of the
change (ties count for neither side), each side's median and quartiles,
and the parent's interquartile range. Then, for the traced runs, the
median of each named per-layer metric per side.
"""

import json
import statistics
import sys

TRACED = ["spark.jobs", "spark.tasks", "spark.executor_run_ms", "spark.executor_cpu_ms",
          "graph.hop_ms_p50", "catalog.query_ms_p50", "call_p50_ms", "makespan_s", "setup_s",
          "success_rate"]


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def metric(rec, name):
    return rec["result"]["metrics"][name]["value"]


def main(path):
    recs = [json.loads(l) for l in open(path)]
    bad = [r for r in recs if r["rc"] != 0 or "result" not in r]
    print(f"runs: {len(recs)}, failed runs: {len(bad)}")
    plain = [r for r in recs if r["trace"] == 0 and "result" in r]
    for wl in sorted({r["workload"] for r in plain}):
        rows = [r for r in plain if r["workload"] == wl]
        pairs = sorted({r["pair"] for r in rows})
        print(f"\n## {wl}: {len(pairs)} pairs")
        for name in ("makespan_s", "setup_s", "success_rate"):
            side = {s: {r["pair"]: metric(r, name) for r in rows if r["side"] == s} for s in ("parent", "change")}
            both = [p for p in pairs if p in side["parent"] and p in side["change"]]
            wins = sum(side["change"][p] < side["parent"][p] for p in both) if name != "success_rate" else None
            print(f"{name}:")
            for p in both:
                seed = next(r["seed"] for r in rows if r["pair"] == p)
                first = next(r["first"] for r in rows if r["pair"] == p)
                print(f"  pair {p} seed {seed} first={first}: parent {side['parent'][p]:.3f} change {side['change'][p]:.3f}")
            for s in ("parent", "change"):
                q1, q2, q3 = quartiles([side[s][p] for p in both])
                print(f"  {s}: median {q2:.3f}  Q1 {q1:.3f}  Q3 {q3:.3f}  IQR {q3 - q1:.3f}")
            if wins is not None:
                print(f"  change lower in {wins} of {len(both)} pairs")
        hints = {s: sorted({r["hint_warns"] for r in rows if r["side"] == s}) for s in ("parent", "change")}
        print(f"HintErrorLogger lines per run: {hints}")
    traced = [r for r in recs if r["trace"] == 1 and "result" in r]
    for wl in sorted({r["workload"] for r in traced}):
        print(f"\n## traced {wl} (seed 1)")
        for name in TRACED:
            vals = {s: [metric(r, name) for r in traced if r["workload"] == wl and r["side"] == s
                        and name in r["result"]["metrics"]] for s in ("parent", "change")}
            if vals["parent"]:
                print(f"  {name}: parent {[round(v, 2) for v in vals['parent']]} change {[round(v, 2) for v in vals['change']]}")


if __name__ == "__main__":
    main(sys.argv[1])
