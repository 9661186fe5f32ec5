"""Interleaved parent/change A/B of the repo benchmark (perfbench/run.py).

    python plans/r20/ab_perfbench.py PARENT_DIR CHANGE_DIR OUT.jsonl

PARENT_DIR and CHANGE_DIR are two checkouts (e.g. made with ``git archive``).
Each pair runs both sides on one seed, alternating which side goes first;
rag_lookup gets seeds 21-32 and ingest_analytics seeds 41-50, none of them
used while the change was written. Then both workloads run traced on seed 1
(order parent, change, change, parent). One JSON record per run is appended
to OUT.jsonl: side, workload, seed, pair, the run's last two stdout lines and
how many HintErrorLogger warnings it logged.
"""

import json
import subprocess
import sys
import time


def one(dirs, side, wl, seed, trace):
    t = time.time()
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", wl, "--seed", str(seed),
         "--seconds", "10", "--trace", str(trace)],
        cwd=dirs[side], capture_output=True, text=True, timeout=1200,
    )
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    rec = {"side": side, "workload": wl, "seed": seed, "trace": trace, "rc": p.returncode,
           "wall_s": round(time.time() - t, 1), "hint_warns": p.stderr.count("HintErrorLogger")}
    try:
        rec["run"], rec["result"] = json.loads(lines[-2]), json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def main(parent, change, out_path):
    dirs = {"parent": parent, "change": change}
    plan = [("rag_lookup", s, i) for i, s in enumerate(range(21, 33))]
    plan += [("ingest_analytics", s, i) for i, s in enumerate(range(41, 51))]
    with open(out_path, "a") as out:
        for wl, seed, i in plan:
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                rec = one(dirs, side, wl, seed, 0)
                rec["pair"], rec["first"] = i, order[0]
                out.write(json.dumps(rec) + "\n")
                out.flush()
        for wl in ("rag_lookup", "ingest_analytics"):
            for i, side in enumerate(["parent", "change", "change", "parent"]):
                rec = one(dirs, side, wl, 1, 1)
                rec["pair"] = i // 2
                out.write(json.dumps(rec) + "\n")
                out.flush()


if __name__ == "__main__":
    main(*sys.argv[1:4])
