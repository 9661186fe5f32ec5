"""One arm of the graph_reachability A/B.

Runs the registered query from the engine tree TREE at local[4]: one warm
collect, then three timed writes to the noop sink, each under its own job
group. Prints one ``ABRESULT {json}`` line with the best wall time, the
job / executed-stage / completed-task counts of that run, and a digest of
the collected rows. ARM ``uncached`` swaps in the rejected variant of
``PropertyGraph.reachable`` (a plain lazy frontier chain with no
checkpoint); any other ARM runs the tree as it is. With a fourth argument
the final AQE plan of one more collect is written to that file.

Usage: python ab_reachability.py TREE ARM SF_DIR [PLAN_OUT]
Run one arm per process and interleave the trees, alternating order.
"""

import hashlib
import json
import os
import sys
import time

tree, arm, sf = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, tree)
os.chdir(tree)

from graph_etl_pipeline_spark.graph import model  # noqa: E402
from graph_etl_pipeline_spark.registry import all_queries  # noqa: E402
from graph_etl_pipeline_spark.session import get_spark  # noqa: E402

spark = get_spark(cpus="4")
spark.sparkContext.setLogLevel("ERROR")

if arm == "uncached":

    def reachable(self, roots, rel_types=None, direction="out", max_depth=3):
        e = self.edges
        if rel_types:
            e = e.filter(e.rel_type.isin(*rel_types))
        visited = frontier = roots
        for _ in range(max_depth):
            nxt = self.hop_edges(frontier, e, direction).join(
                visited, ["uid", "root"], "left_anti"
            )
            visited = visited.unionByName(nxt)
            frontier = nxt
        return visited

    model.PropertyGraph.reachable = reachable

fn = all_queries()["graph_reachability"].fn
sc = spark.sparkContext
st = sc.statusTracker()


def counters(group):
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        for s in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
    return len(jobs), stages, tasks


warm = fn(spark, sf).collect()
runs = []
for i in range(3):
    group = f"ab{i}"
    sc.setJobGroup(group, "graph_reachability A/B")
    t0 = time.perf_counter()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    sc.setJobGroup(None, None)
    runs.append((wall, *counters(group)))
best = min(runs)
out = {
    "arm": arm,
    "wall": round(best[0], 3),
    "walls": [round(r[0], 3) for r in runs],
    "jobs": best[1],
    "stages": best[2],
    "tasks": best[3],
    "digest": hashlib.md5(repr(sorted(tuple(r) for r in warm)).encode()).hexdigest()[:12],
}
if len(sys.argv) > 4:
    df = fn(spark, sf)
    df.collect()
    with open(sys.argv[4], "w") as f:
        f.write(df._jdf.queryExecution().executedPlan().toString())
print("ABRESULT " + json.dumps(out), flush=True)
