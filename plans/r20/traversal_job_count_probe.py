"""Distribution of the toy traversal's total job count under AQE.

    cd <checkout> && python plans/r20/traversal_job_count_probe.py N

Repeats, N times in one session, the traversal that
tests/test_library.py::test_traversal_total_job_count_pinned_aqe_on pins
(AVV hierarchy, max_depth=3, shuffle width 16, local[8]) and prints the
job count of each run. The count depends on AQE's stage completion order
unless the final level's anti join is pinned to sort-merge.
"""

import collections
import os
import sys

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
from graph_etl_pipeline_spark.session import get_spark  # noqa: E402

if __name__ == "__main__":
    spark = get_spark(cpus="8")
    from test_library import _avv_graph

    sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    counts = []
    for i in range(int(sys.argv[1])):
        g = _avv_graph(spark)
        roots = spark.createDataFrame([("08", "08")], "uid string, root string")
        sc.setJobGroup(f"probe{i}", "traversal job count")
        g.reachable(roots, rel_types=("HAS_PARENT",), direction="in", max_depth=3).collect()
        counts.append(len(sc.statusTracker().getJobIdsForGroup(f"probe{i}")))
        sc.setJobGroup(None, None)
    print("COUNTS", counts, dict(collections.Counter(counts)))
