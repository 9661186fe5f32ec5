"""Where a Python task's set-up time goes, measured inside the worker.

    cd <checkout> && python plans/r20/worker_phase_probe.py

Starts the engine's session at local[4], then in a reused worker times
``invalidate_caches()`` of every importer in ``sys.path_importer_cache``
(grouped by archive; directory finders as ``FileFinder``) and one full
``importlib.invalidate_caches()`` -- the call PySpark's
``worker_util.setup_spark_files`` makes before every task. Also times
one-partition RDD jobs and a small ``createDataFrame(...).collect()``
from the driver (median of 15 after two warm-ups).
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())
from graph_etl_pipeline_spark.session import get_spark  # noqa: E402


def phases(_):
    import collections
    import importlib
    import sys
    import time

    per = collections.defaultdict(lambda: [0, 0.0])
    for imp in list(sys.path_importer_cache.values()):
        if imp is None or not hasattr(imp, "invalidate_caches"):
            continue
        t = time.perf_counter()
        imp.invalidate_caches()
        key = getattr(imp, "archive", type(imp).__name__)
        per[key][0] += 1
        per[key][1] += (time.perf_counter() - t) * 1000
    t = time.perf_counter()
    importlib.invalidate_caches()
    total = (time.perf_counter() - t) * 1000
    return round(total, 2), {k: (n, round(ms, 2)) for k, (n, ms) in per.items()}


def median_ms(job):
    job()
    job()
    ts = []
    for _ in range(15):
        t = time.perf_counter()
        job()
        ts.append((time.perf_counter() - t) * 1000)
    return round(statistics.median(ts), 1)


if __name__ == "__main__":
    spark = get_spark(cpus=4)
    sc = spark.sparkContext
    sc.parallelize([1], 1).map(lambda x: x).collect()
    total, per = sc.parallelize([1], 1).map(phases).collect()[0]
    print("invalidate_caches_ms", total)
    for archive, (n, ms) in sorted(per.items()):
        print(f"  {os.path.basename(archive)}: {n} importers, {ms} ms")
    print("rdd_task_ms", median_ms(lambda: sc.parallelize([1], 1).map(lambda x: x).collect()))
    print("create_dataframe_ms", median_ms(
        lambda: spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").collect()))
