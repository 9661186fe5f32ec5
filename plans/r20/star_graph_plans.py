"""Physical plans of a rag_lookup hop and of graph_reachability.

    cd <checkout> && python plans/r20/star_graph_plans.py SF_DIR OUT.txt

Writes both plans with expression ids, plan ids and scan locations
normalised away, so the files of two checkouts can be compared with diff,
and prints both answers. Spark's HintErrorLogger warnings go to stderr.
"""

import os
import re
import sys

sys.path.insert(0, os.getcwd())
from graph_etl_pipeline_spark.graph.build import star_graph  # noqa: E402
from graph_etl_pipeline_spark.registry import all_queries  # noqa: E402
from graph_etl_pipeline_spark.session import get_spark  # noqa: E402


def physical(spark, df):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended")
    text = df._jdf.queryExecution().explainString(mode).split("== Physical Plan ==")[1]
    text = re.sub(r"Location: InMemoryFileIndex\(1 paths\)\[file:.*/", "Location: <sf_dir>/", text)
    text = re.sub(r"Scan ExistingRDD\[[^\]]*\]|\[id=#\d+\]|plan_id=\d+", "", text)
    return re.sub(r"#\d+L?", "#", text)


if __name__ == "__main__":
    sf_dir, out = sys.argv[1], sys.argv[2]
    spark = get_spark(cpus=4)
    g = star_graph(spark, sf_dir)
    frontier = spark.createDataFrame([("C7", "C7")], "uid string, root string")
    hop = g.hop(frontier, direction="in")
    reach = all_queries()["graph_reachability"].fn(spark, sf_dir)
    with open(out, "w") as f:
        f.write("== hop ==\n" + physical(spark, hop))
        f.write("\n== graph_reachability ==\n" + physical(spark, reach))
    print(sorted(hop.collect()), sorted(reach.collect()))
