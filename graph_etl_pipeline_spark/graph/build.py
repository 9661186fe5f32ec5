"""Construct the property graph from the star-schema test tables.

The driver's TPC-H-ish tables stand in for the reference's ontology
(FIXTURES.md §B3): region←nation←customer mirrors the reference's
Building⊃Room⊃Container / stream←item containment chains; orders→customer
mirrors DISPOSED_AT edges. uid convention: '<LabelInitial><key>' — compact,
deterministic, join-stable (reference uses sha256-truncated uids,
src/etl/waste_items.py:61-63; here keys are already unique integers so
prefixing is enough and keeps oracle SQL simple)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.graph.model import PropertyGraph
from graph_etl_pipeline_spark.io import table


def _uid(prefix: str, col) -> F.Column:
    return F.concat(F.lit(prefix), col.cast("string"))


def star_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    # io.table hints region and nation for broadcast. In these unions the
    # hint is not part of a join: Spark drops it and logs a HintErrorLogger
    # warning for every plan built over the graph, so read them unhinted.
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")

    vertices = (
        r.select(_uid("R", r.r_regionkey).alias("uid"), F.lit("Region").alias("label"), r.r_name.alias("name"))
        .unionByName(n.select(_uid("N", n.n_nationkey).alias("uid"), F.lit("Nation").alias("label"), n.n_name.alias("name")))
        .unionByName(c.select(_uid("C", c.c_custkey).alias("uid"), F.lit("Customer").alias("label"), c.c_name.alias("name")))
        .unionByName(s.select(_uid("S", s.s_suppkey).alias("uid"), F.lit("Supplier").alias("label"), s.s_name.alias("name")))
        .unionByName(o.select(_uid("O", o.o_orderkey).alias("uid"), F.lit("Order").alias("label"), o.o_orderkey.cast("string").alias("name")))
    )
    edges = (
        n.select(_uid("N", n.n_nationkey).alias("src_uid"), _uid("R", n.n_regionkey).alias("dst_uid"), F.lit("IN_REGION").alias("rel_type"))
        .unionByName(c.select(_uid("C", c.c_custkey).alias("src_uid"), _uid("N", c.c_nationkey).alias("dst_uid"), F.lit("IN_NATION").alias("rel_type")))
        .unionByName(s.select(_uid("S", s.s_suppkey).alias("src_uid"), _uid("N", s.s_nationkey).alias("dst_uid"), F.lit("SUPP_NATION").alias("rel_type")))
        .unionByName(o.select(_uid("O", o.o_orderkey).alias("src_uid"), _uid("C", o.o_custkey).alias("dst_uid"), F.lit("PLACED_BY").alias("rel_type")))
    )
    return PropertyGraph(vertices=vertices, edges=edges)
