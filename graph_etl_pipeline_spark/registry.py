"""Query registry — the single source of truth for the engine's declared
query surface (SURVEY.md §2 operator inventory).

Each operator is registered ONCE with its PySpark implementation and (when
SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs on the same
parquet tables. ``__spark_entry__.py`` re-exports these as ``queries()``
and ``oracle_sql()`` for the driver's correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# Driver-facing order: the correctness driver hard-checks the FIRST
# DRIVER_CAP registered queries, and the window ROTATES across rounds so
# every declared operator earns a hard driver CORRECTNESS row at least
# once (VERDICT r3 #1). Since r10 the window is MECHANIZED (VERDICT r9
# #4): window_policy.derive_window computes it from the machine-written
# CORRECTNESS_r*.json history (never-green first, then changed-since-
# green, then the every-round anchors, then oldest-green refresh), and
# scripts/gen_window.py writes it here as a literal so the runtime never
# parses JSON. tests/test_window_policy.py pins this block to the
# derivation AND proves the derivation reproduces the r9 window, so a
# hand edit that drifts from policy fails CI. Names past the cap stay
# oracle-checked every round by the local parity replica
# (tests/test_oracle_parity.py); all_queries() appends them in
# registration order.
#
# Pre-declared r11 policy (automatic from here on): derive_window over
# CORRECTNESS_r01..r10 with window_policy.CHANGED_SINCE_GREEN reset to
# the implementations edited in r11.
# --- GENERATED WINDOW (scripts/gen_window.py) — do not hand-edit ---
# History rounds this window was derived from; the pin test replays
# the derivation over exactly these rounds, so the driver landing
# CORRECTNESS_r{N+1}.json mid-round cannot invalidate the literal.
CORE_ORDER_THROUGH_ROUND = 18
CORE_ORDER = [
    "join_bucketed_colocated",
    "pipeline_entity_resolution",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_hamming",
    "dedup_cluster_keep",
    "pipeline_minhash_verified_dedup",
    "dedup_shingle_containment",
    "dedup_lsh_recall_contract",
    "dedup_incremental_lsh",
    "dedup_band_bucket_stats",
    "graph_degree_distribution",
    "pipeline_corpus_curation",
    "dedup_embedding_cosine",
    "sim_kmeans_iterate",
    "sim_ann_ivf_trained",
    "dedup_semdedup_clusters",
    "pipeline_semdedup_apply",
    "pipeline_ivf_pq_search",
    "sample_kcenter_coreset",
    "pipeline_crossmodal_dedup",
    "pipeline_incremental_crossmodal",
    "pipeline_crossmodal_retrain",
    "graph_count_by_label",
    "graph_reachability",
    "graph_orphan_antijoin",
    "graph_pattern_match",
    "graph_connected_components",
    "graph_triangle_count",
    "graph_sssp_bounded",
    "graph_copurchase_project",
    "graph_kcore_bounded",
    "graph_label_propagation",
    "graph_jaccard_similarity",
    "graph_connected_components_star",
    "graph_random_walks",
    "graph_assortativity",
    "graph_modularity",
    "graph_harmonic_centrality",
    "graph_closeness_sampled",
    "graph_betweenness_stress_sampled",
    "graph_hyperanf_sketch",
    "graph_neighborhood_function",
    "graph_effective_diameter",
    "graph_clustering_coefficient",
    "sink_partitioned_prune",
    "sink_zorder_write",
    "sink_time_travel_read",
    "sink_compact_small_files",
    "sink_vacuum_retention",
]
# --- END GENERATED WINDOW ---

# Queries the driver must hard-check — one per SURVEY §2 row. The test
# suite asserts each sits within the first DRIVER_CAP registrations.
DRIVER_CAP = 50


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags)
        return fn

    return deco


def _load_all() -> None:
    """Import every query module so registration side effects run."""
    import graph_etl_pipeline_spark.queries  # noqa: F401


def registration_order() -> list[str]:
    """Every registered query name in true registration order (module
    import order × within-module order) — the tier-1 ordering input for
    window_policy.derive_window."""
    _load_all()
    return list(_REGISTRY)


def all_queries() -> dict[str, QuerySpec]:
    """All registered queries in driver-facing order: CORE_ORDER first
    (SURVEY-declared inside the driver's check window), then any
    unlisted additions in registration order."""
    _load_all()
    ordered = {n: _REGISTRY[n] for n in CORE_ORDER if n in _REGISTRY}
    ordered.update({n: s for n, s in _REGISTRY.items() if n not in ordered})
    return ordered


def query_map() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items() if spec.oracle is not None}
