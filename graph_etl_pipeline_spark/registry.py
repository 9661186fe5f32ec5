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
    "pipeline_entity_resolution",
    "dedup_cluster_keep",
    "pipeline_minhash_verified_dedup",
    "pipeline_semdedup_apply",
    "sample_kcenter_coreset",
    "pipeline_crossmodal_dedup",
    "pipeline_incremental_crossmodal",
    "pipeline_crossmodal_retrain",
    "graph_reachability",
    "graph_connected_components",
    "graph_triangle_count",
    "graph_sssp_bounded",
    "graph_copurchase_project",
    "graph_kcore_bounded",
    "graph_jaccard_similarity",
    "graph_connected_components_star",
    "graph_harmonic_centrality",
    "graph_closeness_sampled",
    "graph_betweenness_stress_sampled",
    "graph_clustering_coefficient",
    "join_four_hop_chain",
    "src_csv_scan",
    "sink_upsert_node",
    "sink_merge_prefer_nonempty",
    "flt_blocklist_predicate",
    "fn_regexp_extract_all",
    "join_broadcast_inner",
    "join_left_anti",
    "agg_multi_counter",
    "win_row_number_dedup",
    "stream_incremental_upsert",
    "dq_referential_integrity",
    "embed_matryoshka_prefix",
    "flt_compound_predicate",
    "fn_case_classify",
    "fn_code_parse",
    "fn_dict_normalize",
    "fn_hash_uid",
    "mm_frame_sample",
    "pipeline_filter_funnel",
    "sample_class_balance",
    "set_intersect_except",
    "src_csv_quarantine",
    "src_varint_records_scan",
    "text_pack_tokenized",
    "win_attribution_multitouch",
    "win_cusum_alarm",
    "agg_approx_distinct",
    "agg_approx_quantiles",
    "agg_cube",
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
