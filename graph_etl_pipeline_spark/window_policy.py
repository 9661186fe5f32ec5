"""Driver-window policy, mechanized (VERDICT r9 #4).

The correctness driver hard-checks the FIRST ``DRIVER_CAP`` registered
queries each round. Through r9 the 50-slot window was three hand-kept
lists (``CORE_ORDER`` / ``ROTATED_OUT`` / ``R9_PROMOTED``) plus a 45-line
policy comment — the exact class of bookkeeping that caused the r7
rotation mistake. This module replaces the hand bookkeeping with a
DERIVATION over the machine-written history (``CORRECTNESS_r*.json``):

    tier 1  never-green   — registered queries with no all-true driver row
                            in any round, in registration order (new
                            operators and still-red rows lead);
    tier 2  changed        — queries whose implementation changed since
                            their last green row (declared per round in
                            ``CHANGED_SINCE_GREEN`` — code edits are the
                            one input a JSON scan cannot see);
    tier 3  anchors        — the every-round flagship + §2/streaming
                            anchors (fixed contract list);
    tier 4  refresh        — everything else, oldest last-green round
                            first, ties broken by name (ascending).

The derivation reproduces the r9 window exactly (tested in
``tests/test_window_policy.py`` against the literal CORRECTNESS files)
and generates the r10 one. ``registry.CORE_ORDER`` stays a literal list
so the runtime path never depends on JSON parsing — it is a GENERATED
artifact (``scripts/gen_window.py``) and a unit test pins it to this
derivation, so a hand edit that drifts from policy fails CI.

Pre-declaration (the rotation promise): the window for round N+1 is
``derive_window`` over CORRECTNESS_r01..r0N with ``CHANGED_SINCE_GREEN``
reset to the implementations edited in round N+1. No further declaration
is needed — the policy IS the artifact.
"""

from __future__ import annotations

import glob
import json
import os
import re

# The every-round driver slots: flagship first, then the §2/streaming
# anchors that have held a window seat every round since r1. This is a
# stable contract list (one per core §2 family), not rotation state.
ANCHORS = (
    "join_four_hop_chain",  # flagship — every round
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
)

# Implementations edited since their last green CORRECTNESS row — they
# must re-earn one (tier 2). Reset each round to that round's edits. Current
# set: the 14 queries edited in r18, none of which reached
# CORRECTNESS_r18, plus every query that reaches a graph iteration loop
# whose knobs were removed since (reachable, hash-min and
# star-contraction CC, bellman_ford, kcore_peel), plus every query built
# on graph.build.star_graph, whose region/nation reads changed since,
# plus every query that reaches io.memo, io.scratch_dir or
# io.materialize, whose cache keys now carry the input stamp (found by
# tracing all registered queries at sf0.01).
CHANGED_SINCE_GREEN: frozenset[str] = frozenset({
    # r18
    "sample_kcenter_coreset",
    "graph_jaccard_similarity",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_copurchase_project",
    "graph_harmonic_centrality",
    "graph_closeness_sampled",
    "graph_betweenness_stress_sampled",
    "graph_reachability",
    "graph_connected_components_star",
    "pipeline_semdedup_apply",
    "pipeline_crossmodal_dedup",
    "pipeline_incremental_crossmodal",
    "pipeline_crossmodal_retrain",
    # iteration-knob removal
    "graph_connected_components",
    "graph_sssp_bounded",
    "graph_kcore_bounded",
    "dedup_cluster_keep",
    "pipeline_minhash_verified_dedup",
    "pipeline_entity_resolution",
    # every star_graph caller: region/nation are now read unhinted
    "graph_count_by_label",
    "graph_orphan_antijoin",
    "graph_pattern_match",
    "graph_degree_distribution",
    # cache keys behind io.py (input stamp)
    "dedup_band_bucket_stats",
    "dedup_embedding_cosine",
    "dedup_incremental_lsh",
    "dedup_lsh_recall_contract",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_semdedup_clusters",
    "dedup_shingle_containment",
    "dedup_simhash_hamming",
    "graph_assortativity",
    "graph_effective_diameter",
    "graph_hyperanf_sketch",
    "graph_label_propagation",
    "graph_modularity",
    "graph_neighborhood_function",
    "graph_random_walks",
    "join_bucketed_colocated",
    "pipeline_corpus_curation",
    "pipeline_ivf_pq_search",
    "sim_ann_ivf_trained",
    "sim_kmeans_iterate",
    "sink_compact_small_files",
    "sink_dynamic_partition_overwrite",
    "sink_manifest_atomic_swap",
    "sink_partitioned_prune",
    "sink_schema_evolution_merge",
    "sink_time_travel_read",
    "sink_vacuum_retention",
    "sink_zorder_write",
    "src_csv_quarantine",
    "src_csv_scan",
    "src_fixed_width_scan",
    "src_multiline_log_scan",
    "src_orc_scan",
    "src_varint_records_scan",
    "src_xlsx_scan",
    "stream_countmin_topk",
    "stream_dedup_keys",
    "stream_dedup_within_watermark",
    "stream_full_join_timeout",
    "stream_incremental_upsert",
    "stream_ingest_decontaminate",
    "stream_interval_join",
    "stream_left_join_timeout",
    "stream_partitioned_sink_merge",
    "stream_session_bucketed_state",
    "stream_session_window",
    "stream_sketch_register_merge",
    "stream_sliding_hourly",
    "stream_stateful_running",
    "stream_stateful_session_timeout",
    "stream_tumbling_hourly",
    "stream_watermark_late",
})

# One registry entry per SURVEY §2 row (the coverage contract). Every
# name here must be IN the current window or carry a green driver row in
# history — i.e. a §2 row may rotate out only after it has been proven.
SURVEY_DECLARED = frozenset({
    "src_csv_scan", "src_json_flatten", "sink_upsert_node", "sink_upsert_edge",
    "sink_merge_prefer_nonempty", "graph_count_by_label",
    "proj_select_alias", "flt_compound_predicate", "flt_blocklist_predicate",
    "fn_hash_uid", "fn_dict_normalize", "fn_regexp_extract_all",
    "fn_timestamps", "fn_code_parse", "fn_case_classify",
    "dedup_exact", "dedup_merge_most_complete", "dedup_docs_exact",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embedding_cosine",
    "sim_cosine_topk",
    "join_broadcast_inner", "join_left_anti", "join_left_semi",
    "join_two_hop", "join_four_hop_chain", "graph_reachability",
    "join_consistency_antijoin",
    "agg_count_by_label", "agg_global_count", "agg_group_topn", "agg_topk",
    "agg_multi_counter", "agg_collect_set",
    "set_union",
    "sort_limit", "mm_image_decode", "win_row_number_dedup",
    "win_lag_running_sum",
    "explode_split_targets", "arr_contains_lookup",
    "win_tumbling_hourly", "win_session_batch",
    "text_lang_id", "text_quality_score", "text_token_count",
    "text_fingerprint", "mm_binary_features", "mm_metadata_struct",
    "pipeline_corpus_curation",
})


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def latest_round(root: str | None = None) -> int:
    """Highest round number among CORRECTNESS_r*.json files (0 if none).
    gen_window.py stamps this next to the generated CORE_ORDER so the
    pin test can replay the derivation over EXACTLY the history the
    generator saw — the driver dropping CORRECTNESS_r{N+1}.json mid-round
    must not retroactively invalidate the committed window (the r10
    structural red, VERDICT r10 #1)."""
    root = root or repo_root()
    rounds = [
        int(m.group(1))
        for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if (m := re.search(r"r(\d+)\.json$", path))
    ]
    return max(rounds, default=0)


def load_history(root: str | None = None, through_round: int | None = None) -> dict[str, int]:
    """name -> latest round with an all-true driver row (rows+schema+hash).

    Names that were checked but NEVER green map to 0, so they sort into
    tier 1 alongside never-checked registrations — a red row is not
    proof."""
    root = root or repo_root()
    hist: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if through_round is not None and rnd > through_round:
            continue
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            ok = bool(
                row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
            )
            if ok:
                hist[name] = max(hist.get(name, 0), rnd)
            else:
                hist.setdefault(name, 0)
    return hist


def derive_window(
    registered: list[str],
    history: dict[str, int],
    changed: frozenset[str] | set[str] = frozenset(),
    anchors: tuple[str, ...] = ANCHORS,
    cap: int = 50,
) -> list[str]:
    """The four-tier window derivation (module docstring)."""
    taken: set[str] = set()
    window: list[str] = []

    def take(name: str) -> None:
        if name not in taken:
            taken.add(name)
            window.append(name)

    for name in registered:  # tier 1: never green, registration order
        if history.get(name, 0) == 0:
            take(name)
    for name in registered:  # tier 2: changed since last green
        if name in changed:
            take(name)
    for name in anchors:  # tier 3: every-round anchors
        take(name)
    rest = sorted(
        (n for n in registered if n not in taken),
        key=lambda n: (history.get(n, 0), n),
    )
    for name in rest:  # tier 4: oldest-green refresh
        take(name)
    return window[:cap]


def rotated_out(registered: list[str], window: list[str], history: dict[str, int]) -> set[str]:
    """SURVEY-declared rows legitimately outside the window: each must
    already hold a green driver row (asserted by test_library)."""
    in_window = set(window)
    return {n for n in SURVEY_DECLARED if n in registered and n not in in_window and history.get(n, 0) > 0}
