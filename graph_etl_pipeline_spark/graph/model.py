"""Labeled property graph over DataFrames (SURVEY.md §1.5).

The reference's data model is a Neo4j property graph (schema.cql:17-142).
The engine represents it as the GraphX/GraphFrames vertex-edge
decomposition: ``vertices(uid, label, name, ...)`` and
``edges(src_uid, dst_uid, rel_type, ...)`` DataFrames. Cypher MATCH
patterns become self-joins over the edges table; variable-length paths
become a bounded iterative frontier loop (Pregel analogue in DataFrames,
no custom Catalyst rules).

Scale notes: the edges table is the single large fact — partition/bucket
it by src_uid (and keep a dst-sorted copy for reverse traversal at real
scale); per-hop joins then co-locate. Frontiers stay (uid, root) pairs —
never collected to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PropertyGraph:
    vertices: DataFrame  # uid, label, name, ...
    edges: DataFrame  # src_uid, dst_uid, rel_type, ...

    def label_counts(self) -> DataFrame:
        """Per-label node counts (reference: src/db/neo4j_db.py:129-143)."""
        return self.vertices.groupBy("label").agg(F.count(F.lit(1)).alias("n"))

    def edge_type_counts(self) -> DataFrame:
        """Per-type relationship counts (reference: src/db/neo4j_db.py:142-148)."""
        return self.edges.groupBy("rel_type").agg(F.count(F.lit(1)).alias("n"))

    def hop(
        self,
        frontier: DataFrame,
        rel_types: tuple[str, ...] | None = None,
        direction: str = "out",
    ) -> DataFrame:
        """One traversal step: frontier(uid, root) → neighbors(uid, root).

        `direction='out'` follows src→dst; `'in'` follows dst→src (the
        reversed patterns in reference etl_implementation.md:253-257)."""
        e = self.edges
        if rel_types:
            e = e.filter(e.rel_type.isin(*rel_types))
        return self.hop_edges(frontier, e, direction)

    @staticmethod
    def hop_edges(frontier: DataFrame, e: DataFrame, direction: str = "out") -> DataFrame:
        """`hop` over a pre-resolved (already type-filtered, possibly
        checkpointed) edge frame, so iterative callers resolve the edge
        set once instead of once per level. Columns are alias-qualified:
        a checkpointed frame keeps its parent's attribute ids, so bare
        references can be ambiguous when one frame reaches both sides of
        a join. Lazy: no action runs here."""
        here, there = ("src_uid", "dst_uid") if direction == "out" else ("dst_uid", "src_uid")
        f, ee = frontier.alias("__hop_f"), e.alias("__hop_e")
        return (
            f.join(ee, F.col("__hop_f.uid") == F.col(f"__hop_e.{here}"))
            .select(
                F.col(f"__hop_e.{there}").alias("uid"),
                F.col("__hop_f.root").alias("root"),
            )
            .distinct()
        )

    def reachable(
        self,
        roots: DataFrame,
        rel_types: tuple[str, ...] | None = None,
        direction: str = "out",
        max_depth: int = 3,
    ) -> DataFrame:
        """Bounded variable-length traversal (J6: reference schema.cql:122
        AVV HAS_PARENT chains, Schema_Doku.pdf §6 NEXT_CHECK chains).

        roots: (uid, root) seed pairs. Returns every (uid, root) reached
        within max_depth hops, roots included.

        Invariants:
        * Lazy: no action is called here. With AQE off the caller's one
          consumption job computes every level; with AQE on, building
          each lazy checkpoint runs the shuffle stages beneath it. A
          frontier that empties early makes the deeper levels
          empty-input stages, not probe jobs.
        * Lineage is cut at every level: the type-filtered edge set and
          each non-final frontier are ``localCheckpoint(eager=False)``
          leaves, so plan size is O(1) per level at any depth. The first
          job that computes a level caches its blocks; the next hop and
          the closing union read them.
        * No cache state outlives the returned frame: the checkpointed
          blocks are freed by the ContextCleaner once the caller drops
          it (the session sets ``spark.cleaner.periodicGC.interval``)."""
        e = self.edges
        if rel_types:
            e = e.filter(e.rel_type.isin(*rel_types))
        e = e.localCheckpoint(eager=False)
        visited = frontier = roots
        for level in range(max_depth):
            nxt = self.hop_edges(frontier, e, direction).join(
                visited, ["uid", "root"], "left_anti"
            )
            if level < max_depth - 1:
                # the final frontier is read once, by the union below
                nxt = nxt.localCheckpoint(eager=False)
            visited = visited.unionByName(nxt)
            frontier = nxt
        return visited

    def connected_components(self, max_iter: int = 20) -> DataFrame:
        """Connected components by hash-min propagation. Returns
        (uid, component), component = the lexicographically smallest uid
        in the vertex's component; isolated vertices keep their own uid.

        Invariants:
        * Each round is one join plus one min-aggregation over the
          undirected edge set, followed by a change probe; the loop
          exits at the first round that changes no label, so it runs
          component-diameter rounds, not max_iter.
        * Lineage is cut at every round: the undirected edge view is
          pinned once (so the caller's edge derivation never re-runs per
          round) and every round's labels are eagerly checkpointed.
        * A budget that runs out raises: labels after an exhausted
          budget are intermediate values, not components.

        Round count is the component diameter; for graphs that may hold
        long chains use ``star_contraction_components`` (O(log² n)
        rounds, same output contract)."""
        und = self.edges.select("src_uid", "dst_uid").unionByName(
            self.edges.select(
                F.col("dst_uid").alias("src_uid"), F.col("src_uid").alias("dst_uid")
            )
        ).localCheckpoint(eager=True)
        comp = self.vertices.select("uid", F.col("uid").alias("component"))
        for _ in range(max_iter):
            nbr = und.join(comp, und.src_uid == comp.uid).select(
                F.col("dst_uid").alias("uid"), "component"
            )
            cand = (
                comp.unionByName(nbr)
                .groupBy("uid")
                .agg(F.min("component").alias("component"))
                .localCheckpoint(eager=True)
            )
            changed = (
                cand.join(comp.withColumnRenamed("component", "prev"), "uid")
                .filter(F.col("component") != F.col("prev"))
            )
            comp = cand
            if changed.isEmpty():
                return comp
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds the budget); raise max_iter or "
            "use star_contraction_components for long-chain graphs"
        )

    def match(self, src_label: str, rel_type: str, dst_label: str) -> DataFrame:
        """Tiny pattern API (SURVEY §4.2): the engine's ergonomic analogue
        of Cypher `MATCH (:Src)-[:REL]->(:Dst)` — a 3-way join returning
        (src_uid, src_name, rel_type, dst_uid, dst_name). Dimension-sized
        vertex sides broadcast automatically under AQE."""
        e = self.edges.filter(self.edges.rel_type == rel_type)
        src = self.vertices.filter(self.vertices.label == src_label).select(
            F.col("uid").alias("src_uid"), F.col("name").alias("src_name")
        )
        dst = self.vertices.filter(self.vertices.label == dst_label).select(
            F.col("uid").alias("dst_uid"), F.col("name").alias("dst_name")
        )
        return (
            e.join(src, "src_uid")
            .join(dst, "dst_uid")
            .select("src_uid", "src_name", "rel_type", "dst_uid", "dst_name")
        )

    def orphans(self, label: str, rel_types: tuple[str, ...], direction: str = "in") -> DataFrame:
        """Nodes of `label` missing a required incident edge (reference:
        etl_implementation.md:238 — WasteItems with no DISPOSED_IN |
        DISPOSED_AT edge). Anti-join against the relevant edge endpoint."""
        e = self.edges.filter(self.edges.rel_type.isin(*rel_types))
        endpoint = "dst_uid" if direction == "in" else "src_uid"
        return self.vertices.filter(self.vertices.label == label).join(
            e, self.vertices.uid == e[endpoint], "left_anti"
        )


def star_contraction_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 30,
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., 'Connected Components in MapReduce and
    Beyond', SoCC'14), the long-chain alternative to hash-min. Returns
    ``(labels, rounds)``: the (uid, component) DataFrame under the same
    contract as PropertyGraph.connected_components (component =
    lexicographically smallest uid; isolated vertices keep their own
    uid), and the number of alternation rounds to the fixed point.

    Each round over the current undirected neighbor view Γ:
      * large-star: every node u links its LARGER neighbors to
        m(u) = min(Γ(u) ∪ {u}) — long chains halve;
      * small-star: every node u links its smaller-or-equal neighbors
        and itself to m(u) — stars flatten onto their roots.
    The edge set reaches a fixed point of directed star edges
    (v → component root) in O(log² n) rounds worst-case (~log n in
    practice), vs O(diameter) for hash-min: a 10k-node path needs ~12
    rounds here and 10k there; the crossmodal pair graph at sf0.1 needs 6.
    Every step is joins/aggregations and nothing is collected. The
    input edge set is pinned once and every round's edge set is a lazy
    checkpoint, so lineage is cut at every round. A budget that runs out
    raises."""
    # Orientation invariant: every STORED edge is strictly (larger,
    # smaller). The input is normalized once here; each round's outputs
    # re-establish it by construction — large-star emits (v, m(u)) with
    # v > u ≥ m, small-star emits (v, m(u)) with v ∈ Γ(u) ⇒ m ≤ v (plus
    # (u, m(u)), m ≤ u), both ≠-filtered to strict. The undirected view
    # is then a plain union of two DISJOINT orientations and needs no
    # distinct. The input is pinned so that round 1 does not re-execute
    # the caller's edge derivation once per consumer of `cur`.
    pair = (
        edges.select(
            F.greatest("src_uid", "dst_uid").alias("u"),
            F.least("src_uid", "dst_uid").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _und(e: DataFrame) -> DataFrame:
        # no distinct: `e` is oriented u>v, so the mirror contributes only
        # u<v rows and the halves are disjoint. `e` itself may repeat rows
        # (`large` is not deduplicated), so every consumer of the union
        # must be duplicate-insensitive: min aggregations, and star joins
        # whose output reaches only the duplicate-folding probe below.
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _mins(und: DataFrame) -> DataFrame:
        return und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    cur = pair
    for rounds in range(1, max_iter + 1):
        und = _und(cur)
        mins = _mins(und)
        # No per-phase distinct: duplicates cannot change a min, both
        # phases stay strictly oriented, and the round's one (u, v)
        # exchange (the probe below) dedups the small-star output.
        large = (
            und.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        und2 = _und(large)
        mins2 = _mins(und2)
        small_raw = (
            und2.filter(F.col("v") <= F.col("u"))
            .join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        # Fixed-point test and small-star dedup fused into one (u, v)
        # aggregation: per edge, track presence on each side; the sets
        # are equal exactly when no edge is one-sided. max() presence
        # flags are duplicate-insensitive. The checkpoint is lazy: the
        # probe is the round's first action and materializes it.
        agg = (
            small_raw.select("u", "v", F.lit(1).alias("_s"), F.lit(0).alias("_c"))
            .unionByName(
                cur.select("u", "v", F.lit(0).alias("_s"), F.lit(1).alias("_c"))
            )
            .groupBy("u", "v")
            .agg(F.max("_s").alias("_s"), F.max("_c").alias("_c"))
            .localCheckpoint(eager=False)
        )
        stable = agg.filter(F.col("_s") != F.col("_c")).isEmpty()
        cur = agg.filter(F.col("_s") == 1).select("u", "v")
        if stable:
            break
    else:
        raise RuntimeError(
            f"star_contraction_components did not reach a fixed point within "
            f"max_iter={max_iter} rounds (O(log^2 n) expected; this graph "
            "would need a larger budget)"
        )
    # fixed point: every edge is (member -> component root)
    roots = cur.groupBy("u").agg(F.min("v").alias("component"))
    return (
        vertices.select("uid")
        .join(roots, vertices.uid == roots.u, "left")
        .select("uid", F.coalesce("component", "uid").alias("component")),
        rounds,
    )
