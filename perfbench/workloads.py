"""The two workloads: which engine calls make up one pass, and how each
call is timed, traced and checked.

Every call is timed from outside with ``time.perf_counter``. A registered
operator is built with ``spec.fn`` (span ``queries.<module>.build``) and
executed into the noop sink (span ``queries.<module>.exec``). In the
untimed check pass the same operator is collected instead and compared
with its DuckDB oracle.

A timed pass only makes the calls and keeps what they return;
``verify_pass``, called after the pass's timer has stopped, checks the
answers and removes the pass's files.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from oracle import multiset

# Registered operators in the batch pass: at least one per query module,
# so every module's build and execute time is measured; README.md says
# why the list is not longer.
OPS = (
    "sink_upsert_node", "cdc_apply_changefeed", "stream_stateful_running",
    "join_four_hop_chain", "agg_multi_counter", "win_lag_running_sum", "dedup_ngram_jaccard",
    "sim_cosine_topk", "text_fingerprint", "mm_binary_features",
    "graph_connected_components", "graph_degree_distribution",
)
QUERY_MODULES = (
    "joins", "aggregates", "windows", "dedup", "similarity", "textops", "multimodal",
    "graph_queries", "composite", "sinks", "cdc", "streaming_queries",
)
ETL_STEPS = ("etl.import_facilities", "etl.import_waste_items", "sinks.upsert", "graph.storage.write_graph")

LOOKUP_SQL = "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders WHERE o_custkey = :ck"
LOOKUP_ORACLE = "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders WHERE o_custkey = ?"
HOP_ORACLE = "SELECT 'O' || CAST(o_orderkey AS VARCHAR) FROM orders WHERE o_custkey = ?"
RAG_BATCH = 24  # requests per timed pass
RAG_CHECK = 4  # warm-up requests before the timed ones


class Errors:
    """Ops attempted and ops that raised or returned a wrong result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, name: str, fn, attempt: bool = True) -> object:
        """Run ``fn``; an exception or a non-empty problem list counts as
        one failure and the run carries on. Returns fn's result or None.
        ``attempt=False`` is a deferred check of a call already counted."""
        if attempt:
            self.attempted += 1
        try:
            problems = fn()
        except Exception:
            self.failed += 1
            self.messages.append(f"{name}: {traceback.format_exc(limit=3)[-600:]}")
            return None
        if problems:
            self.failed += 1
            self.messages.append(f"{name}: {problems}")
        return problems

    @property
    def rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class IngestAnalytics:
    """The batch side: the paper's ETL on generated messy inputs (import,
    overlapping delta upsert, graph writes), then the registered
    operators, each once per pass in a seeded order."""

    def __init__(self, ctx):
        self.ctx = ctx

    def run_op(self, name: str, rec: dict) -> None:
        c = self.ctx
        spec = c.specs[name]
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        mark = c.store.mark() if c.store else None
        t0 = time.perf_counter()
        with c.tracer.span(f"op.{name}", new_request=True):
            with c.tracer.span(f"queries.{module}.build"):
                df = spec.fn(c.spark, c.data)
            with c.tracer.span(f"queries.{module}.exec"):
                df.write.format("noop").mode("overwrite").save()
        rec["calls"].append(time.perf_counter() - t0)
        if mark is not None:
            got = c.store.since(mark)
            m = rec["module_counts"].setdefault(module, {"jobs": 0.0, "tasks": 0.0})
            m["jobs"] += got["jobs"]
            m["tasks"] += got["tasks"]

    def check_op(self, name: str) -> list[str]:
        c = self.ctx
        spec = c.specs[name]
        return c.oracle_check(spec.fn(c.spark, c.data), spec.oracle)

    def _etl(self, rec: dict) -> None:
        """One ETL run into a fresh warehouse; leaves in ``rec["etl"]``
        what ``_verify`` and ``_clean`` need."""
        c, e, inp = self.ctx, self.ctx.eng, self.ctx.ingest
        F = e.F
        wh = self._warehouse()
        t0 = time.perf_counter()

        def step(name, fn):
            with c.tracer.span(name, new_request=True):
                return fn()

        def graph(items, facs, edges):
            v = items.select("uid", F.lit("WasteItem").alias("label"), "name").unionByName(
                facs.select("uid", F.lit("Facility").alias("label"), "name"))
            return e.PropertyGraph(vertices=v, edges=edges.select("src_uid", "dst_uid", "rel_type"))

        facs, fstats = step("etl.import_facilities", lambda: e.import_facilities(c.spark, inp.facilities_json))
        items, edges, stats = step("etl.import_waste_items", lambda: e.import_waste_items(c.spark, inp.csv, facs))
        step("graph.storage.write_graph", lambda: e.write_graph(graph(items, facs, edges), f"{wh}/base"))
        base = e.read_graph(c.spark, f"{wh}/base")
        ex_items = base.vertices.filter(F.col("label") == "WasteItem").select("uid", "name")
        ex_edges = base.edges.select("src_uid", "dst_uid", "rel_type")
        m_items, m_edges, _ = step("etl.import_waste_items", lambda: e.import_waste_items(
            c.spark, inp.delta_csv, facs, existing_items=ex_items, existing_edges=ex_edges))

        def upsert():
            # execute the merged items and edges once; the write reuses them
            mi, me = m_items.persist(), m_edges.persist()
            rec["persisted"] = (mi, me)
            mi.count(), me.count()
            return mi, me

        m_items, m_edges = step("sinks.upsert", upsert)
        step("graph.storage.write_graph", lambda: e.write_graph(graph(m_items, facs, m_edges), f"{wh}/merged"))
        rec["calls"].append(time.perf_counter() - t0)
        rec["etl"] = (wh, fstats, stats)

    def _warehouse(self) -> str:
        return os.path.join(self.ctx.work, f"warehouse-{os.getpid()}")

    def _clean(self, rec: dict) -> None:
        for df in rec.pop("persisted", ()):
            df.unpersist()
        shutil.rmtree(self._warehouse(), ignore_errors=True)

    def _verify(self, wh: str, fstats, stats) -> list[str]:
        """Counts against the generator's, and idempotence of a re-import."""
        c, e, inp = self.ctx, self.ctx.eng, self.ctx.ingest
        F = e.F
        problems = []

        def expect(what, got, want):
            if got != want:
                problems.append(f"{what}: got {got}, expected {want}")

        expect("facilities_loaded", fstats["facilities_loaded"], inp.facilities)
        expect("items_loaded", stats["items_loaded"], inp.items)
        expect("unmatched_facilities", stats["unmatched_facilities"], inp.unmatched)
        for tag, n_items, n_edges in (("base", inp.items, inp.edges), ("merged", inp.items_after_delta, inp.edges_after_delta)):
            g = e.read_graph(c.spark, f"{wh}/{tag}")
            expect(f"{tag} items", g.vertices.filter(F.col("label") == "WasteItem").count(), n_items)
            expect(f"{tag} edges", g.edges.count(), n_edges)
        # idempotence: importing the base export again changes nothing
        g = e.read_graph(c.spark, f"{wh}/merged")
        items0 = g.vertices.filter(F.col("label") == "WasteItem").select("uid", "name")
        edges0 = g.edges.select("src_uid", "dst_uid", "rel_type")
        facs, _ = e.import_facilities(c.spark, inp.facilities_json)
        items1, edges1, _ = e.import_waste_items(c.spark, inp.csv, facs, existing_items=items0, existing_edges=edges0)
        if sorted(map(tuple, items1.collect())) != sorted(map(tuple, items0.collect())):
            problems.append("re-import changed the item set")
        if sorted(map(tuple, edges1.collect())) != sorted(map(tuple, edges0.collect())):
            problems.append("re-import changed the edge set")
        return problems

    def check_pass(self) -> None:
        c = self.ctx
        rec: dict = {"calls": []}
        c.errors.check("etl", lambda: self._etl(rec))
        if "etl" in rec:
            c.errors.check("etl", lambda: self._verify(*rec["etl"]), attempt=False)
        self._clean(rec)
        for name in c.rng.sample(OPS, len(OPS)):
            c.errors.check(name, lambda: self.check_op(name))

    def timed_pass(self, rec: dict) -> None:
        c = self.ctx
        c.errors.check("etl", lambda: self._etl(rec))
        for name in c.rng.sample(OPS, len(OPS)):
            c.errors.check(name, lambda: self.run_op(name, rec))

    def verify_pass(self, rec: dict) -> None:
        """The ETL's counts were checked in the check pass; only its files
        and cached tables go."""
        self._clean(rec)


class RagLookup:
    """Graph-RAG requests for one customer each, issued one at a time: a
    parameterised point lookup through the catalog (the customer's
    orders) and a one-hop neighbourhood on the star graph, both collected
    to the Spark driver, and checked against DuckDB once the pass's timer
    has stopped."""

    def __init__(self, ctx):
        self.ctx = ctx

    def _request(self, key: int, rec: dict) -> None:
        c, e = self.ctx, self.ctx.eng
        t0 = time.perf_counter()
        with c.tracer.span("rag.request", new_request=True):
            with c.tracer.span("catalog.query"):
                rows = e.catalog.query(c.spark, LOOKUP_SQL, ck=key)
            with c.tracer.span("graph.hop"):
                frontier = c.spark.createDataFrame([(f"C{key}", f"C{key}")], "uid string, root string")
                hood = c.star.hop(frontier, direction="in").collect()
        rec["calls"].append(time.perf_counter() - t0)
        rec.setdefault("answers", []).append((key, rows, hood))

    def _verify(self, key: int, rows, hood) -> list[str]:
        c = self.ctx
        problems = []
        cols = ["o_orderkey", "o_totalprice", "o_orderdate"]
        want = c.oracle.query_rows(LOOKUP_ORACLE, [key])
        if multiset(cols, [tuple(r[k] for k in cols) for r in rows]) != multiset(cols, want):
            problems.append(f"lookup {key} differs")
        want_uids = sorted(r[0] for r in c.oracle.query_rows(HOP_ORACLE, [key]))
        if sorted(r["uid"] for r in hood) != want_uids or any(r["root"] != f"C{key}" for r in hood):
            problems.append(f"hop {key} differs")
        return problems

    def _batch(self, n: int, rec: dict) -> None:
        c = self.ctx
        for _ in range(n):
            key = c.rng.randrange(c.n_customers)
            c.errors.check(f"request:{key}", lambda: self._request(key, rec))

    def check_pass(self) -> None:
        rec: dict = {"calls": []}
        self._batch(RAG_CHECK, rec)
        self.verify_pass(rec)

    def timed_pass(self, rec: dict) -> None:
        self._batch(RAG_BATCH, rec)

    def verify_pass(self, rec: dict) -> None:
        """Check every answered request; one that raised was counted then."""
        for key, rows, hood in rec.pop("answers", []):
            self.ctx.errors.check(f"request:{key}", lambda: self._verify(key, rows, hood), attempt=False)


WORKLOADS = {"ingest_analytics": IngestAnalytics, "rag_lookup": RagLookup}
