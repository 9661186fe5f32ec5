"""The engine's cache keys (io.input_stamp / io.memo / io.scratch_dir).

Every value the engine reuses across calls is versioned by the stamp of
the input files it came from, so an in-place rewrite of a table must
change the answer in the same session, and a guard keeps new modules from
growing their own memo dicts or pid-keyed scratch paths."""

from __future__ import annotations

import ast
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq

from graph_etl_pipeline_spark import io
from graph_etl_pipeline_spark.io import TABLES
from graph_etl_pipeline_spark.registry import all_queries

from parity import compare

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "graph_etl_pipeline_spark")


def test_input_stamp_keys_content_and_normalizes_paths(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"one")
    plain = io.input_stamp([str(f)])
    assert plain == io.input_stamp([f"file://{f}"]) == io.input_stamp([str(tmp_path)])
    assert plain[0][0] == str(f) and plain[0][2] == 3
    f.write_bytes(b"three")
    assert io.input_stamp([str(f)]) != plain
    # a non-local URI keys on its name alone
    assert io.input_stamp(["s3a://bucket/t.parquet"]) == (("s3a://bucket/t.parquet",),)


def test_memo_slot_rebuilds_on_a_new_stamp(spark, tmp_path):
    f = tmp_path / "in.bin"
    f.write_bytes(b"a")
    builds = []

    def build():
        builds.append(f.read_bytes())
        return f.read_bytes()

    assert io.memo("memo_test", [str(f)], build, 1) == b"a"
    assert io.memo("memo_test", [str(f)], build, 1) == b"a"
    assert len(builds) == 1  # same stamp, same session: a hit
    f.write_bytes(b"bb")
    assert io.memo("memo_test", [str(f)], build, 1) == b"bb"
    assert len(builds) == 2
    # the slot holds one value: the old version is gone, not kept beside it
    assert [s for s in io._MEMO if s[0] == "memo_test"] == [("memo_test", 1)]
    tag, _ = io._MEMO[("memo_test", 1)]
    assert tag == (spark.sparkContext.applicationId, io.input_stamp([str(f)]))
    del io._MEMO[("memo_test", 1)]


def _oracle_parity(spark, name: str, sf: str) -> tuple[list[str], set]:
    spec = all_queries()[name]
    df = spec.fn(spark, sf)
    return compare(df, spec.oracle, sf), {tuple(r) for r in df.collect()}


def test_in_place_rewrite_reaches_memo_and_materialize(spark, sf_dir, tmp_path):
    """Rewrite embeddings.parquet and events.parquet in place (same names)
    after a first run: in the same session, the memoized k-means centroids
    and the materialized chain-edge table must both follow the new files
    and match the oracle on them."""
    sf = str(tmp_path)
    for t in TABLES:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{sf}/{t}.parquet")
    queries = ("sim_kmeans_iterate", "graph_kcore_bounded")
    before = {}
    for name in queries:
        probs, before[name] = _oracle_parity(spark, name, sf)
        assert not probs, (name, probs)

    emb = pq.read_table(f"{sf}/embeddings.parquet")
    # move every vector to another id: the first-K seed and every
    # assignment change, the schema does not
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"), "embedding", emb["embedding"].take(list(range(emb.num_rows))[::-1])
    )
    pq.write_table(emb, f"{sf}/embeddings.parquet")
    ev = pq.read_table(f"{sf}/events.parquet")
    pq.write_table(ev.filter(pc.equal(pc.bit_wise_and(ev["event_id"], 1), 0)), f"{sf}/events.parquet")

    for name in queries:
        probs, after = _oracle_parity(spark, name, sf)
        assert not probs, (name, probs)
        assert after != before[name], name  # the rewrite changed the answer


def _checkpoint_jobs(spark, group: str, run) -> int:
    """Jobs in one call whose final stage is an eager localCheckpoint:
    the ANF build (edge copy, initial state, one per hop). Collect-side
    job counts move by one with AQE timing, these do not."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
    return sum(
        st.getStageInfo(max(st.getJobInfo(j).stageIds)).name.startswith("localCheckpoint")
        for j in st.getJobIdsForGroup(group)
    )


def test_anf_state_is_built_by_the_producer_and_read_by_consumers(spark, sf_dir, monkeypatch):
    """graph_hyperanf_sketch pays the k-hop build on every call; its
    consumers read the memoized state and run no hop job on a second
    call."""
    from graph_etl_pipeline_spark.queries import graph_queries as G

    hops = []
    real_hop = G.anf_hop
    monkeypatch.setattr(G, "anf_hop", lambda *a: hops.append(1) or real_hop(*a))
    G.interaction_edges(spark, sf_dir).count()  # warm the shared edge table
    for i in range(2):
        hops.clear()
        built = _checkpoint_jobs(spark, f"anf_producer_{i}", lambda: G.graph_hyperanf_sketch(spark, sf_dir).collect())
        assert len(hops) == G.ANF_HOPS and built == G.ANF_HOPS + 2

    for fn in (G.graph_neighborhood_function, G.graph_effective_diameter):
        fn(spark, sf_dir).collect()
        hops.clear()
        built = _checkpoint_jobs(spark, f"anf_{fn.__name__}", lambda: fn(spark, sf_dir).collect())
        assert hops == [] and built == 0, fn.__name__


def _memo_dicts_and_pid_calls(path: str) -> list[str]:
    tree = ast.parse(open(path).read())
    found = []
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
            v = node.value
            empty_dict = isinstance(v, ast.Dict) and not v.keys
            dict_call = (
                isinstance(v, ast.Call)
                and getattr(v.func, "id", getattr(v.func, "attr", None)) in ("dict", "defaultdict", "OrderedDict")
                and not v.keywords
                and len(v.args) <= 1
            )
            if empty_dict or dict_call:
                found.append(f"{path}:{node.lineno} module-level dict")
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "getpid":
            found.append(f"{path}:{node.lineno} os.getpid()")
    return found


def test_cache_keys_live_only_in_io():
    """A module-level dict filled at run time is a memo with its own key
    and retention rule, and a path built from os.getpid() is a scratch dir
    with its own key: both belong in io.py (io.memo, io.scratch_dir)."""
    found = []
    for d, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(d, f)
            if f.endswith(".py") and os.path.relpath(path, PKG) not in ("io.py", "registry.py"):
                found += _memo_dicts_and_pid_calls(path)
    assert found == []
    # the scan does see what it is looking for
    assert len(_memo_dicts_and_pid_calls(os.path.join(PKG, "io.py"))) >= 2
