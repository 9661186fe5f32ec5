"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q

The last test starts a local Spark session and takes about twenty seconds.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import ingest_gen  # noqa: E402
import oracle  # noqa: E402
import trace  # noqa: E402
from workloads import Errors  # noqa: E402


@pytest.mark.parametrize(
    "n, pct, rank",
    [(100, 90.0, 90), (40, 75.0, 30), (20, 50.0, 10), (1000, 99.0, 990)],
)
def test_tail_percentile_has_ten_samples_above(n, pct, rank):
    samples = list(range(1, n + 1))[::-1]  # order must not matter
    got_pct, value = trace.tail_percentile(samples)
    assert got_pct == pytest.approx(pct)
    assert value == rank
    assert sum(1 for x in samples if x > value) == 10


def test_tail_percentile_falls_back_to_median_below_twenty_samples():
    assert trace.tail_percentile([5.0, 1.0, 3.0]) == (50.0, 3.0)
    with pytest.raises(ValueError):
        trace.tail_percentile([])


def test_self_time_subtracts_direct_children():
    t = trace.Tracer(enabled=True)
    with t.span("pass"):
        with t.span("op", new_request=True):
            with t.span("build"):
                pass
        with t.span("op", new_request=True):
            pass
    own = trace.self_times(t.spans)
    total = {s["name"]: s["end"] - s["start"] for s in t.spans if s["name"] == "pass"}["pass"]
    assert sum(own.values()) == pytest.approx(total)
    requests = [s["request"] for s in t.spans]
    assert requests[1] == requests[2] != requests[3]  # child shares its parent's request


def test_generator_is_deterministic_per_seed(tmp_path):
    a = ingest_gen.generate(str(tmp_path / "a"), seed=7)
    b = ingest_gen.generate(str(tmp_path / "b"), seed=7)
    c = ingest_gen.generate(str(tmp_path / "c"), seed=8)
    for name in ("abfall_abc.csv", "abfall_abc_delta.csv", "disposal_map.json"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False)
        assert not filecmp.cmp(tmp_path / "a" / name, tmp_path / "c" / name, shallow=False)
    assert (a.items, a.edges, a.unmatched) == (b.items, b.edges, b.unmatched)
    assert a.unmatched > 0 and a.edges_after_delta > a.edges and a.items_after_delta > a.items


def test_error_rate_counts_raises_and_mismatches_and_carries_on():
    errors = Errors()

    def boom():
        raise RuntimeError("op failed")

    assert errors.check("ok", lambda: []) == []
    assert errors.check("raises", boom) is None
    assert errors.check("wrong", lambda: ["rows differ"]) == ["rows differ"]
    errors.check("ok2", lambda: None)
    assert (errors.attempted, errors.failed) == (4, 2)
    assert errors.rate == 0.5
    assert any("op failed" in m for m in errors.messages)


def test_deferred_check_counts_a_failure_but_no_new_attempt():
    errors = Errors()
    errors.check("request:1", lambda: None)
    errors.check("request:2", lambda: None)
    errors.check("request:1", lambda: ["lookup 1 differs"], attempt=False)
    errors.check("request:2", lambda: [], attempt=False)
    assert (errors.attempted, errors.failed) == (2, 1)


def test_compare_is_order_insensitive_and_type_strict():
    import pyarrow as pa

    ans = pa.table({"k": pa.array([1, 2], pa.int64()), "v": ["a", "b"]})
    assert oracle.compare(["v", "k"], {"k": "int", "v": "string"}, [("b", 2), ("a", 1)], ans) == []
    assert oracle.compare(["k", "v"], {"k": "int", "v": "string"}, [(1, "a")], ans)
    assert oracle.compare(["k", "v"], {"k": "float", "v": "string"}, [(1, "a"), (2, "b")], ans)


def test_counter_only_op_repeats_exactly(tmp_path):
    """The same operator run twice reads the same job and task counts."""
    pytest.importorskip("pyspark")
    if not os.path.isdir(os.path.join(ROOT, "graph_etl_pipeline_spark")):
        pytest.skip("engine package not present")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import corpus
    import probe
    from graph_etl_pipeline_spark import registry
    from graph_etl_pipeline_spark.session import get_spark

    data = corpus.ensure_corpus(str(tmp_path))
    spark = get_spark(cpus=4)
    try:
        store = probe.StatusStore(spark)
        spec = registry.all_queries()["graph_connected_components"]
        seen = []
        for _ in range(3):
            mark = store.mark()
            spec.fn(spark, data).write.format("noop").mode("overwrite").save()
            got = store.since(mark)
            seen.append((got["jobs"], got["stages"], got["tasks"]))
    finally:
        spark.stop()
    assert seen[0][0] > 0
    assert seen[1] == seen[2]
