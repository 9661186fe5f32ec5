#!/usr/bin/env python3
"""Benchmark of the graph ETL engine, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root: the engine package is imported from the
working directory, and everything the run writes goes under
``.perfbench/`` there. One process drives the engine on ``local[<cpus>]``
as a single closed-loop client:

1. set-up, once and cold, as a user pays it: this process imports the
   engine and launches its JVM (``setup_s``);
2. an untimed check pass that runs every operation once and checks its
   result (DuckDB oracle, generator counts);
3. timed passes: one, and another while it still fits in ``--seconds``
   at the median pass time so far. Each pass's answers are checked, and
   its files removed, after its timer has stopped.

With ``--trace 0`` no span or counter is recorded and the end-to-end
metrics are printed. With ``--trace 1`` every timed pass is traced and
the per-layer metrics are printed, among them the traced pass time and
the share of it spent reading counters; the difference from an untraced
run's ``makespan_s`` is the tracing overhead.

The last line of stdout is the result JSON; the line before it records
host load at start and end. See README.md for every metric.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import ingest_gen  # noqa: E402
import oracle as oracle_mod  # noqa: E402
import probe  # noqa: E402
import trace  # noqa: E402
import workloads as wl  # noqa: E402

PKG = "graph_etl_pipeline_spark"

END_TO_END = {"setup_s": "s", "makespan_s": "s", "success_rate": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s",
        "registry.load_s": "s",
        "io.register_tables_s": "s",
        "io.input_bytes": "bytes",
        "io.input_records": "count",
        "io.materialize.builds": "count",
    }
    for m in wl.QUERY_MODULES:
        units.update({f"queries.{m}.build_s": "s", f"queries.{m}.exec_s": "s",
                      f"queries.{m}.jobs": "count", f"queries.{m}.tasks": "count"})
    units.update({f"op.{q}.s": "s" for q in wl.OPS})
    for name in probe.COUNTERS:
        if name not in ("input_bytes", "input_records"):
            units[f"spark.{name}"] = "ms" if name.endswith("_ms") else ("bytes" if name.endswith("_bytes") else "count")
    units["spark.busy_frac"] = "ratio"
    units.update({f"{s}_s": "s" for s in wl.ETL_STEPS})
    units["etl.rows_per_s"] = "1/s"
    units.update({
        "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
        "streaming.add_batch_ms_p50": "ms", "streaming.overhead_ms_p50": "ms",
        "streaming.state_rows": "count", "streaming.state_commit_ms": "ms",
        "catalog.query_ms_p50": "ms", "graph.hop_ms_p50": "ms",
        "peak_rss_mb": "MB", "calls": "count", "call_p50_ms": "ms", "call_tail_ms": "ms", "call_tail_pct": "%", "error_rate": "ratio",
        "trace.makespan_s": "s", "trace.overhead_frac": "ratio",
    })
    return units


class Ctx:
    """Everything a workload pass needs; see workloads.IngestAnalytics."""


def set_up(workload: str, data: str, ncpu: int) -> tuple[dict[str, float], dict]:
    """The engine's set-up, before which this process has neither imported
    the engine nor started a JVM; returns its timings and the objects the
    run uses."""
    t: dict[str, float] = {}
    t0 = time.perf_counter()
    registry = importlib.import_module(f"{PKG}.registry")
    specs = registry.all_queries()
    t1 = time.perf_counter()
    session = importlib.import_module(f"{PKG}.session")
    spark = session.get_spark(cpus=ncpu)
    spark.range(1).count()  # JVM warm-up: first job
    t2 = time.perf_counter()
    eng = {"spark": spark, "specs": specs}
    if workload == "rag_lookup":
        catalog = importlib.import_module(f"{PKG}.catalog")
        build = importlib.import_module(f"{PKG}.graph.build")
        catalog.register_tables(spark, data)
        eng["star"] = build.star_graph(spark, data)
    t3 = time.perf_counter()
    t.update({"registry.load": t1 - t0, "session.get_spark": t2 - t1, "io.register_tables": t3 - t2, "total": t3 - t0})
    return t, eng


def _engine_api():
    from pyspark.sql import functions as F

    ns = Ctx()
    ns.F = F
    ns.catalog = importlib.import_module(f"{PKG}.catalog")
    ns.PropertyGraph = importlib.import_module(f"{PKG}.graph.model").PropertyGraph
    storage = importlib.import_module(f"{PKG}.graph.storage")
    ns.write_graph, ns.read_graph = storage.write_graph, storage.read_graph
    ns.import_facilities = importlib.import_module(f"{PKG}.etl.facilities").import_facilities
    ns.import_waste_items = importlib.import_module(f"{PKG}.etl.waste_items").import_waste_items
    return ns


_BUILD_DIR = re.compile(r".+-[0-9a-f]{12}-\d+$")


def materialized_dirs(scratch: str) -> set[str]:
    """Completed content-addressed ``io.materialize`` outputs."""
    if not os.path.isdir(scratch):
        return set()
    return {d for d in os.listdir(scratch) if _BUILD_DIR.match(d) and os.path.exists(os.path.join(scratch, d, "_SUCCESS"))}


def layer_metrics(passes: list[dict], spans: list[dict], ncpu: int) -> dict[str, float]:
    """Per-layer values: the median over passes of each pass's value."""
    per_pass: list[dict[str, float]] = []
    for rec in passes:
        s = spans[rec["span_lo"]:rec["span_hi"]]
        own = trace.self_times(s)
        dur: dict[str, float] = {}
        for x in s:
            dur[x["name"]] = dur.get(x["name"], 0.0) + x["end"] - x["start"]
        v: dict[str, float] = {}
        for m in wl.QUERY_MODULES:
            v[f"queries.{m}.build_s"] = own.get(f"queries.{m}.build", 0.0)
            v[f"queries.{m}.exec_s"] = own.get(f"queries.{m}.exec", 0.0)
            counts = rec["module_counts"].get(m, {})
            v[f"queries.{m}.jobs"] = counts.get("jobs", 0.0)
            v[f"queries.{m}.tasks"] = counts.get("tasks", 0.0)
        for q in wl.OPS:
            v[f"op.{q}.s"] = dur.get(f"op.{q}", 0.0)
        etl_total = 0.0
        for step in wl.ETL_STEPS:
            v[f"{step}_s"] = own.get(step, 0.0)
            etl_total += v[f"{step}_s"]
        v["etl.rows_per_s"] = rec["rows"] / etl_total if etl_total else 0.0
        cnt = rec["counters"]
        v["io.input_bytes"] = cnt["input_bytes"]
        v["io.input_records"] = cnt["input_records"]
        for name in probe.COUNTERS:
            if name not in ("input_bytes", "input_records"):
                v[f"spark.{name}"] = cnt[name]
        v["spark.busy_frac"] = cnt["executor_run_ms"] / (rec["wall"] * 1000.0 * ncpu)
        ev = rec["stream_events"]
        trig = [d.get("triggerExecution", 0) for d, _ in ev]
        add = [d.get("addBatch", 0) for d, _ in ev]
        v["streaming.batches"] = float(len(ev))
        v["streaming.trigger_ms_p50"] = trace.median(trig)
        v["streaming.add_batch_ms_p50"] = trace.median(add)
        v["streaming.overhead_ms_p50"] = trace.median([a - b for a, b in zip(trig, add)])
        v["streaming.state_rows"] = float(sum(r for _, ops in ev for r, _ in ops))
        v["streaming.state_commit_ms"] = float(sum(c for _, ops in ev for _, c in ops))
        for layer, key in (("catalog.query", "catalog.query_ms_p50"), ("graph.hop", "graph.hop_ms_p50")):
            v[key] = 1000.0 * trace.median([x["end"] - x["start"] for x in s if x["name"] == layer])
        per_pass.append(v)
    return {k: trace.median([p[k] for p in per_pass]) for k in per_pass[0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"error: engine package {PKG}/ not found in {root}; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine too (pandas UDFs), and every
    # scratch file stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = tmp
    # the JVMs' own temp files too (native libs, artifact dirs); their
    # perf-data files would go to /tmp whatever the temp dir, so they are off
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):  # driver JVM, spark-submit's launcher JVM
        os.environ[var] = " ".join(p for p in (os.environ.get(var), jvm_opts) if p)
    sys.path.insert(0, root)
    ncpu = len(os.sched_getaffinity(0))

    host = {"start": probe.host_sample()}
    cpu0 = probe.cpu_times()
    data = corpus.ensure_corpus(os.path.join(work, "data"))
    ctx = Ctx()
    ctx.data, ctx.work = data, work
    ctx.rng = random.Random(args.seed)
    ctx.errors = wl.Errors()
    if args.workload == "ingest_analytics":
        ctx.ingest = ingest_gen.generate(os.path.join(work, "ingest", f"seed-{args.seed}"), args.seed)
    if args.workload == "rag_lookup":
        import pyarrow.parquet as pq

        ctx.n_customers = pq.ParquetFile(os.path.join(data, "customer.parquet")).metadata.num_rows

    spark = None
    t_setup = time.perf_counter()
    try:
        setup, eng = set_up(args.workload, data, ncpu)
        spark = ctx.spark = eng["spark"]
        ctx.specs, ctx.star = eng["specs"], eng.get("star")
        ctx.eng = _engine_api()
        scratch = importlib.import_module(f"{PKG}.io").SCRATCH_DIR
        oracle = oracle_mod.OracleCache(data, corpus.digest(data), corpus.TABLE_NAMES, os.path.join(work, "oracle"))
        ctx.oracle = oracle
        ctx.oracle_check = lambda df, sql: oracle_mod.check_df(df, oracle.answer(sql))
        tracer = ctx.tracer = trace.Tracer(enabled=False)  # the check pass is never traced
        ctx.store = None
        store = probe.StatusStore(spark) if args.trace else None
        stream_events = probe.streaming_listener(spark) if args.trace else []
        workload = wl.WORKLOADS[args.workload](ctx)

        t_setup = time.perf_counter() - t_setup
        t_check = time.perf_counter()
        workload.check_pass()
        t_check = time.perf_counter() - t_check

        traced = tracer.enabled = bool(args.trace)
        ctx.store = store
        passes: list[dict] = []
        t_start = time.perf_counter()
        while True:
            rec = {"calls": [], "module_counts": {}, "span_lo": len(tracer.spans),
                   "rows": ctx.ingest.rows if args.workload == "ingest_analytics" else 0}
            builds0 = materialized_dirs(scratch)
            ev0 = len(stream_events)
            spent0 = store.spent if traced else 0.0
            mark = store.mark() if traced else None
            t0 = time.perf_counter()
            with tracer.span("pass"):
                workload.timed_pass(rec)
            rec["wall"] = time.perf_counter() - t0
            workload.verify_pass(rec)
            rec["builds"] = len(materialized_dirs(scratch) - builds0)
            if traced:
                rec["counters"] = store.since(mark)
                rec["overhead"] = store.spent - spent0
                rec["stream_events"] = stream_events[ev0:]
            rec["span_hi"] = len(tracer.spans)
            passes.append(rec)
            elapsed = time.perf_counter() - t_start
            if elapsed + trace.median([p["wall"] for p in passes]) > args.seconds:
                break  # the next pass would not fit in the measuring time
        measured = time.perf_counter() - t_start

        calls = [c for p in passes for c in p["calls"]]
        tail_pct, tail = trace.tail_percentile(calls)
        e2e = {
            "setup_s": setup["total"],
            "makespan_s": trace.median([p["wall"] for p in passes]),
            "success_rate": 1.0 - ctx.errors.rate,
        }
        rss = probe.peak_rss_mb(probe.jvm_pid(spark))
        if args.trace:
            layer = layer_metrics(passes, tracer.spans, ncpu)
            layer.update({
                "session.get_spark_s": setup["session.get_spark"],
                "registry.load_s": setup["registry.load"],
                "io.register_tables_s": setup["io.register_tables"],
                "io.materialize.builds": float(sum(p["builds"] for p in passes)),
                "peak_rss_mb": rss,
                "calls": float(len(calls)),
                "call_p50_ms": 1000.0 * trace.median(calls),
                "call_tail_ms": 1000.0 * tail,
                "call_tail_pct": tail_pct,
                "error_rate": ctx.errors.rate,
                "trace.makespan_s": e2e["makespan_s"],
                "trace.overhead_frac": trace.median([p["overhead"] / p["wall"] for p in passes]),
            })
            out_dir = os.path.join(work, "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            units, values = per_layer_units(), layer
        else:
            units, values = END_TO_END, e2e
        host["run"] = probe.cpu_fractions(cpu0, probe.cpu_times())
        host["end"] = probe.host_sample()
        for m in ctx.errors.messages:
            print(f"error: {m}", file=sys.stderr)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "pass_s": [round(p["wall"], 3) for p in passes], "measured_s": round(measured, 3),
            "setup_phase_s": round(t_setup, 3), "check_pass_s": round(t_check, 3), "oracle_answers_computed": oracle.computed,
            "cpus": ncpu, "host": host,
            "summary": {"error_rate": ctx.errors.rate, "peak_rss_mb": round(rss, 1),
                        "call_p50_ms": round(1000.0 * trace.median(calls), 2), **{k: round(v, 4) for k, v in e2e.items()}},
        }))
        print(json.dumps({
            "correct": ctx.errors.failed == 0,
            "attempted": ctx.errors.attempted,
            "failed": ctx.errors.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        _shutdown(spark)


def _shutdown(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its exit signal) and wait
    for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
