"""Counters read from outside the engine: Spark's status store, a
streaming-query listener, process memory and host load.

Counters are attributed by stage-id and job-id interval: a snapshot of
the highest ids before a call and the stages and jobs above it after the
call. Unlike job groups this also catches the jobs a streaming query
runs on its own thread. It only holds while calls run one at a time,
which the closed single-client loop guarantees.
"""

from __future__ import annotations

import json
import os
import resource
import time

# stage field → counter name; times are ms, executorCpuTime is ns
STAGE_FIELDS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "outputBytes": "output_bytes",
}
COUNTERS = ("jobs", "stages") + tuple(dict.fromkeys(STAGE_FIELDS.values()))


class StatusStore:
    """Reads the Spark driver's AppStatusStore (works with the UI disabled)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._jvm = jvm
        self._empty_q = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self.spent = 0.0  # seconds spent reading the store (tracing overhead)

    def _drain(self) -> None:
        # status-store updates arrive through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self) -> list[dict]:
        store = self._jsc.statusStore()
        lst = store.stageList(self._jvm.java.util.ArrayList(), False, False, self._empty_q, self._jvm.java.util.ArrayList())
        return json.loads(self._mapper.writeValueAsString(lst))

    def _job_ids(self) -> list[int]:
        jobs = self._jsc.statusStore().jobsList(None)
        return [int(j["jobId"]) for j in json.loads(self._mapper.writeValueAsString(jobs))]

    def mark(self) -> tuple[int, int]:
        """Highest (job id, stage id) handed out so far, read from the
        scheduler's id counters (no store scan)."""
        t0 = time.perf_counter()
        dag = self._jsc.dagScheduler()
        out = (dag.nextJobId() - 1, dag.nextStageId() - 1)
        self.spent += time.perf_counter() - t0
        return out

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Counters summed over jobs and stages newer than ``mark``."""
        t0 = time.perf_counter()
        self._drain()
        job0, stage0 = mark
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(sum(1 for j in self._job_ids() if j > job0))
        for s in self._stages():
            if s["stageId"] <= stage0:
                continue
            out["stages"] += 1
            for field, name in STAGE_FIELDS.items():
                out[name] += float(s.get(field) or 0)
        out["executor_cpu_ms"] /= 1e6
        self.spent += time.perf_counter() - t0
        return out


def streaming_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event.

    Returns the list the events are appended to; each entry is
    ``(durationMs dict, [(numRowsTotal, commitTimeMs) per state operator])``."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append((dict(p.durationMs), [(s.numRowsTotal, s.commitTimeMs) for s in p.stateOperators]))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return events


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak RSS of this Python process plus the Spark driver JVM (VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


def host_sample(window_s: float = 0.5) -> dict[str, float]:
    """1-minute load average, and the host CPU busy and steal fractions
    over a short window (steal: time the hypervisor ran something else)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    a = cpu_times()
    time.sleep(window_s)
    b = cpu_times()
    return {"load1": load1, **cpu_fractions(a, b)}


def cpu_times() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), vals[3] + vals[4], steal


def cpu_fractions(a: tuple[int, int, int], b: tuple[int, int, int]) -> dict[str, float]:
    total = max(1, b[0] - a[0])
    return {"cpu_busy_frac": round(1.0 - (b[1] - a[1]) / total, 4), "steal_frac": round((b[2] - a[2]) / total, 4)}
