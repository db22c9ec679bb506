"""Layer measurements taken from outside the engine.

Everything here reads Spark's in-process status stores (the core
``AppStatusStore`` and the SQL ``SQLAppStatusStore``) or times calls into
the engine's public functions. Nothing in the engine is patched.

Attribution is by id range, not by job group: the benchmark is a
single-client, sequential caller, so every job whose id lies between the
largest id seen before a call and the largest id seen after it was started
by that call. This also covers jobs submitted from ``materialize_all``'s
pool threads, which do not inherit the caller's job group in pinned-thread
mode.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Descriptions of the Spark 4.1 Python SQL metrics (PythonSQLMetrics).
_PY_TOTAL = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric, in bytes or seconds.

    Accumulated metrics read ``total (min, med, max ...)\\n12.0 KiB (...)``;
    a single-task metric is just ``12.0 KiB``."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip()
    num, _, unit = head.partition(" ")
    value = float(num.replace(",", ""))
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value * _TIME.get(unit, 1.0)


class StatusStores:
    """Reads jobs, stages and SQL executions of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._core = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.cores = spark.sparkContext.defaultParallelism

    def settle(self) -> None:
        """Block until every event posted so far reached the stores."""
        self._bus.waitUntilEmpty()

    def last_job_id(self) -> int:
        jobs = self._core.jobsList(None)  # newest first
        return -1 if jobs.isEmpty() else jobs.head().jobId()

    def last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def stage_totals(self, job_ids) -> dict:
        """Sums over the last attempt of every stage the jobs ran."""
        out = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0, "exec_run_s": 0.0,
            "exec_cpu_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 0.0,
        }
        slowest = (-1.0, None)
        seen = set()
        for jid in job_ids:
            try:
                job = self._core.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            sids = job.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._core.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                run_s = st.executorRunTime() / 1e3
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["exec_run_s"] += run_s
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if run_s > slowest[0]:
                    slowest = (run_s, (sid, st.attemptId()))
        if slowest[1] is not None:
            out["task_skew"] = self._skew(*slowest[1])
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        """Max over median task run time in one stage."""
        summary = self._core.taskSummary(stage_id, attempt, self._quantiles)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def python_metrics(self, after_exec_id: int) -> dict:
        """Python-worker SQL metrics summed over executions newer than
        ``after_exec_id`` whose physical plan holds a Python operator
        (``BatchEvalPython``, ``ArrowEvalPython``, ``MapInPandas``, ...)."""
        out = {"python_total_s": 0.0, "python_boot_s": 0.0, "python_bytes": 0.0}
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(0, n)
        for k in range(execs.size() - 1, -1, -1):
            ex = execs.apply(k)
            if ex.executionId() <= after_exec_id:
                break
            plan = ex.physicalPlanDescription()
            if not any(op in plan for op in ("Python", "Arrow", "Pandas")):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                name = m.name()
                if name not in (_PY_TOTAL, _PY_BOOT, _PY_SENT, _PY_RECV):
                    continue
                text = values.get(m.accumulatorId())
                if not text.isDefined():
                    continue
                v = _metric_total(text.get())
                if name == _PY_TOTAL:
                    out["python_total_s"] += v
                elif name == _PY_BOOT:
                    out["python_boot_s"] += v
                else:
                    out["python_bytes"] += v
        return out


def catalyst_ms(df) -> float:
    """Sum of the Catalyst phase times recorded for ``df``'s plan."""
    phases = df._jdf.queryExecution().tracker().phases().valuesIterator()
    total = 0
    while phases.hasNext():
        total += phases.next().durationMs()
    return float(total)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size (VmHWM) of the driver JVM."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id).

    Spans are kept in a list and written out once, at the end of the run,
    so recording a span costs two clock reads and a list append.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time spent in children."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for i, rec in enumerate(self.spans):
            if rec["end"] is None:
                continue
            out[rec["name"]] = out.get(rec["name"], 0.0) + (rec["end"] - rec["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, fh)
