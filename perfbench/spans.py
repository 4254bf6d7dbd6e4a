"""Spans around the benchmark's calls into the program, with Spark
status-store deltas.

A span is (id, name, start, end, parent).  At every span boundary the
tracer waits for Spark's listener bus to drain and reads the stages and
SQL executions created since the previous boundary; they are charged to
the innermost open span, so each stage is read exactly once.  Spans live
in memory until ``dump``.  The time spent in that bookkeeping is
``overhead_s``, the tracing overhead of the run.

Status-store access goes through py4j: ``statusStore().stageData`` and
``taskSummary`` on the Spark side, the SQL ``statusStore()`` for the
Python-worker operator metrics, and ``dagScheduler`` for the stage and job
counters.  Nothing here changes what Spark executes.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_STAGE_SUMS = {
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numCompleteTasks": "tasks",
}
# SQL operator metrics; stage inputBytes under-counts vectorized parquet
# reads, so scans are measured by the scan operator's own file bytes
_SQL_METRICS = {
    "size of files read": "scan_bytes",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
    "time to start Python workers": "py_init_ms",
    "time to initialize Python workers": "py_init_ms",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"([-0-9.,]+)\s*([A-Za-z]*)")

COUNTERS = tuple(sorted(set(_STAGE_SUMS.values()) | set(_SQL_METRICS.values())))
ZERO = dict.fromkeys(COUNTERS + ("jobs", "stages", "peak_mem_bytes"), 0)


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'total (min, med, max ...)\\n
    1.5 MiB (...)'`` -> bytes, ``'1.2 s (...)'`` -> ms, ``'1,000'`` -> 1000."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def add(into: dict, other: dict) -> dict:
    for k, v in other.items():
        if k == "peak_mem_bytes":
            into[k] = max(into.get(k, 0), v)
        elif k == "longest":
            if v and (not into.get(k) or v[0] > into[k][0]):
                into[k] = v
        else:
            into[k] = into.get(k, 0) + v
    return into


class StatusReader:
    """Reads what Spark recorded since the last call (one SparkContext)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(
            getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$")
        )
        self._no_quantiles = self._gw.new_array(self._jvm.double, 0)
        self._stage, self._job, self._exec = self._marks()
        self._seen: set[int] = set()

    def _marks(self) -> tuple[int, int, int]:
        dag = self._jsc.dagScheduler()
        return dag.nextStageId(), dag.nextJobId(), self._sql.executionsCount()

    def skip(self) -> None:
        """Forget what was recorded since the last read."""
        self._stage, self._job, self._exec = self._marks()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self) -> dict:
        """Deltas since the previous ``read`` (or construction)."""
        self._jsc.listenerBus().waitUntilEmpty()
        stage1, job1, exec1 = self._marks()
        d = dict(ZERO, jobs=job1 - self._job, stages=stage1 - self._stage)
        self._exec, lo = exec1, self._exec
        longest = None
        for sid in range(self._stage, stage1):
            attempts = self._json(self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False,
                self._no_quantiles,
            ))
            for a in attempts:
                for src, dst in _STAGE_SUMS.items():
                    d[dst] += a.get(src) or 0
                d["peak_mem_bytes"] = max(
                    d["peak_mem_bytes"], a.get("peakExecutionMemory") or 0
                )
                run = a.get("executorRunTime") or 0
                if a.get("numCompleteTasks") and (
                    longest is None or run > longest[0]
                ):
                    longest = (run, sid, a["attemptId"])
        if exec1 > lo:
            execs = self._json(self._sql.executionsList(lo, exec1 - lo))
            for i, e in enumerate(execs):
                eid = e["executionId"]
                if e.get("completionTime") is None:
                    # still running (an Arrow collect ends after it
                    # returns): read it at a later boundary
                    self._exec = min(self._exec, lo + i)
                    continue
                if eid in self._seen:
                    continue
                self._seen.add(eid)
                names = {m["accumulatorId"]: m["name"] for m in e["metrics"]}
                vals = self._json(self._sql.executionMetrics(eid))
                for acc, text in vals.items():
                    key = _SQL_METRICS.get(names.get(int(acc), ""))
                    if key:
                        d[key] += parse_metric(text)
        if longest is not None:
            d["longest"] = (longest[0], self._task_skew(longest[1], longest[2]))
        self._stage, self._job = stage1, job1
        return d

    def _task_skew(self, sid: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(sid, attempt, q)
        if summary.isEmpty():
            return 1.0
        med, mx = self._json(summary.get())["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def storage_bytes(self) -> int:
        """Bytes currently held in block storage (memory + disk)."""
        return sum(
            r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()
        )


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every call a
    no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._next_id = 0
        self._reader: StatusReader | None = None

    def bind(self, spark) -> None:
        """Follow a (new) SparkContext; call after every session start."""
        if self.enabled:
            t0 = time.perf_counter()
            self._reader = StatusReader(spark)
            self.overhead_s += time.perf_counter() - t0

    def release(self) -> None:
        """Charge what the current SparkContext recorded, then let it go;
        call before stopping a session."""
        self._charge()
        self._reader = None

    def _charge(self) -> None:
        if self._reader is None:
            return
        t0 = time.perf_counter()
        if self._stack:
            add(self._stack[-1]["spark"], self._reader.read())
        else:  # work outside every span is not attributed
            self._reader.skip()
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._charge()
        s = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": attrs,
            "spark": dict(ZERO),
            "start": time.perf_counter(),
        }
        self._next_id += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._charge()
            self._stack.pop()
            self.spans.append(s)

    def storage_bytes(self) -> int:
        if self._reader is None:
            return 0
        t0 = time.perf_counter()
        n = self._reader.storage_bytes()
        self.overhead_s += time.perf_counter() - t0
        return n

    # ------------------------------------------------------------ queries

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def subtree(self, span: dict) -> dict:
        """Status-store deltas of ``span`` and its descendants."""
        total = add(dict(ZERO), span["spark"])
        for c in self.children(span):
            add(total, self.subtree(c))
        return total

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s,
                       **extra}, f, indent=1, default=str)
