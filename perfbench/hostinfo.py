"""Host-derived settings and host-noise stamps.

Nothing here is a constant of one machine: cores come from the CPU
affinity mask (what ``nproc`` prints), driver memory from
``/proc/meminfo``, and the Spark scratch directory from a temp root the
caller creates and removes.
"""

from __future__ import annotations

import gc
import os
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_memory_mb() -> int:
    """An eighth of physical memory, kept within 1-2 GiB: the inputs are
    small (the largest live heap a workload leaves is about 0.6 GiB), and
    the host may be shared.  ``MemTotal`` rather than what is free now, so
    that every run on a host gets the same heap."""
    return max(1024, min(2048, _meminfo_kb("MemTotal") // 8192))


def spark_conf(tmp_root: str) -> dict[str, str]:
    """Session settings for every benchmark session on this host.  Also
    points ``SPARK_LOCAL_DIRS``, which overrides ``spark.local.dir``, at
    the temp root, so no caller's setting sends scratch files elsewhere,
    and keeps every JVM (the launcher's too) from writing its hsperfdata
    file, which goes to the system temp dir whatever ``java.io.tmpdir``
    says."""
    jvm_tmp = os.path.join(tmp_root, "jvm")
    local = os.path.join(tmp_root, "spark-local")
    os.makedirs(jvm_tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, ("-XX:-UsePerfData", os.environ.get("JAVA_TOOL_OPTIONS"))))
    mem = driver_memory_mb()
    return {
        "spark.driver.memory": f"{mem}m",
        # a heap fixed from the start: no heap-growth phase in early passes
        "spark.driver.extraJavaOptions": f"-Xms{mem}m -Djava.io.tmpdir={jvm_tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp_root, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads stages and SQL executions back by id
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _cpu_pressure_us() -> int:
    """Total time some runnable task waited for a CPU (``/proc/pressure``),
    in microseconds; 0 where the kernel does not report it.  Unlike steal,
    this also sees waiting caused by a container's CPU quota."""
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return 0


class Stamp:
    """Host steal share, CPU pressure and load average over one timed
    region."""

    def __init__(self) -> None:
        self._steal0, self._total0 = _cpu_jiffies()
        self._wait0 = _cpu_pressure_us()
        self._t0 = time.perf_counter()

    def close(self) -> dict[str, float]:
        steal, total = _cpu_jiffies()
        seconds = time.perf_counter() - self._t0
        return {
            "steal_pct": 100.0 * (steal - self._steal0)
            / max(total - self._total0, 1),
            "cpu_wait_pct": (_cpu_pressure_us() - self._wait0) / 1e4 / seconds,
            "load_1m": os.getloadavg()[0],
            "seconds": seconds,
        }


def jvm_live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after full collections, in MiB: what
    the run leaves reachable, independent of when the collector last ran.
    Python's collector runs first: py4j keeps a JVM object alive until
    its Python proxy is freed, and proxies caught in reference cycles wait
    for that collector.  The JVM then collects until two reads agree
    within 1 %: Spark's context cleaner frees shuffle and broadcast state
    only after a collection has found its owner unreachable, so one
    collection can leave garbage for the next."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = prev = None
    for _ in range(6):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        used = heap.getHeapMemoryUsage().getUsed()
        if prev is not None and abs(used - prev) <= 0.01 * prev:
            break
        prev = used
    return used / (1024.0 * 1024.0)


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (``VmHWM``), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
