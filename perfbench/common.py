"""Shared helpers: the Spark session, ambient load, JVM memory, statistics."""

from __future__ import annotations

import os
import statistics
import time


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_session(n_cores: int):
    """Build the session through the engine's own factory, ``local[n]``,
    with its default driver heap. Returns ``(spark, seconds)``."""
    from structured_streaming_cassandra_sink_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n_cores}]", shuffle_partitions=n_cores)
    spark.sparkContext.setLogLevel("ERROR")
    # The first job pays for JVM class loading; count it as session start.
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def effective_conf(spark) -> dict[str, str]:
    """The Spark settings a run used (only the ones that shape timing)."""
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.")
    return {k: v for k, v in sorted(conf.items()) if k.startswith(keep)}


def _cpu_jiffies() -> tuple[int, int, int] | None:
    """(total, idle+iowait, steal) jiffies from the aggregate cpu line."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[3] + vals[4], vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return None


class Ambient:
    """Load average and CPU busy/steal share over the life of a run, the
    same quantities ``bench.py`` samples, so a noisy run shows why."""

    def __init__(self) -> None:
        self._start = _cpu_jiffies()

    def sample(self) -> dict:
        rec: dict = {}
        try:
            with open("/proc/loadavg") as fh:
                rec["loadavg"] = [float(x) for x in fh.read().split()[:3]]
        except (OSError, ValueError):
            pass
        cur = _cpu_jiffies()
        if self._start is not None and cur is not None and cur[0] > self._start[0]:
            dt = cur[0] - self._start[0]
            rec["cpu_busy_frac"] = round(1.0 - (cur[1] - self._start[1]) / dt, 4)
            rec["cpu_steal_frac"] = round((cur[2] - self._start[2]) / dt, 6)
        return rec


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, from ``/proc``."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc status of the JVM")


def p75(values: list[float]) -> float:
    """75th percentile, linear interpolation between order statistics."""
    return statistics.quantiles(values, n=4, method="inclusive")[2]


def median(values: list[float]) -> float:
    return statistics.median(values)


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys against xs (0.0 when xs do not vary)."""
    if len(set(xs)) < 2:
        return 0.0
    return statistics.linear_regression(xs, ys).slope
