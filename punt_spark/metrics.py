"""Metrics — Punt's statsd counters/timings as metric tables.

Reference: per-tag counters ``msgs.received/processed/failed/unhandled``
(cluster.go:249-250,260-261,275-276,319), per-commit ``msgs.inserted`` /
``msgs.dropped`` (cluster.go:369,377), and stage latencies
(processing/write/commit — cluster.go:289,370,381).

Here counters ride jobs that run anyway — every per-tag counter comes from
the one aggregate that materializes the parse cache, and commit counters
from the snapshot manifests (pipeline.py) — latencies are driver wall-clock
spans, and per-partition lineage rows record how many rows each Spark
partition contributed to each commit — the `north_rule`'s lineage
requirement. This module is the accumulator the pipeline folds those
counts into.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import pandas as pd


class MetricsCollector:
    """Accumulates (chunk, stage, metric, tag, value) rows plus timings."""

    def __init__(self, job_id: str = "punt-spark"):
        self.job_id = job_id
        self.rows: list[dict] = []

    def count(self, metric: str, chunk: str, value: int, tag: str | None = None):
        self.rows.append(
            {"chunk": chunk, "metric": metric, "tag": tag, "value": int(value)}
        )

    def gauge(self, metric: str, chunk: str, value: float):
        """A point-in-time level, not an increment — A5's runtime gauges
        (reference RunRuntimeCollector, metrics.go:17-27: CPU/Mem/GC
        pushed as statsd gauges). Stored under a ``gauge.`` prefix so
        :meth:`totals` folds them last-value-wins instead of summing."""
        self.rows.append(
            {
                "chunk": chunk,
                "metric": f"gauge.{metric}",
                "tag": None,
                "value": float(value),
            }
        )

    @contextmanager
    def timing(self, metric: str, chunk: str):
        """Wall-clock span, the statsd Timing analog (cluster.go:289)."""
        t0 = time.monotonic()
        yield
        self.rows.append(
            {
                "chunk": chunk,
                "metric": metric,
                "tag": None,
                "value": time.monotonic() - t0,
            }
        )

    def to_pandas(self) -> pd.DataFrame:
        df = pd.DataFrame(
            self.rows, columns=["chunk", "metric", "tag", "value"]
        )
        df["job_id"] = self.job_id
        return df

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for r in self.rows:
            if r["metric"].startswith("lineage."):
                continue
            if r["metric"].startswith("gauge."):
                # a level, not a flow: the latest snapshot is the total
                out[r["metric"]] = r["value"]
            else:
                out[r["metric"]] = out.get(r["metric"], 0) + r["value"]
        return out


def runtime_gauges(spark) -> dict[str, float]:
    """Snapshot the Spark runtime's CPU/Mem/GC levels — the A5 analog of
    the reference's host runtime collector (metrics.go:17-27, which gauges
    the Go runtime's CPU/mem/GC into statsd). Here the runtime is the
    driver JVM + executors, read through JMX/py4j and the SparkContext —
    pure driver-side bean reads, ZERO Spark jobs (the metrics budget is
    jobs-per-group, pipeline.py module docstring).

    Best-effort by design: any bean missing on an exotic JVM (or a
    connect-mode session with no ``_jvm``) just omits its keys rather than
    failing the pipeline over telemetry."""
    g: dict[str, float] = {}
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory
    except Exception:
        return g
    try:
        heap = mf.getMemoryMXBean().getHeapMemoryUsage()
        g["jvm_heap_used_bytes"] = float(heap.getUsed())
        g["jvm_heap_committed_bytes"] = float(heap.getCommitted())
        g["jvm_heap_max_bytes"] = float(heap.getMax())
    except Exception:
        pass
    try:
        gcs = mf.getGarbageCollectorMXBeans()
        count, ms = 0, 0
        for i in range(gcs.size()):
            b = gcs.get(i)
            count += max(b.getCollectionCount(), 0)
            ms += max(b.getCollectionTime(), 0)
        g["jvm_gc_count"] = float(count)
        g["jvm_gc_time_ms"] = float(ms)
    except Exception:
        pass
    try:
        osb = mf.getOperatingSystemMXBean()
        load = osb.getSystemLoadAverage()
        if load >= 0:  # -1 = not available on this platform
            g["system_load_avg"] = float(load)
        # com.sun.management extension — present on HotSpot; py4j
        # dispatches on the concrete class so the cast is implicit
        cpu = osb.getProcessCpuLoad()
        if cpu >= 0:
            g["jvm_process_cpu_load"] = float(cpu)
    except Exception:
        pass
    try:
        # block-manager roster: driver + executors (1 in local mode;
        # tracks the live executor count on a cluster)
        g["executor_count"] = float(
            spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
        )
    except Exception:
        pass
    try:
        import resource

        # Linux ru_maxrss is KiB — the Python driver process's high-water
        # memory (the half of the runtime the JVM beans can't see)
        g["driver_python_rss_bytes"] = float(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
        )
    except Exception:
        pass
    return g
