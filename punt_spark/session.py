"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster reading ~100 TB; tested on local[N].
Every knob here is a public Spark conf.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

DEFAULT_SHUFFLE_PARTITIONS = 32

# The load-bearing session settings, shared by EVERY entry point (local CLI,
# tests, bench, and scripts/submit_job.py on a real cluster) so deployed
# behavior cannot drift from what was tested:
#
# * AQE on: runtime coalescing + skew-join splitting — load-bearing for the
#   hot-conversation skew called out in SURVEY.md §4.
# * Arrow on: every Python-side stage is a pandas or Arrow UDF over Arrow
#   batches.
# * Session timezone pinned UTC: the reference formats ``@timestamp`` as
#   ``2006-01-02T15:04:05+00:00`` (cluster.go:285); reproducibility demands
#   wall-clock independence.
# * timeParserPolicy CORRECTED: RFC3164 timestamps parse with try_to_*
#   semantics, never the legacy parser's silent coercions.
# * partition values are strings by contract (ts_day, route_key);
#   inference would read ts_day back as DATE.
# * zstd over snappy for sink parquet: measured 28% fewer bytes on the
#   transcript workload and never slower end-to-end on the I/O-bound
#   sandbox (25.8-27.6s vs 25.9-38.6s per 2.4M-turn run); at cluster
#   scale the byte reduction also cuts downstream scan cost.
SESSION_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    "spark.sql.parquet.compression.codec": "zstd",
}

# Local-mode-only tuning, NOT shipped to spark-submit sessions: the
# broadcast threshold is pinned so the intent survives config drift, and the
# UI is off. Scan widths are left to Spark: FilePartition.maxSplitBytes
# divides (bytes + openCostInBytes per file) by defaultParallelism, so up to
# P small files keep one partition each (backfill's 4 part files scan as 4)
# and more pack into about P (a 100-file trickle micro-batch scans as ~4).
# Every extra scan partition is a task in the parse cache, the scan stats,
# each sink's map stage and the alert union, which all re-scan the input.
LOCAL_CONF: dict[str, str] = {
    "spark.sql.autoBroadcastJoinThreshold": "10m",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "punt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this pipeline — SESSION_CONF
    (shared with the spark-submit path) + local-mode tuning."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("PUNT_SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.driver.memory", os.environ.get("PUNT_SPARK_DRIVER_MEM", "8g"))
    )
    for conf in (SESSION_CONF, LOCAL_CONF, extra_conf or {}):
        for k, v in conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A tiny literal table (rows of tuples, DDL ``schema``) as a driver-local
    LocalRelation built from an Arrow table. ``createDataFrame`` over a Python
    list plans a Python RDD instead: every collect or broadcast of it is a
    4-task job that starts Python workers (measured ~0.4 s each), where a
    LocalRelation collects in ~10 ms with no job at all. The explicit Arrow
    schema keeps None, bools, quotes and backslashes exact, rejects values of
    the wrong type, and does not depend on
    ``spark.sql.execution.arrow.pyspark.enabled``."""
    arrow_schema = to_arrow_schema(DataType.fromDDL(schema))
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table)
