"""Routing — tag→Type dispatch, route-key computation, metadata stamps.

Reference: the worker loop head at /root/reference/lib/punt/cluster.go:

* tag dispatch with ``"*"`` catch-all fallback, else drop + ``msgs.unhandled``
  (cluster.go:253-263) → the registry is collected at *plan time* and
  compiled into one literal ``when/otherwise`` chain on the tag per route
  column; a specific route's NULL field takes the catch-all's value.
* ``indexString = prefix + timestamp.Format(date_format)`` (cluster.go:284)
  → ``route_key`` column. The timestamp is the *envelope* timestamp captured
  before transform (cluster.go:265) — unpack-take does not change the bucket.
* ``@timestamp`` + ``punt-server`` stamps (cluster.go:285-286).

Physical note: the registry is a handful of rows, so dispatch is plan-time
literals — no join, no broadcast, and no Spark job: ``routes_df`` is a
driver-local LocalRelation (``session.local_table``) whose collect runs no
job, where every collect or broadcast of a list-built one is a Python-worker
job. The per-route date_format is likewise resolved into a when/otherwise
chain over the distinct formats (never per-row interpretation of a format
string), so route_key stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import AT_TIMESTAMP_FORMAT, PipelineConfig
from .session import local_table

ROUTE_COLS = ["prefix", "mapping_type", "date_format", "transformer", "sink"]
ROUTE_SCHEMA = "tag string, " + ", ".join(f"{c} string" for c in ROUTE_COLS)


def routes_df(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """The Type registry (state.go:31-33) as a driver-local DataFrame."""
    rows = [
        (t.name, t.prefix, t.mapping_type, t.java_date_format, t.transformer, t.sink_name)
        for t in cfg.types.values()
    ]
    return local_table(spark, rows, ROUTE_SCHEMA)


def route(
    df: DataFrame,
    routes: DataFrame,
    ts_col: str = "ts",
    tag_col: str = "tag",
    job_id: str = "punt-spark",
) -> tuple[DataFrame, DataFrame]:
    """Dispatch rows to routes. Returns (routed, unhandled).

    routed gains: prefix, mapping_type, date_format, transformer, sink,
    route_key, ts_day, `@timestamp`, `punt-server`.
    unhandled = rows whose tag matches no route and no '*' exists
    (cluster.go:258-262) — kept as a side table for the metric.
    """
    registry = routes.collect()  # a LocalRelation: no Spark job
    catch = next((r for r in registry if r["tag"] == "*"), None)
    fallback = {c: catch[c] if catch is not None else None for c in ROUTE_COLS}
    specific: dict[str, dict] = {}
    for r in registry:
        if r["tag"] is None or r["tag"] == "*":
            continue
        if r["tag"] in specific:
            raise ValueError(f"route registry lists tag {r['tag']!r} twice")
        # a NULL field in a specific route takes the catch-all's value
        specific[r["tag"]] = {
            c: r[c] if r[c] is not None else fallback[c] for c in ROUTE_COLS
        }

    # One literal when/otherwise chain on the tag per route column. A NULL
    # or unknown tag matches no branch and takes the catch-all's value; with
    # no catch-all that is NULL, and a NULL sink marks the row unhandled.
    tag = F.col(tag_col)
    resolved = []
    for c in ROUTE_COLS:
        e = F.lit(fallback[c]).cast("string")
        for t, vals in specific.items():
            e = F.when(tag == t, F.lit(vals[c]).cast("string")).otherwise(e)
        resolved.append(e.alias(c))
    dispatched = df.select("*", *resolved)

    matched = dispatched.filter(F.col("sink").isNotNull())
    unhandled = dispatched.filter(F.col("sink").isNull()).drop(*ROUTE_COLS)

    # Resolve the per-route date format at plan time: one branch per distinct
    # format actually present in the registry. An EMPTY registry (no types
    # configured) is degenerate but constructible: every row is unhandled
    # and the routed side is empty — not an IndexError on fmts[0].
    fmts = sorted({row["date_format"] for row in registry})
    if not fmts:
        empty = matched.withColumns(
            {
                "route_key": F.lit(None).cast("string"),
                "ts_day": F.lit(None).cast("string"),
                "@timestamp": F.lit(None).cast("string"),
                "punt-server": F.lit(job_id),
            }
        ).limit(0)
        return empty, unhandled
    ts = F.col(ts_col)
    bucket = F.date_format(ts, fmts[0])
    for fmt in fmts[1:]:
        bucket = F.when(
            F.col("date_format") == fmt, F.date_format(ts, fmt)
        ).otherwise(bucket)

    routed = (
        matched.withColumn("route_key", F.concat(F.col("prefix"), bucket))
        .withColumn("ts_day", F.date_format(ts, "yyyy-MM-dd"))
        .withColumn("@timestamp", F.date_format(ts, AT_TIMESTAMP_FORMAT))
        .withColumn("punt-server", F.lit(job_id))
    )
    return routed, unhandled
