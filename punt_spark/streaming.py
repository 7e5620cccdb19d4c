"""Structured Streaming variant — the shape closest to the reference's
continuously-running daemon.

Reference mapping (SURVEY.md §2.9): Punt's TCP/UDP listeners feeding a
bounded channel become ``readStream`` over the transcript table (file
source here; Kafka/Iceberg streaming source on a real deployment); the
bulk-buffer + commit-interval loop (cluster.go:307-338) becomes micro-batch
triggers; per-batch snapshot commits via ``foreachBatch`` keep the sink
layout identical to the batch pipeline (one manifest per micro-batch,
exactly-once via the streaming checkpoint + idempotent snapshot ids).

``Trigger.AvailableNow`` drains the backlog and stops — the batch/streaming
boundary is just a trigger choice: each micro-batch runs the same group
body as a batch group (``MetricsPlumbing._process_group`` in pipeline.py).

Alerts in the daemon use that body's ``rollup_all`` per micro-batch, like
batch (windows straddling a micro-batch boundary roll up per batch).
``streaming_alert_counts`` (event-time tumbling windows with a watermark,
late rows dropped) and ``stateful_alert_windows`` are separate helpers over
a streaming frame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .pipeline import MetricsPlumbing
from .sink import CHUNK_COL, chunk_expr

# Not called here (the group body lives in pipeline.py): perfbench/trace.py
# wraps these names on this module as well as on pipeline.
from .alerts import render_actions, rollup_all  # noqa: F401
from .enrich import apply_mutators  # noqa: F401
from .parse import with_parsed  # noqa: F401
from .route import route  # noqa: F401
from .sink import salted_write_layout  # noqa: F401
from .transform import apply_transformer  # noqa: F401

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


class StreamingPipeline(MetricsPlumbing):
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig | None = None,
        out_dir: str = "./punt_stream_out",
        lookups: dict[str, DataFrame] | None = None,
        dedup_within: str | None = None,
        collect_metrics: bool = False,
        frame_mode: str = "none",
        max_dynamic_tags: int = 100,
    ):
        """``dedup_within`` (e.g. "10 minutes") enables ingest-time exact
        dedup on (conv_id, turn_idx) via ``dedup_stream`` — an
        at-least-once source (the reference's UDP listener, a retrying
        producer) stops double-counting without unbounded state.

        The processing knobs are the batch ``Pipeline``'s: ``frame_mode``
        (newline/octet framing before parse) and ``collect_metrics`` — the
        same zero-extra-job counter set as batch (scan-materialization
        aggregate + per-sink observe() + manifest footer lineage),
        accumulated across micro-batches and written to
        ``<out>/metrics.parquet`` when the drain finishes. Counter
        attribution granularity differs ONLY for commit-derived counters
        (msgs.inserted / parse_errors): their chunk label is the
        micro-batch id, because one streaming snapshot may span several
        ts-days; per-tag totals still line up with batch exactly."""
        super().__init__(
            spark, cfg, out_dir, lookups, collect_metrics, frame_mode,
            max_dynamic_tags,
        )
        self.dedup_within = dedup_within
        self.checkpoint = os.path.join(out_dir, "_checkpoint")

    def _process_batch(self, batch_df: DataFrame, batch_id: int):
        """foreachBatch prelude to the group body: one micro-batch is one
        group, committed as one snapshot with id = batch id, so a batch
        re-delivered after a checkpoint recovery overwrites idempotently
        instead of duplicating."""
        sid = f"batch-{batch_id:08d}"
        gdf = batch_df.withColumn(
            CHUNK_COL, chunk_expr("ts")
        ).withColumnRenamed("ts", "turn_ts")
        self._process_group(gdf, sid, sid, None)

    def run_available_now(self, input_path: str, max_files_per_trigger: int | None = None):
        """Drain the input directory and stop (micro-batch mode)."""
        reader = (
            self.spark.readStream.schema(TRANSCRIPT_SCHEMA)
        )
        if os.path.isfile(input_path):
            # a single parquet FILE (pandas-written fixture): the file
            # stream source requires a DIRECTORY — stream the parent,
            # glob-filtered to exactly this file (abspath first: a bare
            # relative filename has dirname '' and an empty path crashes
            # the source)
            reader = reader.option(
                "pathGlobFilter", os.path.basename(input_path)
            )
            input_path = os.path.dirname(os.path.abspath(input_path))
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(input_path)
        if self.dedup_within:
            stream = dedup_stream(
                stream, ["conv_id", "turn_idx"], "ts", self.dedup_within
            )
        q = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if self.collect_metrics:
            self._write_metrics()
        return q


def tail_stream(spark: SparkSession, table):
    """Unbounded stream over ONE sink table's committed files (the
    building block of live_tail): readStream over the data directory,
    projected to the table's reader columns. The table's partition spec is
    uniform by contract (SnapshotTable rejects spec changes at commit
    time), so one fixed-depth leaf glob covers every snapshot."""
    batch_df = table.read(spark)
    if batch_df is None:
        raise ValueError(f"cannot tail empty sink table {table.root!r}")
    manifests = table.snapshots()
    n_parts = max(
        (len(m.get("partition_cols", [])) for m in manifests.values()),
        default=0,
    )
    # leaf-dir glob depth = batch=<id> dir + one level per partition col.
    # The first level must name published batches: a glob's matches are
    # listing roots, which skip Spark's hidden-file filter, so a bare ``*``
    # would match an in-flight ``.tmp.batch=<id>/_temporary/0`` and fail
    # the query on its deeper layout (or read uncommitted rows).
    leaf_glob = os.path.join(table.data_dir, "batch=*", *(["*"] * n_parts))
    return (
        spark.readStream.schema(batch_df.schema)
        .option("basePath", table.data_dir)
        .parquet(leaf_glob)
        # the file source appends discovered partition dirs (batch/chunk
        # bookkeeping) even when absent from the schema — project back to
        # the table's reader columns
        .select(*batch_df.columns)
    )


def live_tail(
    spark: SparkSession,
    table,
    filters: dict[str, str] | None = None,
    sample_pct: int = 100,
    seed: int = 42,
    query_name: str = "punt_tail",
    follow: bool = False,
    trigger_sec: int = 1,
    foreach_batch=None,
):
    """LIVE tail of a sink table (or a LIST of tables, fanned in like
    punt-cli's multi-host tail) — the streaming analog of the reference's
    control-socket ``tail`` subscription (control.go:80-143): a subscriber
    attaches to a Type's output and receives matching rows as they are
    committed.

    ``readStream`` over the sink table's data directory is the subscriber
    channel: each new micro-batch picks up files from commits that landed
    since the last trigger. Filter + sample semantics are shared with the
    batch ``tail()`` (field-equality conjunction, ~pct% sample). Rows land
    in an in-memory sink queryable as ``SELECT * FROM <query_name>`` (or
    are handed to ``foreach_batch`` when given — the console/socket writer
    analog).

    ``follow=False`` drains what is currently committed and stops
    (Trigger.AvailableNow); ``follow=True`` keeps polling every
    ``trigger_sec`` seconds like a real tail -f. Returns the
    StreamingQuery — caller stops it.

    Scale note: the stream reads ONLY the tailed sink's directory and
    prunes partition dirs like the batch reader; the memory sink bounds
    nothing, so production use passes foreach_batch (the reference writes
    to the control socket and drops the subscriber on disconnect).

    Delivery contract: the subscription is FILE-level, not manifest-level.
    In-flight and crash-orphaned writes are invisible (staging dirs are
    dot-prefixed, published only by atomic rename), but a batch later
    superseded by a crash-resume re-commit may already have been tailed —
    an at-least-once tail, vs the reference's lossy best-effort one
    (control.go drops rows on slow subscribers)."""
    from .tail import tail as tail_transform

    tables = table if isinstance(table, (list, tuple)) else [table]
    streams = [tail_stream(spark, t) for t in tables]
    # multi-table fan-in: punt-cli tails the SAME stream type on several
    # hosts and merges the lines (cmd/punt-cli/main.go:22-74); several
    # cluster lanes' sink tables union the same way (schema gaps → nulls)
    stream = streams[0]
    for s in streams[1:]:
        stream = stream.unionByName(s, allowMissingColumns=True)
    out = tail_transform(stream, filters, sample_pct, seed)
    writer = out.writeStream.queryName(query_name)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.format("memory").outputMode("append")
    if follow:
        writer = writer.trigger(processingTime=f"{trigger_sec} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_alert_windows(
    stream: DataFrame,
    match: str,
    window_sec: int = 2,
    source_field: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """EVENT-ALIGNED alert rollup windows via a custom stateful operator —
    the reference's exact window semantics (alert.go:50-65: the FIRST
    matching event opens the window; everything arriving within
    rollup_window seconds piles in; then the window fires once), which
    epoch-aligned ``F.window`` tumbling cannot express.

    Implemented with ``applyInPandasWithState`` keyed by a constant alert
    key: state = (open window start, count); a window is emitted as soon as
    an event lands beyond its end. The trailing open window stays in state
    until a later event closes it (a processing-time timeout would also
    close it on a live stream, but a timeout keeps an AvailableNow drain
    alive indefinitely — so flush-by-successor only). Demo-scale note: the
    constant grouping key serializes this operator on one task — per
    north_star there is one window state per alert (a handful), so this
    matches the reference's one-goroutine-per-alert structure; it is not a
    data-parallel path.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    matched = stream.filter(F.col(source_field).rlike(match)).select(
        F.lit("alert").alias("k"), F.col(ts_col).alias("ts")
    )

    out_schema = "window_start timestamp, n_events int"
    state_schema = "start long, n int"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: F811

        rows = []
        start, n = state.get if state.exists else (None, 0)
        # nanosecond event times: truncating to whole seconds changed
        # window membership near boundaries (events 1.2 s apart could
        # truncate to 0 and 2 and split a 2 s window the reference's
        # first-event-anchored semantics would keep together)
        window_ns = int(window_sec * 1_000_000_000)
        events = []
        for pdf in pdfs:
            events.extend(int(t.value) for t in pd.to_datetime(pdf["ts"]))
        for t in sorted(events):
            if start is None:
                start, n = t, 1
            elif t < start + window_ns:
                n += 1
            else:
                rows.append((pd.Timestamp(start, unit="ns"), n))
                start, n = t, 1
        if start is not None:
            state.update((start, n))
        yield pd.DataFrame(rows, columns=["window_start", "n_events"])

    return matched.groupBy("k").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_alert_counts(
    stream: DataFrame,
    match: str,
    window_sec: int = 2,
    watermark: str = "10 seconds",
    source_field: str = "text",
) -> DataFrame:
    """Watermarked tumbling-window alert rollup over a streaming frame —
    the streaming analog of alerts.rollup (A4). Late rows beyond the
    watermark are dropped."""
    return (
        stream.withWatermark("ts", watermark)
        .filter(F.col(source_field).rlike(match))
        .groupBy(F.window("ts", f"{window_sec} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col("n_events"),
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    watermark_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — ingest-time exactly-once over an
    at-least-once source (the reference's UDP listener happily delivers
    duplicates; a retrying Kafka producer does too). Duplicate ``keys``
    arriving within ``delay`` of each other are dropped;
    ``dropDuplicatesWithinWatermark`` evicts state as the event-time
    watermark advances, so state stays bounded by the delay window — a
    plain streaming ``dropDuplicates`` would grow state forever at
    10¹²-turn scale.

    Training-data shape: this is the streaming twin of
    ``dataops.dedup.exact_dedup`` for continuously-ingested corpora — keys
    are typically (conv_id, turn_idx) or a content fingerprint
    (``textstats.with_fingerprint`` upstream)."""
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        keys
    )
