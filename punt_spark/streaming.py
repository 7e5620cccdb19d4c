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
boundary is just a trigger choice; all transform logic is shared with
pipeline.py.

The alert path in streaming mode uses event-time tumbling windows with a
watermark (late rows beyond the watermark are dropped — the reference has
no late-data concept at all; its windows are wall-clock arrival-based).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .alerts import matched_events, render_actions, rollup_all
from .config import PipelineConfig, TypeConfig, default_config
from .enrich import apply_mutators
from .metrics import MetricsCollector
from .parse import with_parsed, with_parsed_native
from .pipeline import MetricsPlumbing, slim_parse_projection
from .route import route, routes_df
from .sink import (
    CHUNK_COL,
    SnapshotTable,
    chunk_expr,
    enforce_mapping,
    salted_write_layout,
)
from .transform import apply_transformer

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
        use_native_parse: bool = False,
        collect_metrics: bool = False,
        parallel_sink_writes: bool = True,
        frame_mode: str = "none",
        max_dynamic_tags: int = 100,
    ):
        """``dedup_within`` (e.g. "10 minutes") enables ingest-time exact
        dedup on (conv_id, turn_idx) via ``dedup_stream`` — an
        at-least-once source (the reference's UDP listener, a retrying
        producer) stops double-counting without unbounded state.

        The processing knobs mirror the batch ``Pipeline``:
        ``use_native_parse`` (JVM regexp path), ``frame_mode``
        (newline/octet framing before parse), ``parallel_sink_writes``
        (concurrent snapshot commits from driver threads), and
        ``collect_metrics`` — the same zero-extra-job counter set as batch
        (scan-materialization aggregate + per-sink observe() + manifest
        footer lineage), accumulated across micro-batches and written to
        ``<out>/metrics.parquet`` when the drain finishes. Counter
        attribution granularity differs ONLY for commit-derived counters
        (msgs.inserted / parse_errors): their chunk label is the
        micro-batch id, because one streaming snapshot may span several
        ts-days; per-tag totals still line up with batch exactly."""
        if frame_mode not in ("none", "newline", "octet"):
            raise ValueError(f"unknown frame_mode {frame_mode!r}")
        self.spark = spark
        self.cfg = cfg or default_config()
        self.out_dir = out_dir
        self.lookups = lookups or {}
        self.dedup_within = dedup_within
        self.use_native_parse = use_native_parse
        self.collect_metrics = collect_metrics
        self.parallel_sink_writes = parallel_sink_writes
        self.frame_mode = frame_mode
        self.max_dynamic_tags = max_dynamic_tags
        self.metrics = MetricsCollector(self.cfg.job_id)
        self.checkpoint = os.path.join(out_dir, "_checkpoint")
        self.sinks = {
            t.sink_name: SnapshotTable(os.path.join(out_dir, t.sink_name))
            for t in self.cfg.types.values()
        }
        self.errors_table = SnapshotTable(os.path.join(out_dir, "errors"))
        self.alerts_table = SnapshotTable(os.path.join(out_dir, "alerts"))
        self.actions_table = SnapshotTable(os.path.join(out_dir, "actions"))
        self._routes = routes_df(spark, self.cfg)
        # startup index-template push, same as the batch Pipeline — the
        # daemon shape must leave the identical <out>/_ddl contract
        self._emit_ddl()

    def _process_batch(self, batch_df: DataFrame, batch_id: int):
        """foreachBatch body — mirrors Pipeline._run_group for one
        micro-batch: slim parse cache, scan-stats materialization,
        concurrent per-sink transform→enrich→commit with observation
        counters, errors/alerts/actions side outputs. Snapshot id = batch
        id → re-delivered batches (after a checkpoint recovery) overwrite
        idempotently instead of duplicating."""
        cfg = self.cfg
        m = self.metrics
        sid = f"batch-{batch_id:08d}"
        gdf = batch_df.withColumn(
            CHUNK_COL, chunk_expr("ts")
        ).withColumnRenamed("ts", "turn_ts")
        if self.frame_mode != "none":
            from .framing import frame_records

            gdf = frame_records(gdf, self.frame_mode, "text")
        parser = with_parsed_native if self.use_native_parse else with_parsed
        raw = parser(gdf, "text", cfg.reference_year)
        cached = slim_parse_projection(raw).cache()
        try:
            # Materialize before the concurrent consumers; when metrics are
            # on the materialization aggregate doubles as the lineage +
            # dynamic-tag counter collection AND yields the batch's chunk
            # roster for the per-sink observation expressions (batch mode
            # knows its chunk group upfront; a micro-batch discovers it).
            with m.timing("parse_latency", sid):
                if self.collect_metrics:
                    chunks = self._record_scan_stats(cached, sid)
                else:
                    cached.count()
                    chunks = []
            errors = cached.filter(~F.col("parse_ok")).select(
                F.col(CHUNK_COL),
                F.col("raw_text").alias("data"),
                F.col("parse_error").alias("error"),
            )
            envelope = (
                cached.filter(F.col("parse_ok"))
                .drop("parse_ok", "raw_text", "parse_error")
                .withColumn("source", F.concat(F.lit("conv:"), F.col("conv_id")))
            )
            routed, _ = route(envelope, self._routes, job_id=cfg.job_id)
            alert_events: dict[str, list] = {a.name: [] for a in cfg.alerts}
            static_sink = {
                t.sink_name: t.name != "*" for t in cfg.types.values()
            }

            def write_sink(t: TypeConfig):
                sub = routed.filter(F.col("sink") == t.sink_name)
                obs = None
                if self.collect_metrics and static_sink[t.sink_name] and chunks:
                    obs, sub = self._observe_sink_counters(sub, t, chunks)
                transformed, _failed = apply_transformer(sub, t)
                enriched = apply_mutators(transformed, t.mutators, self.lookups)
                # CHUNK_COL is micro-batch bookkeeping (observe grouping),
                # not table data: streaming commits partition on
                # (route_key, ts_day) only, so a retained chunk column
                # would (a) be physically stored in every sink file
                # (batch stores it only as a partition dir) and (b) lead
                # salted_write_layout's sortWithinPartitions, which the
                # V1 writer's (route_key, ts_day) required ordering is
                # not a prefix of — Spark would discard the salted sort
                # and re-sort every task.
                final = enriched.drop(
                    "prefix", "mapping_type", "date_format", "transformer",
                    "sink", CHUNK_COL,
                )
                final = enforce_mapping(final, cfg.mappings.get(t.mapping_type))
                out = salted_write_layout(final, cfg.salt_buckets)
                with m.timing(f"write_latency.{t.sink_name}", sid):
                    man = self.sinks[t.sink_name].commit(
                        out,
                        snapshot_id=sid,
                        footer_lineage=self.collect_metrics,
                    )
                return t, enriched, man, obs, sub

            types = list(cfg.types.values())
            if self.parallel_sink_writes and len(types) > 1:
                with ThreadPoolExecutor(max_workers=min(4, len(types))) as ex:
                    results = list(ex.map(write_sink, types))
            else:
                results = [write_sink(t) for t in types]

            for t, enriched, man, obs, sub in results:
                if self.collect_metrics:
                    n = man.get("lineage", {}).get("n_rows", 0)
                    if n:
                        m.count("msgs.inserted", sid, n, tag=t.sink_name)
                    if obs is not None:
                        self._record_observed_counters(obs, t, chunks, sub)
                for a in cfg.alerts:
                    ev = matched_events(enriched, a, t.name)
                    if ev is not None:
                        alert_events[a.name].append(ev)
            err_man = self.errors_table.commit(
                errors.coalesce(2),
                snapshot_id=sid,
                partition_cols=[],
                footer_lineage=self.collect_metrics,
            )
            if self.collect_metrics:
                n = err_man.get("lineage", {}).get("n_rows", 0)
                if n:
                    m.count("parse_errors", sid, n)
            # alert rollup + rendered actions per micro-batch, same idempotent
            # snapshot id — re-delivered batches overwrite, not duplicate.
            # (Windows straddling a batch boundary roll up per batch — the
            # reference's wall-clock windows have the same arrival-split
            # behavior, alert.go:50-65.)
            rolled = rollup_all(alert_events, cfg.alerts)
            if rolled is not None:
                rolled = rolled.coalesce(2).cache()
                self.alerts_table.commit(
                    rolled, snapshot_id=sid,
                    partition_cols=[],
                )
                acts = render_actions(rolled, cfg.alerts, cfg.actions)
                if acts is not None:
                    self.actions_table.commit(
                        acts, snapshot_id=sid,
                        partition_cols=[],
                    )
                rolled.unpersist()
            if self.collect_metrics:
                # A5 gauges at the micro-batch commit boundary — same
                # zero-job JMX snapshot as the batch group boundary
                self._snapshot_gauges(sid)
        finally:
            cached.unpersist()

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
