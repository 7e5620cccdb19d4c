"""End-to-end pipeline: read → parse → route → transform → enrich → fan-out
commit, with per-chunk resume, metrics, lineage, and alerts.

This is the Spark re-expression of the reference's daemon main path
(cmd/puntd/main.go → State.Run → ClusterWorker.run, cluster.go:233-324):
one linear DataFrame plan per input *group*, with node boundaries exactly at
the salted repartition (shuffle) and the snapshot commits (write).

Execution shape (scale rationale):

* Input is chunked by ts-day (the resume/exactly-once unit) but *processed*
  in groups: all pending chunks go through ONE parse+route pass and ONE
  write job per sink (``commit_batch`` slices the write into per-chunk
  snapshot manifests). A 30-day backfill is ~K sink jobs, not 30×K — at
  bench scale this is the difference between per-job latency dominating and
  actual throughput. Every commit's manifest records per-partition row
  counts from the parquet footers, with metrics on or off; the
  ``msgs.inserted`` and ``parse_errors`` counters read them.
* The parse output (the one Python/Arrow stage) is cached once per group;
  routing is plan-time literal expressions over it (route.py), a narrow
  projection each consumer recomputes at no job cost. The aggregate that
  materializes the cache also yields every ``msgs.received/processed/
  failed/unhandled`` counter, static and data-dependent tags alike.
* Group outputs (sinks, errors, alerts, actions) are independent → all
  commit concurrently from one pool of driver threads (Spark schedules
  them in parallel), like the reference's per-type goroutine fan-out (R7).
* Groups are formed deterministically from the sorted pending-chunk list,
  so a crash-resume re-forms identical groups → identical batch ids →
  idempotent overwrite; every output's manifests are per chunk, so one
  that finds NEW chunks (a different group id) overwrites them too.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .alerts import matched_events, render_actions, rollup_all
from .config import PipelineConfig, default_config
from .enrich import apply_mutators
from .metrics import MetricsCollector, runtime_gauges
from .parse import with_parsed
from .route import route, routes_df
from .sink import (
    CHUNK_COL,
    SnapshotTable,
    chunk_expr,
    enforce_mapping,
    salted_write_layout,
)
from .transform import apply_transformer

# Metrics cap on data-dependent tags: the top-K named tags per chunk come
# back to the driver, the rest fold into one '__other__' row per chunk.
MAX_DYNAMIC_TAGS = 100
# Chunks per batch group: one parse pass and one write job per sink.
MAX_CHUNKS_PER_GROUP = 64


class _Output(NamedTuple):
    """One group output to commit; its jobs are described ``punt:<job>``
    and its manifests' rows fold into ``counter``/``tag``."""

    job: str
    table: SnapshotTable
    df: DataFrame
    partition_cols: list[str] | None = None
    counter: str | None = None
    tag: str | None = None


def slim_parse_projection(raw: DataFrame) -> DataFrame:
    """The slim parse-boundary projection — envelope fields flattened, raw
    text retained only for FAILED rows (the errors side output), roughly
    halving cached bytes. Used by the group body
    (``MetricsPlumbing._process_group``) and by perfbench's prefix legs,
    which rebuild the parse plan the way the pipeline does."""
    extra_meta = ["record_idx"] if "record_idx" in raw.columns else []
    return raw.select(
        CHUNK_COL,
        "conv_id",
        "turn_idx",
        *extra_meta,
        "role",
        "tool",
        "turn_ts",
        "parse_ok",
        F.when(~F.col("parse_ok"), F.col("text")).alias("raw_text"),
        "parsed.priority",
        "parsed.ts",
        "parsed.hostname",
        "parsed.tag",
        "parsed.pid",
        "parsed.content",
        F.col("parsed.error").alias("parse_error"),
    )


class MetricsPlumbing:
    """The group body shared by the batch ``Pipeline`` and the
    ``StreamingPipeline`` (streaming.py) — parse cache, scan stats,
    errors, route, alert fan-in and the concurrent commits of every
    output — plus its counter/lineage machinery: the scan-materialization
    aggregate that yields every ``msgs.*`` counter, the commit-manifest
    counters and the metrics.parquet writer. The
    subclasses differ only in how they form a group's input and what they
    do around it (chunk markers vs. the streaming checkpoint)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig | None,
        out_dir: str,
        lookups: dict[str, DataFrame] | None,
        collect_metrics: bool,
        frame_mode: str,
    ):
        if frame_mode not in ("none", "newline", "octet"):
            raise ValueError(f"unknown frame_mode {frame_mode!r}")
        self.spark = spark
        self.cfg = cfg or default_config()
        self.out_dir = out_dir
        self.lookups = lookups or {}
        self.collect_metrics = collect_metrics
        self.frame_mode = frame_mode
        self.metrics = MetricsCollector(self.cfg.job_id)
        self.sinks = {
            t.sink_name: SnapshotTable(os.path.join(out_dir, t.sink_name))
            for t in self.cfg.types.values()
        }
        self.errors_table = SnapshotTable(os.path.join(out_dir, "errors"))
        self.alerts_table = SnapshotTable(os.path.join(out_dir, "alerts"))
        self.actions_table = SnapshotTable(os.path.join(out_dir, "actions"))
        self._routes = routes_df(spark, self.cfg)
        self._emit_ddl()

    def _record_scan_stats(self, cached: DataFrame, glabel: str) -> None:
        """Every per-tag counter, recorded by the CACHE-MATERIALIZATION
        action itself (a full-scan grouped aggregate computes every cached
        partition exactly like ``count()`` would, so this costs zero
        additional jobs):

        * ``lineage.routed.partition_rows`` — per-Spark-partition routed row
          counts (north_rule lineage; ``spark_partition_id`` is captured
          before the aggregation shuffle and is identical to the pid the
          downstream narrow route projection sees);
        * ``msgs.received/processed/failed/unhandled`` per (chunk, tag), the
          reference's worker loop (cluster.go:249-277): every parsed row is
          received; with no type to take it (no '*' type) it is unhandled;
          otherwise it fails when its own type unpacks and the content is
          not a JSON object, and is processed when it does not fail.

        Driver-side cardinality is BOUNDED. Static tags are bounded by the
        config and always come back named. Dynamic tags are data-dependent
        (adversarial tag cardinality is unbounded at 100 TB — the
        reference's per-tag statsd has the same exposure), so only the
        top-``MAX_DYNAMIC_TAGS`` of them per chunk (by count, ties by tag)
        come back as named rows; the rest collapse into one ``__other__``
        bucket per chunk, keeping totals exact. The whole thing stays ONE
        LINEAR plan / one job: a branched plan (pid rollup ∪ tag rollup)
        cannot share the base exchange because ``spark_partition_id`` is
        non-deterministic (sameResult() is false → no ReuseExchange →
        the cache would materialize once per branch; measured 3×
        parse_latency). Instead each base row explodes into its lineage
        and per-tag accounting rows and ONE second aggregate computes pid
        sums and per-chunk tag arrays together; the top-K cut happens
        executor-side (static tags sort first, then sort_array + slice), so
        the driver sees #pids + #chunks rows. The collect_list buffer holds
        one chunk's (tag, n) pairs on one executor — vocabulary-bounded.
        """
        from .transform import json_ok

        m = self.metrics
        cfg = self.cfg
        k = MAX_DYNAMIC_TAGS
        unpack = ("unpack-merge", "unpack-take")
        static = [t for t in cfg.types.values() if t.name != "*"]
        static_tags = [t.name for t in static]
        catch = cfg.catchall
        is_static = F.col("tag").isin(static_tags)
        # The unpack JSON check (the json.Unmarshal failure the reference
        # counts, transformers.go:44) runs only on rows whose own type
        # unpacks: a static tag of an unpack type, or a dynamic tag when
        # the catch-all unpacks.
        checked = F.col("tag").isin(
            [t.name for t in static if t.transformer in unpack]
        )
        if catch is not None and catch.transformer in unpack:
            checked = checked | ~is_static
        base = (
            cached.filter(F.col("parse_ok"))
            .groupBy(
                F.spark_partition_id().alias("pid"),
                F.col(CHUNK_COL),
                F.col("tag"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(checked & ~json_ok(), 1).otherwise(0)).alias(
                    "n_fail"
                ),
            )
        )
        routed = is_static | F.lit(catch is not None)
        row_schema = (
            "struct<kind:string,key:string,tag:string,dyn:int,"
            "n:bigint,n_fail:bigint>"
        )
        acct = F.filter(
            F.array(
                F.when(
                    routed,
                    F.struct(
                        F.lit("lin").alias("kind"),
                        F.col("pid").cast("string").alias("key"),
                        F.lit(None).cast("string").alias("tag"),
                        F.lit(None).cast("int").alias("dyn"),
                        F.col("n"),
                        F.col("n_fail"),
                    ),
                ).cast(row_schema),
                F.struct(
                    F.lit("tag").alias("kind"),
                    F.col(CHUNK_COL).alias("key"),
                    F.col("tag"),
                    F.when(is_static, 0).otherwise(1).alias("dyn"),
                    F.col("n"),
                    F.col("n_fail"),
                ).cast(row_schema),
            ),
            lambda x: x.isNotNull(),
        )
        stats = (
            base.select(F.explode(acct).alias("a"))
            .select("a.*")
            # per-TAG totals first: base rows are per (pid, chunk, tag)
            # FRAGMENTS — ranking those directly would compare one
            # partition's slice of a hot tag against whole small tags
            # (wrong top-K and duplicated named rows whenever a tag spans
            # >1 cache partition); lin rows (tag NULL) pass through as one
            # group each
            .groupBy("kind", "key", "tag", "dyn")
            .agg(F.sum("n").alias("n"), F.sum("n_fail").alias("n_fail"))
            .groupBy("kind", "key")
            .agg(
                F.sum("n").alias("total_n"),
                F.sum("n_fail").alias("total_fail"),
                # struct(dyn, -n, tag, …) sorts ascending ⇒ static tags
                # first, then highest n first, ties by tag; lin rows
                # contribute NULL → skipped
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("kind") == "tag",
                            F.struct(
                                F.col("dyn"),
                                (-F.col("n")).alias("neg_n"),
                                F.col("tag"),
                                F.col("n_fail"),
                            ),
                        )
                    )
                ).alias("arr"),
            )
            .select(
                "kind",
                "key",
                "total_n",
                "total_fail",
                # every static tag + the top-K dynamic ones
                F.expr(
                    f"slice(arr, 1, size(filter(arr, x -> x.dyn = 0)) + {k})"
                ).alias("top"),
            )
            .collect()
        )
        for r in sorted(stats, key=lambda r: (r["kind"], r["key"])):
            if r["kind"] == "lin":
                if r["total_n"]:
                    m.rows.append(
                        {
                            "chunk": glabel,
                            "metric": "lineage.routed.partition_rows",
                            "tag": r["key"],
                            "value": int(r["total_n"]),
                        }
                    )
                continue
            c = r["key"]
            named = [
                (t["tag"], -int(t["neg_n"]), int(t["n_fail"])) for t in r["top"]
            ]
            other_n = int(r["total_n"]) - sum(n for _, n, _ in named)
            other_fail = int(r["total_fail"]) - sum(f for _, _, f in named)
            if other_n:
                named.append(("__other__", other_n, other_fail))
            for tag, n, n_fail in named:
                m.count("msgs.received", c, n, tag=tag)
                if catch is None and tag not in static_tags:
                    m.count("msgs.unhandled", c, n, tag=tag)
                    continue
                if n_fail:
                    m.count("msgs.failed", c, n_fail, tag=tag)
                if n - n_fail:
                    m.count("msgs.processed", c, n - n_fail, tag=tag)

    def _write_metrics(self):
        pdf = self.metrics.to_pandas()
        path = os.path.join(self.out_dir, "metrics.parquet")
        if len(pdf):
            pdf.to_parquet(path, index=False)

    def _emit_ddl(self):
        """Write each sink's CREATE TABLE DDL to ``<out>/_ddl/<sink>.sql``
        at init — the reference pushes its index templates at startup
        (type.go:63-97); a real deployment applies these files verbatim
        against its Iceberg catalog (no catalog jars in this sandbox, so
        the emission IS the binding, kept exact by the round-trip test
        against every sink's written schema). Runs from
        ``MetricsPlumbing.__init__``, so the batch Pipeline and the
        streaming daemon leave the identical ``<out>/_ddl`` contract."""
        from .sink import sink_ddl

        ddl_dir = os.path.join(self.out_dir, "_ddl")
        os.makedirs(ddl_dir, exist_ok=True)
        for sink_name, ddl in sink_ddl(self.cfg, self.frame_mode).items():
            tmp = os.path.join(ddl_dir, f".{sink_name}.sql.tmp")
            with open(tmp, "w") as f:
                f.write(ddl + "\n")
            os.replace(tmp, os.path.join(ddl_dir, f"{sink_name}.sql"))

    def _commit(
        self, o: _Output, sid: str, label: str, chunks: list[str] | None
    ) -> dict[str, dict]:
        """Commit one group output; returns ``{label: manifest}``. Known
        chunks (batch) → ONE write sliced into per-chunk manifests
        (``commit_batch``, chunk as a partition dir, labels per chunk);
        ``chunks=None`` (streaming) → one snapshot labelled ``sid``. Jobs
        are described ``punt:<job>``; sinks (outputs with a ``tag``) time
        the reference's per-type write latency (cluster.go:370)."""
        self.spark.sparkContext.setJobDescription(f"punt:{o.job}")
        latency = f"write_latency.{o.tag}"
        with self.metrics.timing(latency, label) if o.tag else nullcontext():
            if chunks is None:
                return {sid: o.table.commit(o.df, sid, o.partition_cols)}
            return o.table.commit_batch(o.df, sid, chunks, o.partition_cols)

    def _side_width(self, cached: DataFrame) -> int:
        """Partition count for the group's side outputs (errors, alert
        rollups, actions): the width the materialized parse cache needs at
        AQE's advisory partition size, the target the sink writes coalesce
        to. Each side output is a subset or a rollup of that cache, so the
        width follows the data; the size is the cache's own statistic, read
        on the driver with no Spark job. Measured on a seed-1 trickle drain
        (~50 error rows, ~30 alert windows): 103 tasks at this width (1),
        115 at a fixed 4."""
        sql_conf = self.spark._jvm.org.apache.spark.sql.internal.SQLConf
        target = self.spark._jsparkSession.sessionState().conf().getConf(
            sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
        )
        size = cached.select("*")._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return max(1, -(-size // target))

    def _count_committed(self, metric: str, manifests: dict, tag=None):
        """Fold committed rows (manifest footer lineage) into ``metric``
        per manifest label."""
        for label, man in manifests.items():
            n = man.get("lineage", {}).get("n_rows", 0)
            if n:
                self.metrics.count(metric, label, n, tag=tag)

    def _process_group(
        self, gdf: DataFrame, sid: str, label: str, chunks: list[str] | None
    ):
        """The one group body — the Spark re-expression of the reference's
        worker loop (ClusterWorker.run, cluster.go:233-324). ``gdf`` is the
        group's input with ``CHUNK_COL`` and ``turn_ts``; ``sid`` is the
        snapshot id of every commit; ``label`` tags timings and gauges;
        ``chunks`` selects the commit shape (see ``_commit``). Snapshot ids
        are deterministic per group, so a re-run group overwrites
        idempotently instead of duplicating."""
        cfg = self.cfg
        m = self.metrics
        with m.timing("processing_latency", label):
            # Framing (reference servers option `octet_counted`,
            # config.json:23; newline framing is the TCP default): each
            # framed record becomes its own row, sub-indexed by record_idx
            # so the (conv_id, turn_idx, record_idx) ordering stays stable.
            if self.frame_mode != "none":
                from .framing import frame_records

                gdf = frame_records(gdf, self.frame_mode, "text")

            # Cache at the parse boundary: parse is the expensive stage (the
            # one Python/Arrow round-trip); errors sweep, routing, K sink
            # writes, alerts and metrics all re-read the cached batch. The
            # cache is SLIM: envelope fields flattened, raw text retained
            # only for failed rows (the errors side output) — good rows drop
            # the original line, roughly halving cached bytes.
            #
            # (Measured dead end, kept for the record: caching one shared
            # salted/sorted layout for all sinks — one shuffle instead of K —
            # is 2.5× SLOWER here, because the union doubles the parse pass
            # and the writer re-sorts anyway once the cache scan loses the
            # ordering guarantee. Per-sink layout + warm parse cache wins.)
            raw = with_parsed(gdf, "text", cfg.reference_year)
            cached = slim_parse_projection(raw).cache()
            rolled = None
            try:
                # Materialize BEFORE the concurrent commits — cold cache +
                # parallel consumers would duplicate the parse work. With
                # metrics on, the materializing action is the counter pass
                # (every msgs.* row per (chunk, tag) and the routed
                # lineage): a full-scan aggregate fills the cache exactly
                # like count() does, so it costs zero additional jobs.
                sc = self.spark.sparkContext
                sc.setJobDescription("punt:scan_stats")
                try:
                    with m.timing("parse_latency", label):
                        if self.collect_metrics:
                            self._record_scan_stats(cached, label)
                        else:
                            cached.count()
                finally:
                    sc.setJobDescription(None)
                side_width = self._side_width(cached)
                errors = cached.filter(~F.col("parse_ok")).select(
                    F.col(CHUNK_COL),
                    F.col("raw_text").alias("data"),
                    F.col("parse_error").alias("error"),
                )
                envelope = (
                    cached.filter(F.col("parse_ok"))
                    .drop("parse_ok", "raw_text", "parse_error")
                    .withColumn(
                        "source", F.concat(F.lit("conv:"), F.col("conv_id"))
                    )
                )
                # Tag dispatch is plan-time literal expressions (route.py):
                # no join, no broadcast and no Spark job for any consumer.
                routed, _ = route(envelope, self._routes, job_id=cfg.job_id)
                # Counters ride jobs that run anyway: per-tag counters and
                # routed lineage rode the aggregate above; inserted counts
                # and per-partition lineage come from the commit manifests
                # (parquet footers). Metrics collection adds ZERO jobs.
                drop = ["prefix", "mapping_type", "date_format", "transformer", "sink"]
                if chunks is None:
                    # One streaming snapshot spans several ts-days and
                    # partitions on (route_key, ts_day) only: a retained
                    # CHUNK_COL would be stored in every sink file and lead
                    # salted_write_layout's sort, which the writer's
                    # required ordering is not a prefix of — every task
                    # would re-sort.
                    drop.append(CHUNK_COL)

                # Every group output is one pool entry (a list one thread
                # commits in order); building the lazy plans runs no job.
                entries: list[list[_Output]] = []
                alert_events: dict[str, list] = {a.name: [] for a in cfg.alerts}
                for t in cfg.types.values():
                    sub = routed.filter(F.col("sink") == t.sink_name)
                    transformed, _failed = apply_transformer(sub, t)
                    enriched = apply_mutators(transformed, t.mutators, self.lookups)
                    # declared-mapping enforcement (the ES index-template
                    # the reference pushes at startup, type.go:63-97)
                    final = enforce_mapping(
                        enriched.drop(*drop), cfg.mappings.get(t.mapping_type)
                    )
                    entries.append([_Output(
                        f"sink:{t.sink_name}", self.sinks[t.sink_name],
                        salted_write_layout(final, cfg.salt_buckets),
                        counter="msgs.inserted", tag=t.sink_name,
                    )])
                    for a in cfg.alerts:
                        ev = matched_events(enriched, a, t.name)
                        if ev is not None:
                            alert_events[a.name].append(ev)
                entries.append([_Output(
                    "errors", self.errors_table, errors.coalesce(side_width),
                    partition_cols=[], counter="parse_errors",
                )])
                # Alerts then actions is ONE entry: the actions render reads
                # the rollup cache the alerts commit fills, instead of
                # recomputing the window aggregate. Rollups are per chunk.
                rolled = rollup_all(alert_events, cfg.alerts)
                if rolled is not None:
                    rolled = rolled.coalesce(side_width).cache()
                    entry = [_Output("alerts", self.alerts_table, rolled, [])]
                    acts = render_actions(rolled, cfg.alerts, cfg.actions)
                    if acts is not None:
                        entry.append(_Output("actions", self.actions_table, acts, []))
                    entries.append(entry)

                # One thread per entry; Spark's scheduler shares the cores.
                # Leaving the pool waits for every submitted commit, also
                # when one raises, before the error propagates.
                with ThreadPoolExecutor(max_workers=len(entries)) as ex:
                    results = list(ex.map(
                        lambda e: [(o, self._commit(o, sid, label, chunks)) for o in e],
                        entries,
                    ))
                if self.collect_metrics:
                    for o, manifests in (r for entry in results for r in entry):
                        if o.counter is not None:
                            self._count_committed(o.counter, manifests, tag=o.tag)
                    # A5 runtime gauges at the group commit boundary
                    # (RunRuntimeCollector, metrics.go:17-27): driver-side
                    # JMX bean reads, zero Spark jobs
                    for k, v in runtime_gauges(self.spark).items():
                        m.gauge(k, label, v)
            finally:
                if rolled is not None:
                    rolled.unpersist()
                cached.unpersist()


class Pipeline(MetricsPlumbing):
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig | None = None,
        out_dir: str = "./punt_out",
        lookups: dict[str, DataFrame] | None = None,
        collect_metrics: bool = True,
        frame_mode: str = "none",
        cluster: str | None = None,
    ):
        """``cluster`` selects a ClusterConfig lane (reference: one Punt
        Config drives several clusters, each with its own ES URL + worker
        pool, config.go:14-21 / state.go:27-29): the cluster's out_root
        replaces ``out_dir``; its num_workers is informational, since write
        widths follow the data. All clusters share the Type registry."""
        cfg = cfg or default_config()
        if cluster is not None:
            cc = cfg.clusters.get(cluster)
            if cc is None:
                raise ValueError(f"unknown cluster {cluster!r}")
            if cc.out_root:
                out_dir = cc.out_root
        super().__init__(
            spark, cfg, out_dir, lookups, collect_metrics, frame_mode
        )
        self.cluster = cluster
        os.makedirs(os.path.join(out_dir, "_chunks"), exist_ok=True)

    # -- resume bookkeeping ----------------------------------------------------

    def _chunk_marker(self, chunk: str) -> str:
        return os.path.join(self.out_dir, "_chunks", f"{chunk}.json")

    def chunk_committed(self, chunk: str) -> bool:
        return os.path.exists(self._chunk_marker(chunk))

    def _mark_chunk(self, chunk: str, info: dict):
        tmp = self._chunk_marker(chunk) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(info, f, indent=1)
        os.replace(tmp, self._chunk_marker(chunk))

    # -- main entry --------------------------------------------------------------

    def run(self, transcripts: DataFrame, resume: bool = True) -> dict:
        """Process all pending ts-day chunks of ``transcripts``. Committed
        chunks are skipped when ``resume`` (exactly-once per chunk — the
        reference's at-most-once R6 upgraded)."""
        t_start = time.monotonic()
        chunks = [
            r["c"]
            for r in transcripts.select(chunk_expr("ts").alias("c"))
            .distinct()
            .orderBy("c")
            .collect()
        ]
        pending = [
            c for c in chunks if not (resume and self.chunk_committed(c))
        ]
        skipped = [c for c in chunks if c not in pending]
        done: list[str] = []
        for i in range(0, len(pending), MAX_CHUNKS_PER_GROUP):
            group = pending[i : i + MAX_CHUNKS_PER_GROUP]
            self._run_group(transcripts, group)
            done.extend(group)
        self._write_metrics()
        return {
            "chunks_processed": done,
            "chunks_skipped": skipped,
            "wall_sec": time.monotonic() - t_start,
            "metrics": self.metrics.totals(),
        }

    # -- group processing -----------------------------------------------------------

    def _group_id(self, group: list[str]) -> str:
        return hashlib.md5(",".join(sorted(group)).encode()).hexdigest()[:12]

    def _run_group(self, transcripts: DataFrame, group: list[str]):
        """Batch prelude to the group body: the group's chunks in one pass,
        committed per chunk, then marked done."""
        gid = self._group_id(group)
        glabel = f"{group[0]}..{group[-1]}" if len(group) > 1 else group[0]
        gdf = (
            transcripts.withColumn(CHUNK_COL, chunk_expr("ts"))
            .filter(F.col(CHUNK_COL).isin(group))
            .withColumnRenamed("ts", "turn_ts")
        )
        # Spread the group across the cluster before the parse stage: a
        # group read from few/large files would otherwise parse on a
        # handful of tasks. Hash on conv_id (deterministic), skipped when
        # the scan already yields enough parallelism (the normal case at
        # scale — many files per day-partition).
        want = self.spark.sparkContext.defaultParallelism
        try:
            n_files = len(transcripts.inputFiles())
        except Exception:
            n_files = 0
        if n_files < max(2, want // 2):
            gdf = gdf.repartition(want, "conv_id", "turn_idx")
        self._process_group(gdf, gid, glabel, group)
        for chunk in group:
            self._mark_chunk(
                chunk, {"chunk": chunk, "group": gid, "committed_at": time.time()}
            )

    # -- maintenance -----------------------------------------------------------

    def run_retention(self) -> dict[str, list[str]]:
        """keep-N retention per configured prefix (reference gc.go:15-55)."""
        from .sink import expire_by_config

        return expire_by_config(self.cfg, self.sinks)

    def retention_ticker(self, interval_sec: float) -> "RetentionTicker":
        """Scheduled retention — the reference runs keep-N GC on a
        15-minute ticker inside the cluster worker (cluster.go:112-128);
        this is the same loop as a daemon thread, for use alongside a live
        tail / streaming session (CLI ``--retention-interval``)."""
        return RetentionTicker(self, interval_sec)


class RetentionTicker:
    """Daemon thread firing ``Pipeline.run_retention()`` every
    ``interval_sec`` seconds (reference: gcIndexes ticker,
    cluster.go:112-128). ``stop()`` is prompt — the wait is an Event, not a
    sleep. Expired partitions accumulate in ``self.expired`` and each pass
    increments ``self.fired``.

    Race note (shared with the reference, which GCs indexes while tails are
    subscribed): a live tail that listed a file just before GC deletes it
    can fail that micro-batch; the stream surfaces the error and a
    restarted tail sees the post-GC manifest set. Retention only removes
    the OLDEST keep-N-excluded partitions, so the race window is data the
    operator already chose to expire."""

    def __init__(self, pipeline: Pipeline, interval_sec: float):
        import threading

        self.pipeline = pipeline
        self.interval_sec = interval_sec
        self.fired = 0
        self.expired: list[dict[str, list[str]]] = []
        self.errors: list[str] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval_sec):
            try:
                self.expired.append(self.pipeline.run_retention())
                self.fired += 1
            except Exception as e:  # keep ticking — GC must outlive one
                # transient FS race (the reference's ticker does the same:
                # a failed GC pass logs and retries next interval)
                self.errors.append(f"{type(e).__name__}: {e}")

    def start(self) -> "RetentionTicker":
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=30)


def load_lookups(spark: SparkSession, fixtures_dir: str) -> dict[str, DataFrame]:
    out = {}
    for key, fname in (("tool", "lookup_tool.parquet"), ("role", "lookup_role.parquet")):
        p = os.path.join(fixtures_dir, fname)
        if os.path.exists(p):
            out[key] = spark.read.parquet(p)
    return out
