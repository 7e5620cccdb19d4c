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
  actual throughput.
* The parse output (the one Python/Arrow stage) is cached once per group;
  routing is plan-time literal expressions over it (route.py), a narrow
  projection each consumer recomputes at no job cost.
* Sink writes are independent → submitted concurrently from driver threads
  (Spark schedules them in parallel), like the reference's per-type
  goroutine fan-out (R7).
* Groups are formed deterministically from the sorted pending-chunk list,
  so a crash-resume re-forms identical groups → identical batch ids →
  idempotent overwrite. (If NEW chunks appear between crash and resume the
  re-formed group gets a DIFFERENT id: sink and errors tables stay
  exactly-once because their manifests are per-chunk, but an
  alerts/actions snapshot committed by the crashed group lingers next to
  the new group's — duplicate alert rows in that narrow window. Accepted
  + documented: the reference loses alert windows outright on crash
  (in-memory rollup buffers, alert.go:19-21); we err on re-delivery.)
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .alerts import matched_events, render_actions, rollup_all
from .config import PipelineConfig, TypeConfig, default_config
from .enrich import apply_mutators
from .metrics import MetricsCollector
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
    errors, route, concurrent per-sink writes, alert fan-in and the
    errors/alerts/actions commits — plus its counter/lineage machinery: the
    scan-materialization aggregate, the per-sink observation metrics and
    the metrics.parquet writer. The subclasses differ only in how they
    form a group's input and what they do around it (chunk markers vs. the
    streaming checkpoint)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig | None,
        out_dir: str,
        lookups: dict[str, DataFrame] | None,
        collect_metrics: bool,
        frame_mode: str,
        max_dynamic_tags: int,
    ):
        if frame_mode not in ("none", "newline", "octet"):
            raise ValueError(f"unknown frame_mode {frame_mode!r}")
        self.spark = spark
        self.cfg = cfg or default_config()
        self.out_dir = out_dir
        self.lookups = lookups or {}
        self.collect_metrics = collect_metrics
        self.frame_mode = frame_mode
        # dynamic-tag metrics cap: top-K named tags per chunk + '__other__'
        self.max_dynamic_tags = max_dynamic_tags
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

    def _record_scan_stats(self, cached: DataFrame, glabel: str) -> list[str]:
        """The counters only the parse scan can supply, recorded by the
        CACHE-MATERIALIZATION action itself (a full-scan grouped aggregate
        computes every cached partition exactly like ``count()`` would, so
        this costs zero additional jobs):

        * ``lineage.routed.partition_rows`` — per-Spark-partition routed row
          counts (north_rule lineage; ``spark_partition_id`` is captured
          before the aggregation shuffle and is identical to the pid the
          downstream narrow route projection sees);
        * the arbitrary-tag bucket, whose tag values are data-dependent and
          so can never ride a plan-time observation: with a '*' type,
          ``msgs.received/processed[/failed]`` per (chunk, tag) for
          catch-all-routed rows (tag ∉ static type names); without one,
          ``msgs.unhandled`` per (chunk, tag) (cluster.go:258-262).

        Static-tag sink counters are NOT computed here — they ride each
        sink's own write job as observation metrics (see
        ``_observe_sink_counters``), keeping this scan free of the unpack
        JSON check for all statically-routed rows.

        Driver-side cardinality is BOUNDED: dynamic tags are data-dependent
        (adversarial tag cardinality is unbounded at 100 TB — the
        reference's per-tag statsd has the same exposure), so only the
        top-``max_dynamic_tags`` tags per chunk (by count, ties by tag)
        come back as named rows; the rest collapse into one ``__other__``
        bucket per chunk, keeping totals exact. The whole thing stays ONE
        LINEAR plan / one job: a branched plan (pid rollup ∪ tag rollup)
        cannot share the base exchange because ``spark_partition_id`` is
        non-deterministic (sameResult() is false → no ReuseExchange →
        the cache would materialize once per branch; measured 3×
        parse_latency). Instead each base row explodes into its applicable
        (lineage / dynamic-tag / chunk-roster) accounting rows and ONE
        second aggregate computes pid sums and per-chunk tag arrays
        together; the top-K cut happens executor-side (sort_array + slice),
        so the driver sees #pids + 2×#chunks rows. The collect_list buffer
        holds one chunk's (tag, n) pairs on one executor —
        vocabulary-bounded, and strictly smaller than the old plan, which
        shipped the same set to the driver.

        Returns the sorted list of chunks with ≥1 parsed row — the roster
        the group body derives its per-sink observation expressions from
        (a chunk with no parsed rows could only produce zero counts, which
        are never emitted).
        """
        from .transform import json_ok

        m = self.metrics
        cfg = self.cfg
        k = self.max_dynamic_tags
        static_tags = [t.name for t in cfg.types.values() if t.name != "*"]
        catch = cfg.catchall
        is_static = F.col("tag").isin(static_tags)
        # The unpack JSON check (the json.Unmarshal failure the reference
        # counts, transformers.go:44) applies to dynamic-tag rows only when
        # the catch-all type itself unpacks — evaluate it only then.
        check_json = catch is not None and catch.transformer in (
            "unpack-merge", "unpack-take",
        )
        aggs = [F.count(F.lit(1)).alias("n")]
        if check_json:
            aggs.append(
                F.sum(
                    F.when(~is_static & ~json_ok(), 1).otherwise(0)
                ).alias("n_fail")
            )
        base = (
            cached.filter(F.col("parse_ok"))
            .groupBy(
                F.spark_partition_id().alias("pid"),
                F.col(CHUNK_COL),
                F.col("tag"),
            )
            .agg(*aggs)
        )
        if not check_json:
            base = base.withColumn("n_fail", F.lit(0).cast("bigint"))
        routed = is_static | F.lit(catch is not None)
        row_schema = (
            "struct<kind:string,key:string,tag:string,n:bigint,n_fail:bigint>"
        )
        acct = F.filter(
            F.array(
                F.when(
                    routed,
                    F.struct(
                        F.lit("lin").alias("kind"),
                        F.col("pid").cast("string").alias("key"),
                        F.lit(None).cast("string").alias("tag"),
                        F.col("n"),
                        F.col("n_fail"),
                    ),
                ).cast(row_schema),
                F.when(
                    ~is_static,
                    F.struct(
                        F.lit("dyn").alias("kind"),
                        F.col(CHUNK_COL).alias("key"),
                        F.col("tag"),
                        F.col("n"),
                        F.col("n_fail"),
                    ),
                ).cast(row_schema),
                # chunk roster — every parsed chunk, static-only included
                F.struct(
                    F.lit("chk").alias("kind"),
                    F.col(CHUNK_COL).alias("key"),
                    F.lit(None).cast("string").alias("tag"),
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
            # >1 cache partition); lin/chk rows (tag NULL) pass through as
            # one group each
            .groupBy("kind", "key", "tag")
            .agg(F.sum("n").alias("n"), F.sum("n_fail").alias("n_fail"))
            .groupBy("kind", "key")
            .agg(
                F.sum("n").alias("total_n"),
                F.sum("n_fail").alias("total_fail"),
                # struct(-n, tag, …) sorts ascending ⇒ highest n first,
                # ties by tag; lin/chk rows contribute NULL → skipped
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("kind") == "dyn",
                            F.struct(
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
                F.slice(F.col("arr"), 1, k).alias("top"),
            )
            .collect()
        )
        chunks: list[str] = []
        for r in sorted(stats, key=lambda r: (r["kind"], r["key"])):
            if r["kind"] == "chk":
                chunks.append(r["key"])
                continue
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
                if catch is None:
                    m.count("msgs.unhandled", c, n, tag=tag)
                    continue
                m.count("msgs.received", c, n, tag=tag)
                if n_fail:
                    m.count("msgs.failed", c, n_fail, tag=tag)
                if n - n_fail:
                    m.count("msgs.processed", c, n - n_fail, tag=tag)
        return chunks

    @staticmethod
    def _sink_counter_exprs(t: TypeConfig, group) -> list:
        """Per-chunk received/failed aggregate expressions for one
        static-tag sink's pre-transform frame."""
        from .transform import json_ok

        exprs = []
        for c in group:
            exprs.append(
                F.coalesce(
                    F.sum(F.when(F.col(CHUNK_COL) == c, 1).otherwise(0)),
                    F.lit(0),
                ).alias(f"recv|{c}")
            )
        if t.transformer in ("unpack-merge", "unpack-take"):
            bad = ~json_ok()
            for c in group:
                exprs.append(
                    F.coalesce(
                        F.sum(
                            F.when((F.col(CHUNK_COL) == c) & bad, 1).otherwise(0)
                        ),
                        F.lit(0),
                    ).alias(f"fail|{c}")
                )
        return exprs

    def _observe_sink_counters(self, sub: DataFrame, t: TypeConfig, group):
        """Attach per-chunk received/failed observation metrics to a
        static-tag sink's pre-transform frame. The CollectMetrics node
        evaluates during the sink's own write job — the counters are free.
        Returns (Observation, observed_df)."""
        from pyspark.sql import Observation

        obs = Observation()
        return obs, sub.observe(obs, *self._sink_counter_exprs(t, group))

    def _record_observed_counters(self, obs, t: TypeConfig, group, sub):
        """Fold a sink write's observation into msgs.received/failed/
        processed per (chunk, tag=t.name) — cluster.go:249-277 semantics."""
        m = self.metrics
        try:
            # latched by the completed write job; never blocks here
            vals = obs.get
        except Exception:
            # When the sink's shuffle stage outputs ZERO rows (empty sub, or
            # every row dropped by the unpack transformer), AQE's
            # empty-relation propagation prunes the CollectMetrics node from
            # the final plan and the observation latches a schema-less row
            # that the Py4J row conversion rejects. Recompute the same
            # aggregates directly — this reads the warm parse cache and only
            # fires for (near-)empty sinks, so it stays off the hot path.
            vals = sub.agg(*self._sink_counter_exprs(t, group)).first().asDict()
        for c in group:
            n = int(vals.get(f"recv|{c}", 0) or 0)
            n_fail = int(vals.get(f"fail|{c}", 0) or 0)
            if n:
                m.count("msgs.received", c, n, tag=t.name)
            if n_fail:
                m.count("msgs.failed", c, n_fail, tag=t.name)
            if n - n_fail:
                m.count("msgs.processed", c, n - n_fail, tag=t.name)

    def _write_metrics(self):
        pdf = self.metrics.to_pandas()
        path = os.path.join(self.out_dir, "metrics.parquet")
        if len(pdf):
            pdf.to_parquet(path, index=False)

    def _snapshot_gauges(self, chunk: str):
        """A5 runtime gauges at a commit boundary (reference
        RunRuntimeCollector, metrics.go:17-27): driver-side JMX bean reads
        only — adds ZERO Spark jobs to the group budget."""
        from .metrics import runtime_gauges

        for k, v in runtime_gauges(self.spark).items():
            self.metrics.gauge(k, chunk, v)

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
        self, table: SnapshotTable, df: DataFrame, sid: str,
        chunks: list[str] | None, **kw,
    ) -> dict[str, dict]:
        """Commit one group output; returns ``{label: manifest}``. Known
        chunks (batch) → ONE write sliced into per-chunk manifests
        (``commit_batch``, chunk as a partition dir, labels per chunk);
        ``chunks=None`` (streaming) → one snapshot labelled ``sid``."""
        if chunks is None:
            return {
                sid: table.commit(
                    df, snapshot_id=sid, footer_lineage=self.collect_metrics,
                    **kw,
                )
            }
        return table.commit_batch(
            df, batch_id=sid, chunks=chunks,
            footer_lineage=self.collect_metrics, **kw,
        )

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
            try:
                # Materialize BEFORE the concurrent sink writes — cold cache
                # + parallel consumers would duplicate the parse work. When
                # metrics are on, the materialization ACTION doubles as the
                # one counter Spark can't observe statically: the per-(chunk,
                # tag) breakdown of the arbitrary-tag bucket (catch-all rows
                # when a '*' type exists, unhandled rows otherwise — tag
                # values there are data-dependent, so no plan-time when/sum
                # enumeration is possible) — and it yields the chunk roster
                # for the per-sink observation expressions. A full-scan
                # aggregate materializes every cached partition exactly like
                # count() does, so this costs zero additional jobs.
                with m.timing("parse_latency", label):
                    if self.collect_metrics:
                        roster = self._record_scan_stats(cached, label)
                    else:
                        cached.count()
                        roster = []
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
                # Row-level counters ride jobs that run anyway: each
                # static-tag sink's per-chunk received/failed sums sit on
                # its pre-transform frame as observation metrics
                # (CollectMetrics nodes — Spark never pushes filters through
                # them), evaluated by the sink's own write job; lineage and
                # the arbitrary-tag bucket rode the cache-materialization
                # aggregate above; inserted counts and per-(route_key,
                # ts_day) lineage come from the commit manifests (parquet
                # footers) below. Metrics collection adds ZERO Spark jobs.
                drop = [
                    "prefix", "mapping_type", "date_format", "transformer",
                    "sink",
                ]
                if chunks is None:
                    # A snapshot spanning several ts-days partitions on
                    # (route_key, ts_day) only, so CHUNK_COL is bookkeeping,
                    # not sink data: retained, it would (a) be stored in
                    # every sink file (batch stores it only as a partition
                    # dir) and (b) lead salted_write_layout's
                    # sortWithinPartitions, which the V1 writer's
                    # (route_key, ts_day) required ordering is not a prefix
                    # of — Spark would discard the salted sort and re-sort
                    # every task.
                    drop.append(CHUNK_COL)

                def write_sink(t: TypeConfig):
                    sub = routed.filter(F.col("sink") == t.sink_name)
                    obs = None
                    # Static-tag sinks (every row's tag == t.name): observe
                    # per-chunk received + unpack-failure counts on the
                    # pre-transform frame — they ride the write job free.
                    # The catch-all sink's per-tag counts were recorded by
                    # the cache-materialization aggregate instead.
                    if self.collect_metrics and t.name != "*" and roster:
                        obs, sub = self._observe_sink_counters(sub, t, roster)
                    transformed, _failed = apply_transformer(sub, t)
                    enriched = apply_mutators(transformed, t.mutators, self.lookups)
                    # declared-mapping enforcement (the ES index-template
                    # the reference pushes at startup, type.go:63-97)
                    final = enforce_mapping(
                        enriched.drop(*drop), cfg.mappings.get(t.mapping_type)
                    )
                    out = salted_write_layout(final, cfg.salt_buckets)
                    with m.timing(f"write_latency.{t.sink_name}", label):
                        manifests = self._commit(
                            self.sinks[t.sink_name], out, sid, chunks
                        )
                    return t, enriched, manifests, obs, sub

                types = list(cfg.types.values())
                # NOTE (measured dead end): folding the errors commit into
                # this pool — either as a 5th concurrent writer or queued
                # behind the sinks on 4 workers — read equal-or-slower on
                # this shared-disk box (more concurrent writers = more seek
                # contention); errors stays a serial tail below.
                with ThreadPoolExecutor(max_workers=min(4, len(types)) or 1) as ex:
                    results = list(ex.map(write_sink, types))

                alert_events: dict[str, list] = {a.name: [] for a in cfg.alerts}
                for t, enriched, manifests, obs, sub in results:
                    if self.collect_metrics:
                        self._count_committed(
                            "msgs.inserted", manifests, tag=t.sink_name
                        )
                        if obs is not None:
                            self._record_observed_counters(obs, t, roster, sub)
                    for a in cfg.alerts:
                        ev = matched_events(enriched, a, t.name)
                        if ev is not None:
                            alert_events[a.name].append(ev)

                err_manifests = self._commit(
                    self.errors_table, errors.coalesce(4), sid, chunks,
                    partition_cols=[],
                )
                if self.collect_metrics:
                    self._count_committed("parse_errors", err_manifests)

                # Alert rollup + rendered actions per group, same idempotent
                # snapshot id. (Windows straddling a group or micro-batch
                # boundary roll up per group — the reference's wall-clock
                # windows have the same arrival-split behavior,
                # alert.go:50-65.)
                all_alerts = rollup_all(alert_events, cfg.alerts)
                if all_alerts is not None:
                    # The rollups feed two commits — cache so the second
                    # (actions render) doesn't recompute the window agg.
                    all_alerts = all_alerts.coalesce(4).cache()
                    self.alerts_table.commit(
                        all_alerts, snapshot_id=sid, partition_cols=[],
                    )
                    acts = render_actions(all_alerts, cfg.alerts, cfg.actions)
                    if acts is not None:
                        self.actions_table.commit(
                            acts, snapshot_id=sid, partition_cols=[],
                        )
                    all_alerts.unpersist()
                if self.collect_metrics:
                    # A5 gauges at the group commit boundary
                    self._snapshot_gauges(label)
            finally:
                cached.unpersist()


class Pipeline(MetricsPlumbing):
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig | None = None,
        out_dir: str = "./punt_out",
        lookups: dict[str, DataFrame] | None = None,
        collect_metrics: bool = True,
        max_chunks_per_group: int = 64,
        frame_mode: str = "none",
        cluster: str | None = None,
        max_dynamic_tags: int = 100,
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
            spark, cfg, out_dir, lookups, collect_metrics, frame_mode,
            max_dynamic_tags,
        )
        self.cluster = cluster
        self.max_chunks_per_group = max_chunks_per_group
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
        for i in range(0, len(pending), self.max_chunks_per_group):
            group = pending[i : i + self.max_chunks_per_group]
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
