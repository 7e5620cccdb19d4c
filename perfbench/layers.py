"""The traced run's per-layer figures: span self times, event-log task
metrics attributed by span property, prefix-leg differences for the lazy
layers, the streaming query's own progress timings, the dataops leg and
the local[1] scaling leg. ``PER_LAYER`` is the table ``BENCHMARK.json``
lists."""

from __future__ import annotations

import glob
import os
import time

from . import inputs, stats
from .stats import median

SINKS = ["sink_catchall", "sink_logs", "sink_audit", "sink_app-json", "sink_metrics-json"]

# name, unit, better, the end-to-end metric (on the workload) it should move
PER_LAYER: list[tuple[str, str, str, str]] = [
    ("session.start_s", "s", "lower", "setup_s, all"),
    ("parse.self_s", "s", "lower", "throughput_per_s, backfill"),
    ("parse.rows_per_s", "1/s", "higher", "throughput_per_s, backfill"),
    ("parse.error_rows", "count", "lower", "none (input-determined)"),
    ("route.self_s", "s", "lower", "throughput_per_s, backfill"),
    *[(f"route.rows.{s}", "count", "higher", "none (input-determined)") for s in SINKS],
    ("transform.self_s", "s", "lower", "throughput_per_s, backfill"),
    ("transform.failed_rows", "count", "lower", "none (input-determined)"),
    ("enrich.self_s", "s", "lower", "throughput_per_s, backfill"),
    ("sink.commit_s", "s", "lower", "throughput_per_s, backfill; latency_p50_s, trickle"),
    ("sink.commit_max_s", "s", "lower", "latency_p50_s, backfill"),
    ("sink.commits", "count", "lower", "latency_p50_s, trickle"),
    ("sink.files_written", "count", "lower", "throughput_per_s, backfill"),
    ("sink.rows_per_file", "count", "higher", "throughput_per_s, backfill"),
    ("sink.bytes_written", "B", "lower", "throughput_per_s, backfill"),
    ("sink.shuffle_write_bytes", "B", "lower", "throughput_per_s, backfill"),
    ("sink.spill_bytes", "B", "lower", "throughput_per_s, backfill"),
    ("sink.cpu_s", "s", "lower", "throughput_per_s, backfill"),
    ("sink.read_s", "s", "lower", "none (read-back check, untimed)"),
    ("sink.read_files", "count", "lower", "none (read-back check, untimed)"),
    ("sink.manifests", "count", "lower", "none (read-back check, untimed)"),
    ("alerts.commit_s", "s", "lower", "latency_p50_s, trickle"),
    ("alerts.windows", "count", "higher", "none (input-determined)"),
    ("metrics.scan_stats_s", "s", "lower", "throughput_per_s, backfill; latency_p50_s, trickle"),
    ("pipeline.self_s", "s", "lower", "throughput_per_s, backfill"),
    ("pipeline.jobs", "count", "lower", "throughput_per_s, backfill"),
    ("pipeline.driver_gap_s", "s", "lower", "throughput_per_s, backfill"),
    ("pipeline.parse_latency_s", "s", "lower", "throughput_per_s, backfill"),
    ("pipeline.write_latency_max_s", "s", "lower", "throughput_per_s, backfill"),
    ("pipeline.scaling_eff", "ratio", "higher", "throughput_per_s, backfill"),
    ("streaming.drains", "count", "higher", "latency_p50_s, trickle"),
    ("streaming.start_s", "s", "lower", "latency_p50_s, trickle"),
    ("streaming.add_batch_ms", "ms", "lower", "latency_p50_s, trickle"),
    ("streaming.planning_ms", "ms", "lower", "latency_p50_s, trickle"),
    ("streaming.list_ms", "ms", "lower", "latency_p50_s, trickle"),
    ("streaming.wal_ms", "ms", "lower", "latency_p50_s, trickle"),
    ("streaming.rows_per_batch", "count", "lower", "latency_p50_s, trickle"),
    ("streaming.gen_lag_s", "s", "lower", "none (generator health)"),
    ("streaming.backlog_files", "count", "lower", "throughput_per_s, trickle"),
    ("streaming.freshness_p90_s", "s", "lower", "latency_p50_s, trickle"),
    ("dataops.curate_call_s", "s", "lower", "none (dataops leg, backfill traced run)"),
    ("dataops.materialize_s", "s", "lower", "none (dataops leg, backfill traced run)"),
    ("dataops.jobs", "count", "lower", "none (dataops leg, backfill traced run)"),
    ("dataops.cpu_s.curation", "s", "lower", "none (dataops leg, backfill traced run)"),
    ("dataops.cpu_s.entry", "s", "lower", "none (dataops leg, backfill traced run)"),
    ("dataops.shuffle_write_bytes", "B", "lower", "none (dataops leg, backfill traced run)"),
    ("spark.jobs", "count", "lower", "latency_p50_s, this workload"),
    ("spark.tasks", "count", "lower", "latency_p50_s, this workload"),
    ("spark.cpu_s", "s", "lower", "throughput_per_s, this workload"),
    ("spark.core_util", "ratio", "higher", "throughput_per_s, this workload"),
    ("spark.gc_s", "s", "lower", "latency_p50_s, this workload"),
    ("spark.scheduler_delay_s", "s", "lower", "latency_p50_s, this workload"),
    ("spark.shuffle_write_bytes", "B", "lower", "throughput_per_s, this workload"),
    ("spark.spill_bytes", "B", "lower", "throughput_per_s, this workload"),
    ("spark.input_bytes", "B", "lower", "throughput_per_s, this workload"),
    ("trace.overhead_frac", "ratio", "lower", "none (tracing cost)"),
    ("process.peak_pss_mb", "MB", "lower", "none (memory; spreads ~20% run to run)"),
]

UNITS = {name: unit for name, unit, _, _ in PER_LAYER}


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _prefix_plans(spark, day):
    """(scan, +with_parsed, +route) plans over the backfill input, built the
    way ``Pipeline.run`` builds them."""
    from pyspark.sql import functions as F

    from punt_spark.config import default_config
    from punt_spark.parse import with_parsed
    from punt_spark.pipeline import slim_parse_projection
    from punt_spark.route import route, routes_df
    from punt_spark.sink import CHUNK_COL, chunk_expr

    cfg = default_config()
    base = day.withColumn(CHUNK_COL, chunk_expr("ts")).withColumnRenamed("ts", "turn_ts")
    parsed = slim_parse_projection(with_parsed(base, "text", cfg.reference_year))
    envelope = (
        parsed.filter(F.col("parse_ok"))
        .drop("parse_ok", "raw_text", "parse_error")
        .withColumn("source", F.concat(F.lit("conv:"), F.col("conv_id")))
    )
    routed, _ = route(envelope, routes_df(spark, cfg), job_id=cfg.job_id)
    return base, parsed, routed


def prefix_legs(spark, day, lookups) -> dict:
    """Execution self time of the lazy layers on the backfill input: each
    leg adds one layer to the previous one's plan and is forced by one
    ``noop`` write; a layer's self time is the difference between
    successive legs' times. The per-sink legs read the routed rows from a
    cache, so transform and enrich are measured against a per-sink
    filter-only baseline."""
    from pyspark.sql import functions as F

    from punt_spark.config import default_config
    from punt_spark.enrich import apply_mutators
    from punt_spark.transform import apply_transformer

    types = list(default_config().types.values())
    base, parsed, routed = _prefix_plans(spark, day)
    legs = {"scan": _noop(base), "parse": _noop(parsed), "route": _noop(routed)}
    cached = routed.cache()
    cached.count()
    try:
        per_sink = [(t, cached.filter(F.col("sink") == t.sink_name)) for t in types]
        legs["sink_filter"] = sum(_noop(sub) for _, sub in per_sink)
        legs["transform"] = sum(_noop(apply_transformer(sub, t)[0]) for t, sub in per_sink)
        legs["enrich"] = sum(
            _noop(apply_mutators(apply_transformer(sub, t)[0], t.mutators, lookups))
            for t, sub in per_sink
        )
    finally:
        cached.unpersist()
    return legs


def scaling_leg(bench, w) -> dict:
    """The scan+parse+route prefix leg at local[nproc], then at local[1]
    (restarting the session), each timed on its second pass, once the
    session's Python workers have started."""

    def second_pass() -> float:
        routed = _prefix_plans(bench.spark, w.day)[2]
        return [_noop(routed) for _ in range(2)][-1]

    tn = second_pass()
    bench.start_session("local[1]")
    w.prepare()
    return {"t1_s": second_pass(), "tn_s": tn}


def dataops_leg(bench, calls: int = 2):
    """The dataops layer, which neither workload touches: one warm-up
    ``curate_corpus`` call on the 1k-doc corpus, then ``calls`` traced calls
    on the seeded 5k-doc twin, each checked against the DuckDB oracle."""
    from .workloads import Curate

    leg = Curate(bench)
    leg.inputs()
    leg.warmup()
    bench.tracer.enabled = True
    for i in range(calls):
        start = time.time()
        rec = leg.op(i)
        rec.update(start=start, end=time.time())
        leg.records.append(rec)
    bench.tracer.enabled = False
    return leg


def read_event_logs(ev_dir: str) -> dict:
    """Every application's event log under ``ev_dir`` (Spark 4 writes
    rolling logs: one directory per application, ``events_*`` files)."""
    lines: list[str] = []
    pattern = os.path.join(ev_dir, "**", "events_*")
    for path in sorted(glob.glob(pattern, recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                lines.extend(f)
    return stats.parse_event_log(lines)


def _in_windows(t: float, windows) -> bool:
    return any(s <= t <= e for s, e in windows)


LEG_METRICS = {
    "parse.self_s", "parse.rows_per_s", "route.self_s", "transform.self_s",
    "enrich.self_s", "pipeline.scaling_eff",
}


def collect(bench, w, legs, scaling, dataops, events: dict) -> tuple[dict, dict]:
    """(values, notes): every PER_LAYER metric, and for each one the run
    could not measure, the reason (its value is then 0)."""
    spans = bench.tracer.spans
    selfs = stats.self_times(spans)
    tasks, jobs = events["tasks"], events["jobs"]
    by_span = stats.attribute(tasks, jobs)
    v: dict[str, float] = {}
    notes: dict[str, str] = {}

    traced = [r for r in w.records if r.get("traced")]
    untraced = [r for r in w.records if not r.get("traced")]
    n = max(1, len(traced))
    windows = [(r["start"], r["end"]) for r in traced]
    op_tasks = [t for t in tasks if _in_windows(t["launch"], windows)]
    op_jobs = [j for j in jobs if _in_windows(j["submit"], windows)]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def wall(picked):
        return sum(s["end"] - s["start"] for s in picked)

    def attributed(picked, field):
        return sum(by_span.get(str(s["id"]), {}).get(field, 0) for s in picked)

    # -- session, Spark totals over the traced operations, trace overhead
    v["session.start_s"] = bench.session_starts[0]  # the cold one
    v["spark.jobs"] = len(op_jobs) / n
    v["spark.tasks"] = len(op_tasks) / n
    for key, field in (
        ("spark.cpu_s", "cpu_s"),
        ("spark.gc_s", "gc_s"),
        ("spark.scheduler_delay_s", "sched_s"),
        ("spark.shuffle_write_bytes", "shuffle_write"),
        ("spark.spill_bytes", "spill"),
        ("spark.input_bytes", "input_bytes"),
    ):
        v[key] = sum(t[field] for t in op_tasks) / n
    busy = sum(t["finish"] - t["launch"] for t in op_tasks)
    op_wall = sum(e - s for s, e in windows)
    v["spark.core_util"] = busy / (op_wall * bench.nproc) if op_wall else 0.0
    if traced and untraced:
        v["trace.overhead_frac"] = (
            median([r["latency_s"] for r in traced])
            / median([r["latency_s"] for r in untraced])
            - 1.0
        )
        notes["trace.overhead_frac"] = (
            f"{len(traced)} traced vs {len(untraced)} untraced operations in one "
            "session; the event log is on for both, so its cost is not included"
        )
    elif w.name == "trickle":
        notes["trace.overhead_frac"] = (
            "every drain is traced: drains differ in size, so traced and "
            "untraced ones would not compare like work"
        )

    # -- sink write and read, alerts, metrics (pipeline workloads)
    commits = [
        s for s in spans
        if s["name"].startswith("SnapshotTable.commit")
        and s["attrs"].get("table", "").startswith("sink_")
    ]
    if commits:
        files = sum(s["attrs"]["files"] for s in commits)
        v["sink.commit_s"] = wall(commits) / n
        v["sink.commit_max_s"] = max(s["end"] - s["start"] for s in commits)
        v["sink.commits"] = len(commits) / n
        v["sink.files_written"] = files / n
        v["sink.rows_per_file"] = (
            sum(s["attrs"]["rows"] for s in commits) / files if files else 0.0
        )
        v["sink.bytes_written"] = sum(s["attrs"]["bytes"] for s in commits) / n
        v["sink.shuffle_write_bytes"] = attributed(commits, "shuffle_write") / n
        v["sink.spill_bytes"] = attributed(commits, "spill") / n
        v["sink.cpu_s"] = attributed(commits, "cpu_s") / n
        alert_commits = [
            s for s in spans
            if s["name"].startswith("SnapshotTable.commit")
            and s["attrs"].get("table") in ("alerts", "actions")
        ]
        rollups = named("rollup_all") + named("render_actions")
        v["alerts.commit_s"] = (wall(alert_commits) + wall(rollups)) / n
        v["alerts.windows"] = w.alert_windows
        v["metrics.scan_stats_s"] = wall(named("metrics.scan_stats")) / n
    reads = named("SnapshotTable.read")
    if reads:
        v["sink.read_s"] = median([s["end"] - s["start"] for s in reads])
        v["sink.read_files"] = median([s["attrs"]["files"] for s in reads])
        v["sink.manifests"] = median([s["attrs"]["manifests"] for s in reads])

    # -- the program's own counters, per measured operation
    rows = w.metric_rows()
    if rows:
        ops = len(w.records)
        v["parse.error_rows"] = v["transform.failed_rows"] = 0.0
        for sink in SINKS:
            v[f"route.rows.{sink}"] = 0.0
        for r in rows:
            key = {
                "parse_errors": "parse.error_rows",
                "msgs.failed": "transform.failed_rows",
                "msgs.inserted": f"route.rows.{r['tag']}",
            }.get(r["metric"])
            if key in v:
                v[key] += r["value"] / ops

    # -- batch pipeline
    runs = named("Pipeline.run")
    if runs:
        run_windows = [(s["start"], s["end"]) for s in runs]
        v["pipeline.self_s"] = sum(selfs[s["id"]] for s in runs) / len(runs)
        v["pipeline.jobs"] = sum(_in_windows(j["submit"], run_windows) for j in jobs) / len(runs)
        v["pipeline.driver_gap_s"] = median(
            [stats.driver_gap(s["start"], s["end"], tasks) for s in runs]
        )
        op_metrics = [r["metrics"] for r in w.records if "metrics" in r]
        v["pipeline.parse_latency_s"] = median([m["parse_latency"] for m in op_metrics])
        v["pipeline.write_latency_max_s"] = median(
            [max(x for k, x in m.items() if k.startswith("write_latency.")) for m in op_metrics]
        )
    if scaling:
        v["pipeline.scaling_eff"] = scaling["t1_s"] / (bench.nproc * scaling["tn_s"])
        notes["pipeline.scaling_eff"] = (
            f"local[1] {scaling['t1_s']:.2f} s vs local[{bench.nproc}] "
            f"{scaling['tn_s']:.2f} s on the scan+parse+route prefix leg, warm JVM"
        )

    # -- lazy layers from the prefix legs
    if legs:
        v["parse.self_s"] = legs["parse"] - legs["scan"]
        v["route.self_s"] = legs["route"] - legs["parse"]
        v["transform.self_s"] = legs["transform"] - legs["sink_filter"]
        v["enrich.self_s"] = legs["enrich"] - legs["transform"]
        if v["parse.self_s"] > 0:
            v["parse.rows_per_s"] = legs["rows"] / v["parse.self_s"]
        notes["parse.self_s"] = (
            "prefix-leg differences (one noop write each); a negative "
            "value is below the legs' noise"
        )

    # -- streaming: the query's own progress timings, over every drain
    if w.name == "trickle":
        prog = [p for r in w.records for p in r["progress"]]

        def dur(key):
            return median([p["durationMs"].get(key, 0) for p in prog])

        v["streaming.drains"] = len(w.records)
        v["streaming.start_s"] = median(
            [
                r["latency_s"]
                - sum(p["durationMs"].get("triggerExecution", 0) for p in r["progress"]) / 1000.0
                for r in w.records
            ]
        )
        v["streaming.add_batch_ms"] = dur("addBatch")
        v["streaming.planning_ms"] = dur("queryPlanning")
        v["streaming.list_ms"] = dur("latestOffset")
        v["streaming.wal_ms"] = dur("walCommit")
        v["streaming.rows_per_batch"] = median([p["numInputRows"] for p in prog])
        v["streaming.gen_lag_s"] = w.gen_lag_s
        v["streaming.backlog_files"] = w.backlog_files
        if stats.tail_percentile(len(w.freshness)) is not None:
            v["streaming.freshness_p90_s"] = stats.quantile(w.freshness, 0.90)
        else:
            notes["streaming.freshness_p90_s"] = "fewer than 11 freshness samples"

    # -- dataops, from the dataops leg's calls
    calls = named("curate.op")
    if dataops is not None and calls:
        k = len(dataops.records)
        d_windows = [(r["start"], r["end"]) for r in dataops.records]
        d_tasks = [t for t in tasks if _in_windows(t["launch"], d_windows)]
        curations = named("curate_corpus")
        cur_cpu = attributed(curations, "cpu_s")
        v["dataops.curate_call_s"] = median(dataops.latencies())
        v["dataops.materialize_s"] = (wall(calls) - wall(curations)) / len(calls)
        v["dataops.jobs"] = sum(_in_windows(j["submit"], d_windows) for j in jobs) / k
        v["dataops.cpu_s.curation"] = cur_cpu / k
        v["dataops.cpu_s.entry"] = (sum(t["cpu_s"] for t in d_tasks) - cur_cpu) / k
        v["dataops.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in d_tasks) / k
        notes["dataops.curate_call_s"] = (
            f"{k} calls of curate_corpus on the {inputs.CURATE_DOCS}-doc twin, "
            "after one warm-up call"
        )

    for name, _, _, _ in PER_LAYER:
        if name not in v and name != "process.peak_pss_mb":
            v[name] = 0.0
            notes.setdefault(
                name,
                "skipped: the run passed its trace-leg deadline"
                if w.name == "backfill"
                and (name in LEG_METRICS or name.startswith("dataops."))
                else "measured by backfill's traced run (prefix and scaling legs)"
                if name in LEG_METRICS
                else "measured by backfill's traced run (dataops leg)"
                if name.startswith("dataops.")
                else f"layer idle on {w.name}",
            )
    return v, notes
