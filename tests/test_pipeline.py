"""End-to-end: Spark pipeline output ≡ pure-Python reference oracle.

Pins the BASELINE.json north_rule equivalence criteria:
* per-sink routed-row equality,
* per-sink / per-tag aggregate counts,
* per-turn text equality under stable (conv_id, turn_idx) ordering,
* errors / alerts side outputs,
* resume-from-checkpoint without reprocessing (exactly-once).
"""

import os
import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from punt_spark.config import default_config
from punt_spark.fixtures import lookup_role_pdf, lookup_tool_pdf
from punt_spark.pipeline import Pipeline, load_lookups
from punt_spark.reference_impl import run_reference
from punt_spark.sink import SnapshotTable


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if out[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
            out[c] = out[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
        elif pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif out[c].dtype == object:
            out[c] = out[c].map(lambda v: None if v is None or (isinstance(v, float) and pd.isna(v)) else v)
    return out


def _compare(spark_pdf: pd.DataFrame, oracle_rows: list[dict], sort_keys, ctx=""):
    oracle_pdf = pd.DataFrame(oracle_rows)
    if len(oracle_rows) == 0:
        assert len(spark_pdf) == 0, f"{ctx}: oracle empty, spark has rows"
        return
    a_cols, b_cols = set(spark_pdf.columns), set(oracle_pdf.columns)
    assert a_cols == b_cols, f"{ctx}: column mismatch {a_cols ^ b_cols}"
    cols = sorted(a_cols)
    # oracle datetimes arrive as objects
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(spark_pdf[c]):
            oracle_pdf[c] = pd.to_datetime(oracle_pdf[c])
    a = _normalize(spark_pdf)[cols].sort_values(sort_keys).reset_index(drop=True)
    b = _normalize(oracle_pdf)[cols].sort_values(sort_keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, obj=ctx)


def reference_oracle(transcripts, cfg) -> dict:
    """The pure-Python reference run over ``transcripts`` with the fixture
    lookup dims."""
    rows = transcripts.toPandas()
    rows["ts"] = rows["ts"].astype("datetime64[us]")
    lookups = {
        "tool": {
            r["tool"]: {k: r[k] for k in ("category", "risk_code", "coords")}
            for _, r in lookup_tool_pdf().iterrows()
        },
        "role": {
            r["role"]: {k: r[k] for k in ("category", "risk_code", "coords")}
            for _, r in lookup_role_pdf().iterrows()
        },
    }
    return run_reference(rows.to_dict("records"), cfg, lookups)


@pytest.fixture(scope="module")
def run(spark, fixtures_dir, transcripts, tmp_path_factory):
    """One pipeline run + one oracle run over the same fixtures."""
    out_dir = str(tmp_path_factory.mktemp("pipeline_out"))
    cfg = default_config()
    pipe = Pipeline(
        spark,
        cfg,
        out_dir=out_dir,
        lookups=load_lookups(spark, fixtures_dir),
    )
    result = pipe.run(transcripts)
    return pipe, result, reference_oracle(transcripts, cfg), cfg


def test_sink_row_equality(spark, run):
    """Per-sink routed-row equality — the core north_rule criterion."""
    pipe, result, oracle, cfg = run
    for t in cfg.types.values():
        sdf = pipe.sinks[t.sink_name].read(spark)
        spark_pdf = sdf.toPandas() if sdf is not None else pd.DataFrame()
        _compare(
            spark_pdf,
            oracle["sinks"][t.sink_name],
            ["conv_id", "turn_idx"],
            ctx=t.sink_name,
        )


def test_sink_counts(spark, run):
    """Per-sink row counts, and the write width follows the data: a small
    run's salted, AQE-coalesced write puts each (chunk, route_key, ts_day)
    cell in ONE file, not up to salt_buckets."""
    pipe, result, oracle, cfg = run
    for t in cfg.types.values():
        sdf = pipe.sinks[t.sink_name].read(spark)
        n = sdf.count() if sdf is not None else 0
        assert n == len(oracle["sinks"][t.sink_name]), t.sink_name
        cells = 0
        for d, _, files in os.walk(pipe.sinks[t.sink_name].data_dir):
            if os.path.basename(d).startswith("ts_day="):
                cells += 1
                parts = [f for f in files if f.endswith(".parquet")]
                assert len(parts) == 1, (d, parts)
        assert cells > 0 or n == 0, t.sink_name


def test_metrics_counters_match_oracle(run):
    pipe, result, oracle, cfg = run
    got: dict[str, int] = {}
    for r in pipe.metrics.rows:
        if r["metric"].startswith("msgs.") and r["metric"] != "msgs.inserted":
            key = f"{r['metric']}|{r['tag']}"
            got[key] = got.get(key, 0) + r["value"]
    want = {
        k: v
        for k, v in oracle["counters"].items()
        if not k.startswith("msgs.inserted")
    }
    assert got == want


def test_runtime_gauges_snapshot(run):
    """A5 runtime gauges (reference RunRuntimeCollector, metrics.go:17-27):
    each group boundary snapshots JVM mem/GC + executor-roster levels into
    the metric table via driver-side JMX reads (zero Spark jobs), and
    totals() folds gauges last-value-wins rather than summing."""
    pipe, result, oracle, cfg = run
    present = {
        r["metric"] for r in pipe.metrics.rows
        if r["metric"].startswith("gauge.")
    }
    for want in (
        "gauge.jvm_heap_used_bytes",
        "gauge.jvm_gc_count",
        "gauge.executor_count",
        "gauge.driver_python_rss_bytes",
    ):
        assert want in present, want
    totals = result["metrics"]
    assert totals["gauge.jvm_heap_used_bytes"] > 0
    assert totals["gauge.executor_count"] >= 1  # local mode: the driver
    # last-value fold: the totals entry equals the final snapshot row,
    # not the sum across group boundaries
    last_heap = [
        r["value"] for r in pipe.metrics.rows
        if r["metric"] == "gauge.jvm_heap_used_bytes"
    ][-1]
    assert totals["gauge.jvm_heap_used_bytes"] == last_heap


def test_dynamic_tag_metrics_bounded(spark, tmp_path):
    """Adversarial dynamic-tag cardinality must not land on the driver:
    with 10k distinct tags and max_dynamic_tags=5 the driver receives at
    most 6 named tag rows per chunk (top-5 + '__other__') while the chunk
    total stays exact."""
    cfg = default_config()
    n = 10_000
    # one HOT tag on every 4th row — it spans every cache partition, so
    # the top-K must rank its per-tag TOTAL (n/4), not per-partition
    # fragments (which individually lose to the count-1 unique tags)
    df = spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit("<13>Mar 10 04:00:00 h "),
            F.when(F.col("id") % 4 == 0, F.lit("hotshared")).otherwise(
                F.concat(
                    F.lit("tag"), F.lpad(F.col("id").cast("string"), 5, "0")
                )
            ),
            F.lit(": x"),
        ).alias("text"),
        F.lit("t").alias("tool"),
        F.lit("2017-03-10 04:00:00").cast("timestamp").alias("ts"),
    )
    pipe = Pipeline(
        spark, cfg, out_dir=str(tmp_path / "out"), max_dynamic_tags=5
    )
    pipe.run(df)
    static = {t.name for t in cfg.types.values() if t.name != "*"}
    recv = [
        r
        for r in pipe.metrics.rows
        if r["metric"] == "msgs.received" and r["tag"] not in static
    ]
    counts: dict[str, int] = {}
    for r in recv:
        counts[r["tag"]] = counts.get(r["tag"], 0) + r["value"]
    assert "__other__" in counts
    assert len(counts) <= 6  # 5 named + __other__
    # top-5 = the hot tag (by TOTAL count) + the 4 lexicographically
    # first count-1 tags (ids 1,2,3,5 — multiples of 4 are hot)
    assert sorted(set(counts) - {"__other__"}) == sorted(
        ["hotshared"] + [f"tag{i:05d}" for i in (1, 2, 3, 5)]
    )
    assert counts["hotshared"] == n // 4
    assert all(counts[f"tag{i:05d}"] == 1 for i in (1, 2, 3, 5))
    # exactly one named row per tag (no per-fragment duplicates)
    assert len(recv) == len(counts)
    assert sum(counts.values()) == n  # totals stay exact
    # per-pid lineage survived the same single collect
    lin = [
        r
        for r in pipe.metrics.rows
        if r["metric"] == "lineage.routed.partition_rows"
    ]
    assert sum(r["value"] for r in lin) == n


def test_inserted_counts(run):
    pipe, result, oracle, cfg = run
    per_sink: dict[str, int] = {}
    for r in pipe.metrics.rows:
        if r["metric"] == "msgs.inserted":
            per_sink[r["tag"]] = per_sink.get(r["tag"], 0) + r["value"]
    for t in cfg.types.values():
        assert per_sink.get(t.sink_name, 0) == len(oracle["sinks"][t.sink_name])


def test_errors_side_output(spark, run):
    pipe, result, oracle, cfg = run
    edf = pipe.errors_table.read(spark)
    got = (
        set()
        if edf is None
        else {(r["data"], r["error"]) for r in edf.collect()}
    )
    want = {(e["data"], e["error"]) for e in oracle["errors"]}
    assert got == want
    # parse is total: every input row is in exactly one of sinks/errors/
    # (unhandled is empty — default config has a catch-all)
    n_sunk = sum(len(v) for v in oracle["sinks"].values())
    n_failed = sum(
        v for k, v in oracle["counters"].items() if k.startswith("msgs.failed")
    )


def test_alerts_rollup(spark, run):
    pipe, result, oracle, cfg = run
    adf = pipe.alerts_table.read(spark)
    spark_pdf = adf.toPandas() if adf is not None else pd.DataFrame()
    _compare(
        spark_pdf,
        oracle["alerts"],
        ["alert_name", "window_start"],
        ctx="alerts",
    )
    assert len(spark_pdf) > 0, "fixtures should trigger the magic alert"


def test_actions_rendered(spark, run):
    """Embed payload rows ≡ the oracle's Action.Run rendering
    (action.go:105-122): title w/ N-1 suffix, description, color/url from
    the ActionConfig, RFC3339 first-event timestamp, fields array."""
    pipe, result, oracle, cfg = run
    adf = pipe.actions_table.read(spark)
    spark_pdf = adf.toPandas() if adf is not None else pd.DataFrame()
    _compare(
        spark_pdf, oracle["actions"], ["alert_name", "window_start"],
        ctx="actions",
    )
    assert len(spark_pdf) > 0, "wired action should fire"
    for _, r in spark_pdf[spark_pdf.n_events > 1].iterrows():
        assert r.title.endswith(f"({r.n_events - 1} similar events)")


def test_turn_ordering_invariant(spark, run):
    """Per-turn text (content) equality under stable (conv_id, turn_idx)
    ordering, checked per conversation via sort-then-concat."""
    pipe, result, oracle, cfg = run
    frames = []
    for t in cfg.types.values():
        sdf = pipe.sinks[t.sink_name].read(spark)
        if sdf is not None and "content" in sdf.columns:
            frames.append(sdf.select("conv_id", "turn_idx", "content"))
    got = frames[0]
    for f in frames[1:]:
        got = got.unionByName(f)
    got_pdf = (
        got.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    want_rows = []
    for t in cfg.types.values():
        for r in oracle["sinks"][t.sink_name]:
            if "content" in r:
                want_rows.append(
                    {
                        "conv_id": r["conv_id"],
                        "turn_idx": r["turn_idx"],
                        "content": r["content"],
                    }
                )
    want_pdf = (
        pd.DataFrame(want_rows)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_pdf, want_pdf, check_dtype=False)


def test_resume_skips_committed_chunks(
    spark, fixtures_dir, transcripts, tmp_path, monkeypatch
):
    """Exactly-once: a killed run resumes from the last committed chunk
    without reprocessing or duplicating rows. The crash is injected into
    the group's second sink commit, while the other sinks are committing
    concurrently."""
    out_dir = str(tmp_path / "resume_out")
    cfg = default_config()
    lookups = load_lookups(spark, fixtures_dir)

    orig = SnapshotTable.commit_batch
    lock = threading.Lock()
    calls = [0]

    def crashing_commit_batch(self, *args, **kwargs):
        with lock:
            calls[0] += 1
            n = calls[0]
        if n == 2:
            raise RuntimeError("simulated crash in the second sink commit")
        return orig(self, *args, **kwargs)

    pipe1 = Pipeline(spark, cfg, out_dir=out_dir, lookups=lookups)
    with monkeypatch.context() as mp:
        mp.setattr(SnapshotTable, "commit_batch", crashing_commit_batch)
        with pytest.raises(RuntimeError, match="simulated crash"):
            pipe1.run(transcripts)
    # crash mid-chunk: no chunk marker was written
    assert not any(
        f.endswith(".json") for f in os.listdir(os.path.join(out_dir, "_chunks"))
    )

    pipe2 = Pipeline(spark, cfg, out_dir=out_dir, lookups=lookups)
    r2 = pipe2.run(transcripts)
    assert r2["chunks_skipped"] == []
    n_days = transcripts.select(F.to_date("ts")).distinct().count()
    assert len(r2["chunks_processed"]) == n_days

    # third run: everything skipped, nothing duplicated
    pipe3 = Pipeline(spark, cfg, out_dir=out_dir, lookups=lookups)
    r3 = pipe3.run(transcripts)
    assert r3["chunks_processed"] == []
    assert len(r3["chunks_skipped"]) == n_days

    total = sum(
        pipe3.sinks[t.sink_name].read(spark).count()
        for t in cfg.types.values()
        if pipe3.sinks[t.sink_name].read(spark) is not None
    )
    rows = transcripts.toPandas()
    oracle = run_reference(rows.to_dict("records"), cfg, {})
    assert total == sum(len(v) for v in oracle["sinks"].values())

    # lineage audit: manifest row counts reconcile with the data actually
    # readable per sink, per (route_key, ts_day) partition
    for t in cfg.types.values():
        sink = pipe3.sinks[t.sink_name]
        lin = sink.lineage()
        df = sink.read(spark)
        got_rows = df.count() if df is not None else 0
        assert sum(s["n_rows"] for s in lin.values()) == got_rows, t.sink_name
        if df is not None:
            by_part = {
                f"{r['route_key']}|{r['ts_day']}": r["count"]
                for r in df.groupBy("route_key", "ts_day").count().collect()
            }
            lin_parts: dict[str, int] = {}
            for s in lin.values():
                for k, v in s["partition_rows"].items():
                    lin_parts[k] = lin_parts.get(k, 0) + v
            assert lin_parts == by_part, t.sink_name


def test_retention_keep_n(spark, run):
    pipe, result, oracle, cfg = run
    sink = pipe.sinks["sink_logs"]
    before = sink.partitions("logs-")
    assert len(before) > 5
    dropped = sink.expire_partitions("logs-", keep=5)
    after = sink.partitions("logs-")
    assert after == before[-5:]
    assert dropped == before[:-5]
    # reads only see retained partitions
    df = sink.read(spark)
    keys = {r["route_key"] for r in df.select("route_key").distinct().collect()}
    assert keys == set(after)


def test_null_ts_rows_are_processed_not_lost(spark, tmp_path):
    """A row with ts=NULL must flow through the pipeline (sentinel chunk),
    reach a sink or the errors table, and survive resume — date_format of
    NULL used to yield a NULL chunk that matched no isin(group) filter,
    silently dropping the row while marking its chunk committed."""
    import pandas as pd

    from punt_spark.pipeline import Pipeline
    from punt_spark.sink import NULL_TS_CHUNK

    line = "<13>Mar 14 04:00:00 h1 logs: null ts content survives"
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c2"],
            "turn_idx": pd.array([0, 0], dtype="int32"),
            "role": ["user", "user"],
            "text": [line, line],
            "tool": ["none", "none"],
            "ts": pd.to_datetime(["2017-03-14 04:00:00", pd.NaT]).astype(
                "datetime64[us]"
            ),
        }
    )
    transcripts = spark.createDataFrame(pdf)
    pipe = Pipeline(spark, out_dir=str(tmp_path / "out"))
    res = pipe.run(transcripts, resume=False)
    assert NULL_TS_CHUNK in res["chunks_processed"]
    out = pipe.sinks["sink_logs"].read(spark)
    got = {r["conv_id"] for r in out.select("conv_id").collect()}
    assert got == {"c1", "c2"}  # the NULL-ts row reached the sink
    # resume skips BOTH chunks (the sentinel chunk is marked like any day)
    res2 = pipe.run(transcripts, resume=True)
    assert sorted(res2["chunks_skipped"]) == sorted(res["chunks_processed"])
    assert pipe.sinks["sink_logs"].read(spark).count() == 2
