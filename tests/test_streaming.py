"""Streaming variant: AvailableNow drain produces the same per-sink counts
as the batch pipeline, and the checkpoint prevents reprocessing."""

import os
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F
from test_pipeline import _compare, reference_oracle

from punt_spark.config import default_config
from punt_spark.pipeline import Pipeline, load_lookups
from punt_spark.sink import SnapshotTable
from punt_spark.streaming import StreamingPipeline


@pytest.fixture(scope="module")
def stream_input(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    transcripts.write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def multi_file_input(spark, transcripts, tmp_path_factory):
    """The transcripts as six part files, so a ``max_files_per_trigger=2``
    drain runs three micro-batches."""
    d = str(tmp_path_factory.mktemp("stream_in_6"))
    transcripts.repartition(6, "conv_id").write.mode("overwrite").parquet(d)
    return d


def test_streaming_matches_batch_counts(spark, fixtures_dir, transcripts, stream_input, tmp_path):
    cfg = default_config()
    lookups = load_lookups(spark, fixtures_dir)

    batch = Pipeline(spark, cfg, out_dir=str(tmp_path / "batch"), lookups=lookups,
                     collect_metrics=False)
    batch.run(transcripts)

    s = StreamingPipeline(spark, cfg, out_dir=str(tmp_path / "stream"), lookups=lookups)
    s.run_available_now(stream_input)

    for t in cfg.types.values():
        b = batch.sinks[t.sink_name].read(spark)
        st = s.sinks[t.sink_name].read(spark)
        nb = b.count() if b is not None else 0
        ns = st.count() if st is not None else 0
        assert nb == ns, t.sink_name
    be = batch.errors_table.read(spark)
    se = s.errors_table.read(spark)
    assert (be.count() if be else 0) == (se.count() if se else 0)

    # alert events + rendered actions: same TOTAL matched-event count as
    # batch (window boundaries differ when a rollup window straddles a
    # micro-batch split, so compare the event sums, not window rows)
    ba = batch.alerts_table.read(spark)
    sa = s.alerts_table.read(spark)
    assert ba is not None and sa is not None
    agg = lambda d: d.agg(F.sum("n_events")).collect()[0][0]  # noqa: E731
    assert agg(ba) == agg(sa)
    sact = s.actions_table.read(spark)
    assert sact is not None and agg(sact) == agg(ba)

    # second drain: checkpoint says nothing new → no duplicate rows
    s2 = StreamingPipeline(spark, cfg, out_dir=str(tmp_path / "stream"), lookups=lookups)
    s2.run_available_now(stream_input)
    for t in cfg.types.values():
        st = s2.sinks[t.sink_name].read(spark)
        b = batch.sinks[t.sink_name].read(spark)
        assert (st.count() if st else 0) == (b.count() if b else 0), t.sink_name


def test_streaming_metrics_match_batch(
    spark, fixtures_dir, transcripts, multi_file_input, tmp_path
):
    """Batch/streaming metrics parity: the same counter set (received /
    processed / failed / inserted / parse_errors, per tag) accumulates to
    the same totals whether the corpus arrives as one batch group or as
    several micro-batches — the r4 parity criterion. Attribution
    granularity differs (streaming labels commit-derived counters by
    micro-batch id), so totals are compared per (metric, tag)."""
    cfg = default_config()
    lookups = load_lookups(spark, fixtures_dir)
    batch = Pipeline(
        spark, cfg, out_dir=str(tmp_path / "b"), lookups=lookups,
    )
    batch.run(transcripts)
    s = StreamingPipeline(
        spark, cfg, out_dir=str(tmp_path / "s"), lookups=lookups,
    )
    # several micro-batches, so cross-batch accumulation is exercised
    s.run_available_now(multi_file_input, max_files_per_trigger=2)
    assert {
        r["chunk"] for r in s.metrics.rows if r["metric"] == "msgs.inserted"
    } == {f"batch-{i:08d}" for i in range(3)}

    def totals(m):
        out = {}
        for r in m.rows:
            if r["metric"].startswith("msgs.") or r["metric"] == "parse_errors":
                key = (r["metric"], r["tag"])
                out[key] = out.get(key, 0) + r["value"]
        return out

    assert totals(s.metrics) == totals(batch.metrics)
    # lineage rows exist and account for every routed row
    lin = sum(
        r["value"]
        for r in s.metrics.rows
        if r["metric"] == "lineage.routed.partition_rows"
    )
    assert lin == sum(
        v for (mname, _), v in totals(batch.metrics).items()
        if mname == "msgs.received"
    )
    # the drain persisted the accumulated metrics table
    assert os.path.exists(os.path.join(str(tmp_path / "s"), "metrics.parquet"))


def test_streaming_framing(spark, tmp_path):
    """The batch pipeline's frame_mode knob works in the streaming
    foreachBatch body too: a framed blob explodes into per-record rows
    with record_idx."""
    import pandas as pd

    line1 = "<13>Mar 14 04:00:00 h1 logs: first record"
    line2 = "<14>Mar 14 04:00:01 h1 logs: second record"
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"],
            "text": [f"{line1}\n{line2}\n"],
            "tool": ["none"],
            "ts": pd.to_datetime(["2017-03-14 04:00:00"]).astype(
                "datetime64[us]"
            ),
        }
    )
    src = str(tmp_path / "framed_in")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    s = StreamingPipeline(
        spark,
        default_config(),
        out_dir=str(tmp_path / "framed_out"),
        frame_mode="newline",
    )
    s.run_available_now(src)
    out = s.sinks["sink_logs"].read(spark)
    rows = sorted(
        out.select("record_idx", "content").collect(),
        key=lambda r: r["record_idx"],
    )
    assert [r["content"] for r in rows] == ["first record", "second record"]
    got = {
        (r["metric"], r["tag"]): r["value"]
        for r in s.metrics.rows
        if r["metric"].startswith("msgs.")
    }
    assert got[("msgs.received", "logs")] == 2
    assert got[("msgs.inserted", "sink_logs")] == 2


@pytest.mark.parametrize(
    "crash", ["second_sink_commit", "after_actions_commit"]
)
def test_streaming_exactly_once_under_faults(
    spark, fixtures_dir, transcripts, multi_file_input, tmp_path, monkeypatch,
    crash,
):
    """A drain that crashes inside its second micro-batch — in a commit
    while the group's other outputs commit concurrently, or after every
    write of the batch but before the checkpoint commit — and is restarted
    on the same dirs loses no row and doubles none: every sink equals the
    reference row for row, and the manifest lineage accounts for exactly
    the rows that read back."""
    cfg = default_config()
    lookups = load_lookups(spark, fixtures_dir)
    out = str(tmp_path / "out")
    crash_sid = "batch-00000001"
    orig = SnapshotTable.commit
    lock = threading.Lock()
    calls = [0]

    def crashing_commit(self, df, snapshot_id, *args, **kwargs):
        if snapshot_id != crash_sid:
            return orig(self, df, snapshot_id, *args, **kwargs)
        with lock:
            calls[0] += 1
            n = calls[0]
        # a commit while the group's other outputs commit concurrently
        if crash == "second_sink_commit" and n == 2:
            raise RuntimeError("simulated crash in a commit")
        man = orig(self, df, snapshot_id, *args, **kwargs)
        if crash == "after_actions_commit" and self is actions_table:
            raise RuntimeError("simulated crash before the checkpoint commit")
        return man

    s1 = StreamingPipeline(spark, cfg, out_dir=out, lookups=lookups)
    actions_table = s1.actions_table
    with monkeypatch.context() as mp:
        mp.setattr(SnapshotTable, "commit", crashing_commit)
        with pytest.raises(Exception, match="simulated crash"):
            s1.run_available_now(multi_file_input, max_files_per_trigger=2)
    assert s1.sinks["sink_logs"].has_snapshot("batch-00000000")

    s2 = StreamingPipeline(spark, cfg, out_dir=out, lookups=lookups)
    s2.run_available_now(multi_file_input, max_files_per_trigger=2)
    assert s2.sinks["sink_logs"].has_snapshot("batch-00000002")

    oracle = reference_oracle(transcripts, cfg)
    for t in cfg.types.values():
        sink = s2.sinks[t.sink_name]
        sdf = sink.read(spark)
        got = sdf.toPandas() if sdf is not None else pd.DataFrame()
        _compare(
            got, oracle["sinks"][t.sink_name], ["conv_id", "turn_idx"],
            ctx=t.sink_name,
        )
        lin = sink.lineage()
        assert sum(s["n_rows"] for s in lin.values()) == len(got), t.sink_name


def test_streaming_lineage_without_metrics(
    spark, fixtures_dir, multi_file_input, tmp_path
):
    """Manifest lineage does not depend on ``collect_metrics``: after a
    three-micro-batch drain with metrics off, every sink's and the errors
    table's ``lineage()`` rows add up to the rows that read back."""
    cfg = default_config()
    s = StreamingPipeline(
        spark, cfg, out_dir=str(tmp_path / "out"),
        lookups=load_lookups(spark, fixtures_dir), collect_metrics=False,
    )
    s.run_available_now(multi_file_input, max_files_per_trigger=2)
    tables = dict(s.sinks, errors=s.errors_table)
    total = 0
    for name, tbl in tables.items():
        assert len(tbl.snapshots()) == 3, name
        df = tbl.read(spark)
        n = df.count() if df is not None else 0
        assert sum(v["n_rows"] for v in tbl.lineage().values()) == n, name
        total += n
    assert total > 0


def test_live_tail_follows_new_commits(spark, tmp_path):
    """The control-socket tail analog (control.go:80-143): a follow=True
    subscription picks up rows from commits that land AFTER the stream
    started, with the field-equality filter applied."""
    import time

    import pandas as pd
    from punt_spark.sink import SnapshotTable
    from punt_spark.streaming import live_tail

    tbl = SnapshotTable(str(tmp_path / "tail_sink"))

    def mk(tag, n, ids):
        pdf = pd.DataFrame(
            {
                "conv_id": [f"c{i}" for i in ids],
                "turn_idx": list(ids),
                "tag": [tag] * n,
                "route_key": [f"{tag}-2017.03.14.04"] * n,
                "ts_day": ["2017-03-14"] * n,
            }
        )
        return spark.createDataFrame(pdf)

    tbl.commit(mk("logs", 3, [0, 1, 2]), snapshot_id="s1")
    tbl.commit(mk("audit", 2, [3, 4]), snapshot_id="s2")

    q = live_tail(
        spark, tbl, filters={"tag": "logs"}, follow=True, trigger_sec=1,
        query_name="live_tail_t",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("select * from live_tail_t").count() >= 3:
                break
            time.sleep(0.5)
        got = spark.sql("select conv_id from live_tail_t").collect()
        assert {r["conv_id"] for r in got} == {"c0", "c1", "c2"}  # filtered

        # a NEW commit lands while the subscription is live
        tbl.commit(mk("logs", 2, [5, 6]), snapshot_id="s3")
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("select * from live_tail_t").count() >= 5:
                break
            time.sleep(0.5)
        got = {r["conv_id"] for r in spark.sql("select * from live_tail_t").collect()}
        assert got == {"c0", "c1", "c2", "c5", "c6"}
    finally:
        q.stop()


def test_live_tail_ignores_in_flight_staging_dir(spark, tmp_path):
    """A commit still being written sits under the dot-prefixed staging dir
    (``.tmp.batch=<id>/_temporary/0/<task>/...``, one level deeper than a
    published batch). A tail that lists while it is in flight neither fails
    on that layout nor reads its uncommitted rows."""
    import shutil

    import pandas as pd
    from punt_spark.sink import SnapshotTable
    from punt_spark.streaming import live_tail

    tbl = SnapshotTable(str(tmp_path / "staged_sink"))
    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c1"],
            "turn_idx": [0, 1],
            "tag": ["logs", "logs"],
            "route_key": ["logs-2017.03.14.04"] * 2,
            "ts_day": ["2017-03-14"] * 2,
        }
    )
    man = tbl.commit(spark.createDataFrame(pdf), snapshot_id="s1")
    cell = os.path.join("route_key=logs-2017.03.14.04", "ts_day=2017-03-14")
    staged = os.path.join(
        tbl.data_dir, ".tmp.batch=s2", "_temporary", "0", "task_0", cell
    )
    os.makedirs(staged)
    shutil.copy(os.path.join(tbl.root, man["files"][0]), staged)

    q = live_tail(spark, tbl, query_name="live_tail_staged")
    q.awaitTermination(120)
    assert q.exception() is None
    got = [r["conv_id"] for r in spark.sql("select conv_id from live_tail_staged").collect()]
    assert sorted(got) == ["c0", "c1"]


def test_live_tail_multi_table_fan_in(spark, tmp_path):
    """punt-cli tails the same stream on several hosts and merges the
    lines (cmd/punt-cli/main.go:22-74) — several sink tables fan into one
    subscription, schema gaps null-filled."""
    import pandas as pd
    from punt_spark.sink import SnapshotTable
    from punt_spark.streaming import live_tail

    t1 = SnapshotTable(str(tmp_path / "lane_east"))
    t2 = SnapshotTable(str(tmp_path / "lane_west"))
    t1.commit(
        spark.createDataFrame(
            pd.DataFrame({"conv_id": ["e1", "e2"], "turn_idx": [0, 1],
                          "tag": ["logs", "logs"]})
        ),
        snapshot_id="s1", partition_cols=[],
    )
    t2.commit(
        spark.createDataFrame(
            pd.DataFrame({"conv_id": ["w1"], "turn_idx": [0],
                          "tag": ["logs"], "extra": ["x"]})
        ),
        snapshot_id="s1", partition_cols=[],
    )
    q = live_tail(
        spark, [t1, t2], filters={"tag": "logs"}, follow=False,
        query_name="fanin",
    )
    q.awaitTermination()
    rows = spark.sql("select * from fanin").collect()
    assert {r["conv_id"] for r in rows} == {"e1", "e2", "w1"}
    by = {r["conv_id"]: r for r in rows}
    assert by["w1"]["extra"] == "x"
    assert by["e1"]["extra"] is None  # missing column null-filled


def test_live_tail_sample_deterministic(spark, tmp_path):
    """Streaming sample is a deterministic hash selection: same seed →
    same subset, ~pct% of rows."""
    import pandas as pd
    from punt_spark.sink import SnapshotTable
    from punt_spark.streaming import live_tail

    tbl = SnapshotTable(str(tmp_path / "tail_sample_sink"))
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(200)],
            "turn_idx": list(range(200)),
            "tag": ["logs"] * 200,
        }
    )
    tbl.commit(spark.createDataFrame(pdf), snapshot_id="s1", partition_cols=[])
    counts = []
    for name in ("samp_a", "samp_b"):
        q = live_tail(
            spark, tbl, sample_pct=30, seed=7, follow=False, query_name=name
        )
        q.awaitTermination()
        counts.append(
            {r["conv_id"] for r in spark.sql(f"select * from {name}").collect()}
        )
    assert counts[0] == counts[1]  # deterministic
    assert 30 <= len(counts[0]) <= 90  # ~30% of 200, generous band


def test_cli_follow_attaches_to_nonempty_subset(spark, tmp_path, capsys):
    """--tail A,B --follow must not starve: a never-written sink in the
    comma list cannot block rows from the sinks that do have data (the
    reference's control socket accepts tails regardless of data)."""
    import pandas as pd
    from punt_spark import cli
    from punt_spark.sink import SnapshotTable

    out = str(tmp_path / "cli_out")
    tbl = SnapshotTable(os.path.join(out, "sink_logs"))
    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c1"],
            "turn_idx": [0, 1],
            "tag": ["logs", "logs"],
            "route_key": ["logs-2017.03.14.04"] * 2,
            "ts_day": ["2017-03-14"] * 2,
        }
    )
    tbl.commit(spark.createDataFrame(pdf), snapshot_id="s1")
    # sink_never under the same out root is never written
    rc = cli.main(
        [
            "--out", out, "--tail", "sink_logs,sink_never",
            "--follow", "--follow-sec", "45", "--limit", "2",
        ]
    )
    assert rc == 0
    lines = [
        ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")
    ]
    assert len(lines) == 2  # rows arrived despite the empty second sink


def test_retention_ticker(spark, tmp_path):
    """Scheduled retention (reference gcIndexes ticker, cluster.go:112-128):
    commits spanning more route_key buckets than keep-N, the ticker fires,
    the oldest partition dirs are gone and manifests are rewritten."""
    import time

    import pandas as pd
    from punt_spark.config import GCConfig, PipelineConfig, TypeConfig

    cfg = PipelineConfig(
        types={"logs": TypeConfig(name="logs", prefix="logs-")},
        gc=[GCConfig(prefix="logs-", keep=1)],
    )
    pipe = Pipeline(spark, cfg, out_dir=str(tmp_path / "gc_out"))
    tbl = pipe.sinks["sink_logs"]
    for i, rk in enumerate(["logs-2017.03.13.01", "logs-2017.03.14.02"]):
        pdf = pd.DataFrame(
            {
                "conv_id": [f"c{i}"],
                "route_key": [rk],
                "ts_day": [rk[5:15].replace(".", "-")],
            }
        )
        tbl.commit(spark.createDataFrame(pdf), snapshot_id=f"s{i}")
    assert len(tbl.partitions("logs-")) == 2
    ticker = pipe.retention_ticker(0.2).start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and ticker.fired == 0:
            time.sleep(0.1)
    finally:
        ticker.stop()
    assert ticker.fired >= 1
    assert any(e.get("logs-") == ["logs-2017.03.13.01"] for e in ticker.expired)
    assert tbl.partitions("logs-") == ["logs-2017.03.14.02"]
    # manifests rewritten: expired files absent from every snapshot
    for m in tbl.snapshots().values():
        assert all("logs-2017.03.13.01" not in f for f in m["files"])


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    """Ingest-time streaming dedup: duplicates within the watermark delay
    are dropped with BOUNDED state (dropDuplicatesWithinWatermark), both
    inside one micro-batch and across batches via the checkpoint."""
    import datetime

    import pandas as pd
    from punt_spark.streaming import dedup_stream

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    t0 = datetime.datetime(2017, 3, 14, 4, 0, 0)

    def write_batch(fname, ids):
        pdf = pd.DataFrame(
            {
                "conv_id": [f"c{i}" for i in ids],
                "turn_idx": [i for i in ids],
                "ts": pd.Series(
                    [t0 + datetime.timedelta(seconds=i) for i in ids],
                    dtype="datetime64[us]",
                ),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, fname)
        )

    # batch 1: ids 0,1,2 with 1 duplicated in-batch
    write_batch("b1", [0, 1, 1, 2])

    def drain(name):
        stream = spark.readStream.schema(
            "conv_id string, turn_idx bigint, ts timestamp"
        ).option("basePath", src).parquet(os.path.join(src, "*"))
        out = dedup_stream(stream, ["conv_id", "turn_idx"], delay="1 hour")
        rows = []

        def sink(batch_df, batch_id):
            rows.extend(
                (r["conv_id"], r["turn_idx"]) for r in batch_df.collect()
            )

        q = (
            out.writeStream.foreachBatch(sink)
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return set(rows)

    got1 = drain("dedup_s1")
    assert got1 == {("c0", 0), ("c1", 1), ("c2", 2)}
    # batch 2: id 1 again (duplicate across batches, within the watermark)
    # plus a genuinely new id 3
    write_batch("b2", [1, 3])
    got2 = drain("dedup_s2")
    assert got2 == {("c3", 3)}  # cross-batch duplicate suppressed by state


def test_streaming_pipeline_ingest_dedup(spark, transcripts, tmp_path):
    """dedup_within: an at-least-once source delivering every row twice
    produces the same per-sink counts as a clean single-delivery run."""
    import pandas as pd

    cfg = default_config()
    sample = transcripts.limit(200).toPandas()
    doubled = pd.concat([sample, sample], ignore_index=True)
    doubled["ts"] = doubled["ts"].astype("datetime64[us]")
    src = str(tmp_path / "dup_in")
    spark.createDataFrame(doubled).coalesce(2).write.mode("overwrite").parquet(src)

    s_dedup = StreamingPipeline(
        spark, cfg, out_dir=str(tmp_path / "dd"), dedup_within="1 hour"
    )
    s_dedup.run_available_now(src)
    s_plain = StreamingPipeline(spark, cfg, out_dir=str(tmp_path / "pl"))
    s_plain.run_available_now(src)

    for t in cfg.types.values():
        d = s_dedup.sinks[t.sink_name].read(spark)
        p = s_plain.sinks[t.sink_name].read(spark)
        n_d = d.count() if d is not None else 0
        n_p = p.count() if p is not None else 0
        assert n_p == 2 * n_d, t.sink_name  # duplicates suppressed exactly


def test_alert_window_straddling_micro_batch_boundary(spark, tmp_path):
    """Pins the daemon's alert-window semantics on one fixture whose
    2-second rollup window straddles a micro-batch boundary: the
    foreachBatch pipeline rolls windows PER BATCH (the reference's
    arrival-split wall-clock behavior, alert.go:50-65) — the straddling
    window SPLITS into one row per micro-batch, total events preserved."""
    import os as _os
    import time as _time

    import pandas as pd

    src = str(tmp_path / "straddle_in")
    _os.makedirs(src)

    def write_one(fname, second):
        # both events land in the SAME epoch-aligned 2 s event-time window
        # [04:00:32, 04:00:34): envelope ts comes from the syslog line
        # double space after the tag colon: the parser consumes one, so
        # content starts " magic …" and the default alert regex matches
        line = f"<13>Mar 14 04:00:3{second} h1 logs:  magic boundary event"
        pdf = pd.DataFrame(
            {
                "conv_id": ["c1"],
                "turn_idx": pd.array([0], dtype="int32"),
                "role": ["user"],
                "text": [line],
                "tool": ["none"],
                "ts": pd.to_datetime(["2017-03-14 04:00:00"]).astype(
                    "datetime64[us]"
                ),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite"
        ).parquet(_os.path.join(src, fname))

    write_one("b1", 2)
    _time.sleep(1.1)  # file source orders batches by mod time
    write_one("b2", 3)

    s = StreamingPipeline(
        spark, default_config(), out_dir=str(tmp_path / "straddle_out")
    )
    s.run_available_now(src + "/*", max_files_per_trigger=1)
    alerts = s.alerts_table.read(spark).collect()
    # per-batch rollup: the one event-time window appears ONCE PER BATCH
    assert len(alerts) == 2
    assert {r["n_events"] for r in alerts} == {1}
    assert len({str(r["window_start"]) for r in alerts}) == 1  # same window
    assert sum(r["n_events"] for r in alerts) == 2  # nothing lost
