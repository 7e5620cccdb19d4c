"""Unit tests for the individual operator modules + property tests."""

import json
import os

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from punt_spark.alerts import render_template
from punt_spark.config import (
    PipelineConfig,
    default_config,
    go_time_format_to_java,
)
from punt_spark.enrich import apply_lookup, apply_unixtime
from punt_spark.framing import frame_octets_str, frame_records
from punt_spark.parse import parse_rfc3164_batch
from punt_spark.route import ROUTE_SCHEMA, route, routes_df
from punt_spark.session import local_table
from punt_spark.tail import tail
from punt_spark.transform import apply_transformer

# --- config -----------------------------------------------------------------


def test_go_time_format_to_java():
    assert go_time_format_to_java("2006.01.02.15") == "yyyy.MM.dd.HH"
    assert go_time_format_to_java("2006-01-02T15:04:05") == "yyyy-MM-dd'T'HH:mm:ss"
    assert go_time_format_to_java("Jan 2006") == "MMM yyyy"


def test_config_from_json(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(
        """
        {"types": {"*": {"prefix": "test-", "date_format": "2006.01.02.15",
                    "transformer": {"name": "direct"}},
                   "logs": {"prefix": "logs-", "transformer": {"name": "unpack-merge"},
                    "payload_schema": "a string",
                    "mutators": [{"name": "unixtime", "config": {"fields": {"a": "b"}}}]}},
         "gc": {"logs-": {"keep": 5}},
         "alerts": {"m": {"type": "match", "rollup_window": 2, "action": "d",
                    "config": {"source": "content", "match": "^x",
                               "title": "T", "description": "{content}", "fields": {}}}},
         "actions": {"d": {"type": "discord",
                    "config": {"url": "http://h", "color": 16738657}}}}
        """
    )
    cfg = PipelineConfig.from_json(str(p))
    assert cfg.catchall.prefix == "test-"
    assert cfg.types["logs"].transformer == "unpack-merge"
    assert cfg.types["logs"].mutators[0].name == "unixtime"
    assert cfg.gc[0].keep == 5
    assert cfg.alerts[0].match == "^x"
    # actions parsed + wired (reference config.json:87-95, state.go:34-37)
    assert cfg.alerts[0].action == "d"
    assert cfg.actions["d"].url == "http://h"
    assert cfg.actions["d"].color == 16738657


# --- framing (buffer_test.go goldens) ------------------------------------------


def test_octet_framing_golden():
    # buffer_test.go:34-48: sequential octet records
    assert frame_octets_str("5 hello5 hello") == ["hello", "hello"]
    # buffer_test.go:50-59: real rsyslog audit line
    line = (
        "98 <133>Mar 14 04:20:29 example-host-prod-1-1 audit "
        "type=SYSCALL msg=audit(1489465219.995:1699): test"
    )
    recs = frame_octets_str(line)
    assert len(recs) == 1 and recs[0].startswith("<133>") and len(recs[0]) == 98
    # buffer_test.go:61-70: garbage skip
    assert frame_octets_str("asdfasdfasdf 10 abcdefghij") == ["abcdefghij"]
    # incomplete record buffers (here: dropped)
    assert frame_octets_str("10 abc") == []


def test_octet_framing_spark(spark):
    df = spark.createDataFrame(
        [("5 aaaaa3 bbb",), ("asdf 2 xy",)], "text string"
    )
    recs = [r["text"] for r in frame_records(df, "octet").collect()]
    assert sorted(recs) == ["aaaaa", "bbb", "xy"]


def test_newline_framing_spark(spark):
    # buffer_test.go:72-90: a\nb\ncdef\n → 3 records
    df = spark.createDataFrame([("a\nb\ncdef\n",)], "text string")
    recs = [r["text"] for r in frame_records(df, "newline").orderBy("record_idx").collect()]
    assert recs == ["a", "b", "cdef"]


@given(st.lists(st.text(alphabet=st.characters(codec="ascii"), min_size=0, max_size=30), max_size=5))
@settings(max_examples=50, deadline=None)
def test_octet_framing_roundtrip(payloads):
    buf = "".join(f"{len(p)} {p}" for p in payloads)
    assert frame_octets_str(buf) == payloads


# --- parse totality (property) ----------------------------------------------------


@given(st.lists(st.text(max_size=80), min_size=1, max_size=20))
@settings(max_examples=30, deadline=None)
def test_parse_total(lines):
    out = parse_rfc3164_batch(pa.array(lines, pa.string()), 2017).to_pylist()
    # every row lands in exactly one of parsed/errors
    ok = [r["error"] is None for r in out]
    assert len(out) == len(lines)
    assert all(o or r["error"] is not None for o, r in zip(ok, out))
    assert all(r["priority"] is not None for o, r in zip(ok, out) if o)


# --- transformers --------------------------------------------------------------------


@pytest.fixture()
def envelope_df(spark):
    return spark.createDataFrame(
        [
            (1, 13, "h", "logs", 0, '{"level":"info","user":"u1","epoch":"5.5"}', "s"),
            (2, 13, "h", "logs", 0, "not json", "s"),
            (3, 13, "h", "logs", 0, '["array","not","object"]', "s"),
        ],
        "id long, priority int, hostname string, tag string, pid int, "
        "content string, source string",
    )


def test_unpack_merge(spark, envelope_df):
    from punt_spark.config import TypeConfig

    t = TypeConfig(
        name="logs", prefix="l-", transformer="unpack-merge",
        payload_schema="level string, user string, epoch string",
    )
    out, failed = apply_transformer(envelope_df, t)
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {1}
    assert rows[1]["level"] == "info" and rows[1]["hostname"] == "h"
    assert "content" not in out.columns
    # non-object and non-JSON both fail, matching Go json.Unmarshal-into-map
    assert {r["id"] for r in failed.collect()} == {2, 3}


def test_unpack_take(spark, envelope_df):
    from punt_spark.config import TypeConfig

    t = TypeConfig(
        name="logs", prefix="l-", transformer="unpack-take",
        payload_schema="level string, user string, epoch string",
    )
    out, failed = apply_transformer(envelope_df, t)
    assert "hostname" not in out.columns  # envelope discarded
    assert {r["level"] for r in out.collect()} == {"info"}


def test_direct(spark, envelope_df):
    from punt_spark.config import TypeConfig

    t = TypeConfig(name="logs", prefix="l-", transformer="direct")
    out, failed = apply_transformer(envelope_df, t)
    assert out.count() == 3 and failed.count() == 0


# --- mutators ---------------------------------------------------------------------------


def test_unixtime_mutator(spark):
    df = spark.createDataFrame(
        [("1489465219.995",), ("garbage",), (None,)], "epoch string"
    )
    out = apply_unixtime(df, {"fields": {"epoch": "epoch_ts"}}).collect()
    assert out[0]["epoch_ts"] == "2017-03-14T04:20:19+00:00"
    assert out[1]["epoch_ts"] is None  # unparseable → null (mutator error ignored)
    assert out[2]["epoch_ts"] is None
    # missing input field = silent no-op (mutators.go:44-46)
    df2 = spark.createDataFrame([("x",)], "other string")
    assert apply_unixtime(df2, {"fields": {"epoch": "epoch_ts"}}).columns == ["other"]


def test_unixtime_custom_format(spark):
    df = spark.createDataFrame([("0",)], "epoch string")
    out = apply_unixtime(
        df, {"fields": {"epoch": "t"}, "format": "2006.01.02.15"}
    ).collect()
    assert out[0]["t"] == "1970.01.01.00"


def test_lookup_mutator(spark):
    df = spark.createDataFrame([("grep",), ("unknown",)], "tool string")
    dim = spark.createDataFrame(
        [("grep", "search", 10, [1.0, 2.0])],
        "tool string, category string, risk_code int, coords array<double>",
    )
    out = apply_lookup(df, {"on": "tool"}, {"tool": dim}).collect()
    rows = {r["tool"]: r for r in out}
    assert rows["grep"]["tool_category"] == "search"
    assert rows["unknown"]["tool_category"] is None  # left join = no-op
    # dim absent → stable-schema no-op with the fixed geoip-style contract
    out2 = apply_lookup(df, {"on": "tool"}, {})
    assert {"tool_category", "tool_risk_code", "tool_coords"} <= set(out2.columns)
    # dim violating the contract is a plan-time error (reference: missing
    # GeoIP db fails config load, mutators.go:73-77)
    bad = spark.createDataFrame([("grep", "x")], "tool string, owner string")
    with pytest.raises(ValueError, match="contract columns"):
        apply_lookup(df, {"on": "tool"}, {"tool": bad})
    # key column absent from the frame (envelope column under unpack-take):
    # silent stable-schema no-op, NOT an AnalysisException (mutators.go:90-93)
    no_key = spark.createDataFrame([("x",)], "other string")
    out3 = apply_lookup(no_key, {"on": "tool"}, {"tool": dim})
    assert {"tool_category", "tool_risk_code", "tool_coords"} <= set(out3.columns)
    assert out3.collect()[0]["tool_category"] is None


# --- routing -----------------------------------------------------------------------------


def test_route_catchall_and_unhandled(spark):
    import datetime

    cfg = default_config()
    routes = routes_df(spark, cfg)
    df = spark.createDataFrame(
        [
            ("logs", datetime.datetime(2017, 3, 14, 4, 0, 0)),
            ("nosuch", datetime.datetime(2017, 3, 14, 5, 0, 0)),
            (None, datetime.datetime(2017, 3, 14, 6, 0, 0)),
        ],
        "tag string, ts timestamp",
    )
    routed, unhandled = route(df, routes)
    rows = {r["tag"]: r for r in routed.collect()}
    assert rows["logs"]["route_key"] == "logs-2017.03.14.04"
    assert rows["nosuch"]["route_key"] == "test-2017.03.14.05"  # '*' fallback
    assert rows[None]["route_key"] == "test-2017.03.14.06"  # NULL tag → '*'
    assert rows[None]["sink"] == "sink_catchall"
    assert rows["logs"]["@timestamp"] == "2017-03-14T04:00:00+00:00"
    assert unhandled.count() == 0

    # without a catch-all, unmatched and NULL tags are unhandled
    # (cluster.go:258-262)
    no_catch = routes.filter(F.col("tag") != "*")
    routed2, unhandled2 = route(df, no_catch)
    assert routed2.count() == 1
    assert sorted(unhandled2.collect(), key=lambda r: r["ts"]) == [
        ("nosuch", datetime.datetime(2017, 3, 14, 5, 0, 0)),
        (None, datetime.datetime(2017, 3, 14, 6, 0, 0)),
    ]
    assert unhandled2.columns == df.columns

    # a NULL field in a specific route takes the catch-all's value
    reg = [
        tuple(None if (r["tag"], c) == ("logs", "prefix") else r[c] for c in r.__fields__)
        for r in routes.collect()
    ]
    routed3, _ = route(df, local_table(spark, reg, ROUTE_SCHEMA))
    rows3 = {r["tag"]: r for r in routed3.collect()}
    assert rows3["logs"]["prefix"] == "test-"
    assert rows3["logs"]["route_key"] == "test-2017.03.14.04"
    assert rows3["logs"]["sink"] == "sink_logs"


def _jobs_submitted(spark, fn):
    """(result of fn(), number of Spark jobs fn submitted)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-probe-{uuid.uuid4().hex}"  # the tracker keeps old groups
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_route_plan_submits_no_jobs(spark):
    """Collecting the registry and building route()'s plan runs no Spark
    job, and the routed plan dispatches by literals: no join, no broadcast."""
    cfg = default_config()
    df = spark.range(8).select(
        F.when(F.col("id") % 3 == 0, "logs")
        .when(F.col("id") % 3 == 1, "nosuch")
        .alias("tag"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    )

    def build():
        routes = routes_df(spark, cfg)
        assert len(routes.collect()) == len(cfg.types)
        return route(df, routes)

    (routed, unhandled), jobs = _jobs_submitted(spark, build)
    assert jobs == 0
    for plan in (routed, unhandled):
        qe = plan._jdf.queryExecution()
        assert "Join" not in qe.optimizedPlan().toString()
        assert "BroadcastExchange" not in qe.executedPlan().toString()
    assert routed.count() == 8


def test_local_table_roundtrip_exact_without_jobs(spark):
    rows = [
        ("it's", True, 1),
        ("back\\slash", False, None),
        (None, None, -2),
        ("'); DROP --", True, 0),
    ]
    schema = "s string, b boolean, i int"
    out, jobs = _jobs_submitted(
        spark, lambda: local_table(spark, rows, schema).collect()
    )
    assert jobs == 0
    assert [tuple(r) for r in out] == rows
    assert local_table(spark, [], schema).collect() == []
    # values of the wrong type are rejected, not coerced into the table
    with pytest.raises(TypeError):
        local_table(spark, [(True, "x", 1)], schema)


def test_scan_packs_many_small_files_into_session_parallelism(spark, tmp_path):
    """Scan widths come from Spark's own file packing: P tiny files keep one
    scan partition each, and 3×P tiny files (a trickle micro-batch's shape)
    pack into at most P partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def scan_partitions(n_files: int) -> int:
        d = tmp_path / f"files{n_files}"
        d.mkdir()
        for i in range(n_files):
            pq.write_table(pa.table({"x": [i]}), str(d / f"part-{i:03d}.parquet"))
        return spark.read.parquet(str(d)).rdd.getNumPartitions()

    p = spark.sparkContext.defaultParallelism
    assert scan_partitions(p) == p
    assert scan_partitions(3 * p) <= p


# --- tail ---------------------------------------------------------------------------------


def test_tail_filter_sample(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)], "id long, k string"
    )
    out = tail(df, {"k": "a"})
    assert out.count() == 50
    sampled = tail(df, {"k": "a"}, sample_pct=10, seed=1)
    n = sampled.count()
    assert 0 < n < 30  # seeded sample in a sane band
    # deterministic given the seed
    assert sampled.count() == tail(df, {"k": "a"}, sample_pct=10, seed=1).count()


# --- alert template render -------------------------------------------------------------------


def test_render_template(spark):
    df = spark.createDataFrame([("world", 5)], "name string, n int")
    out = df.select(
        render_template("hello {name} x{n}{missing}!", df.columns).alias("r")
    ).collect()
    assert out[0]["r"] == "hello world x5!"


def test_example_config_end_to_end(spark, tmp_path):
    """The shipped example config (the reference's config.json shape:
    clusters / types / mappings / gc / alerts / actions) loads and drives a
    full pipeline run — a reference user can carry their config over."""
    import datetime
    import os as _os

    from punt_spark.pipeline import Pipeline

    path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "examples", "punt_config.json",
    )
    cfg = PipelineConfig.from_json(path)
    assert set(cfg.types) == {"*", "logs", "audit", "app-json"}
    assert cfg.actions["discord-alert"].color == 16738657
    assert cfg.mappings["test"].fields["content"]["type"] == "text"
    assert cfg.clusters["default"].num_workers == 32
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "<13>Mar 14 04:00:00 h1 logs:  magic word", "none",
             datetime.datetime(2017, 3, 14, 4, 0, 0)),
            ("c1", 1, "user", "<13>Mar 14 04:00:01 h1 nosuch: fallthrough", "none",
             datetime.datetime(2017, 3, 14, 4, 0, 1)),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    pipe = Pipeline(spark, cfg, out_dir=str(tmp_path / "ex_out"))
    pipe.run(df)
    assert pipe.sinks["sink_logs"].read(spark).count() == 1
    assert pipe.sinks["sink_catchall"].read(spark).count() == 1
    acts = pipe.actions_table.read(spark)
    assert acts is not None and acts.count() == 1
    row = acts.collect()[0]
    assert row["title"] == "FOUND MAGIC" and row["color"] == 16738657


def test_partition_spec_is_immutable(spark, tmp_path):
    """Mixing partition specs on one table breaks basePath partition
    discovery for every reader — rejected at commit time."""
    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "spec_tbl"))
    df = spark.createDataFrame(
        [("a", "r1", "d1")], "conv_id string, route_key string, ts_day string"
    )
    tbl.commit(df, "s1")  # (route_key, ts_day)
    tbl.commit(df, "s2")  # same spec: fine (idempotent re-commit too)
    with pytest.raises(ValueError, match="partition spec mismatch"):
        tbl.commit(df, "s3", partition_cols=[])
    # the spec is cached in ONE table-level file → O(1) per commit
    assert os.path.exists(tbl._spec_path)


def test_snapshot_compaction(spark, tmp_path):
    """compact_snapshots rewrites a snapshot's small files to one file per
    partition value, preserves every row and the snapshot id, and leaves
    idempotent re-commit semantics intact."""
    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "cmp_tbl"))
    rows = [
        (f"c{i}", i, f"r{i % 2}", f"d{i % 2}") for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, route_key string, ts_day string"
    )
    # many small files: repartition(8) → up to 8 files per partition value
    tbl.commit(df.repartition(8), "s1")
    before = tbl.snapshots()["s1"]
    assert before["n_files"] > 2
    res = tbl.compact_snapshots(spark)
    assert res["s1"]["files_after"] <= 2  # one per (route_key, ts_day)
    assert res["s1"]["files_after"] < res["s1"]["files_before"]
    after = tbl.snapshots()["s1"]
    assert after["lineage"]["n_rows"] == 40
    got = {
        (r["conv_id"], r["turn_idx"], r["route_key"], r["ts_day"])
        for r in tbl.read(spark).collect()
    }
    assert got == set(rows)  # row-for-row identical through compaction
    # old files gone, compaction is idempotent-skippable
    assert tbl.compact_snapshots(spark) == {}
    assert after["compacted_from"] == before["n_files"]
    # committed_at is PRESERVED: a time-travel read for a timestamp after
    # the original commit but before the compaction still sees the rows
    t_before_compact = before["committed_at"] + 1e-3
    assert after["committed_at"] == before["committed_at"]
    assert tbl.read(spark, as_of=t_before_compact).count() == 40
    # idempotent re-commit of the same snapshot id still overwrites cleanly
    # AND garbage-collects the compacted generation's files — the
    # glob-based tail_stream must never see strays the manifest dropped
    tbl.commit(df.limit(5), "s1")
    assert tbl.read(spark).count() == 5
    import glob as _glob

    on_disk = {
        os.path.relpath(f, tbl.root)
        for f in _glob.glob(
            os.path.join(tbl.data_dir, "**", "*.parquet"), recursive=True
        )
    }
    assert on_disk == set(tbl.snapshots()["s1"]["files"])
    # the commit and compaction knobs stay gone: lineage is always
    # recorded, and compaction picks its snapshots from the files alone
    import inspect

    for fn in (tbl.commit, tbl.commit_batch, tbl.compact_snapshots):
        assert not {"lineage", "footer_lineage", "min_files", "snapshot_ids"} & set(
            inspect.signature(fn).parameters
        ), fn.__name__


def test_compaction_crash_before_publish_loses_nothing(spark, tmp_path, monkeypatch):
    """A compaction that dies on its first manifest publish leaves every
    row readable as before; ``gc_orphan_files()`` sweeps the stranded
    ``batch=<sid>.c0`` generation, and a second compaction finishes with
    identical rows."""
    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "cmp_fault"))
    df = spark.createDataFrame(
        [(f"c{i}", i, f"r{i % 2}", f"d{i % 2}") for i in range(40)],
        "conv_id string, turn_idx int, route_key string, ts_day string",
    )
    for sid in ("s1", "s2"):
        tbl.commit(df.repartition(8), sid)

    def rows():
        return sorted(map(tuple, tbl.read(spark).select(*df.columns).collect()))

    want = rows()

    def crashing_publish(self, manifest):
        raise RuntimeError("simulated crash before the compaction's publish")

    with monkeypatch.context() as mp:
        mp.setattr(SnapshotTable, "_publish", crashing_publish)
        with pytest.raises(RuntimeError, match="simulated crash"):
            tbl.compact_snapshots(spark)
    assert rows() == want
    removed = tbl.gc_orphan_files()
    assert removed
    assert {r.split(os.sep)[1] for r in removed} == {"batch=s1.c0"}
    assert set(tbl.compact_snapshots(spark)) == {"s1", "s2"}
    assert rows() == want
    assert tbl.gc_orphan_files() == []


def test_retention_crash_after_first_manifest_rewrite(spark, tmp_path, monkeypatch):
    """keep-N retention that dies right after its first manifest rewrite:
    a rerun expires exactly the keep-N set, and ``lineage()`` accounts for
    exactly the rows ``read`` returns, per (route_key, ts_day)."""
    from collections import Counter

    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "ret_fault"))
    days = [f"2017.03.1{d}" for d in range(6)]
    for s in range(3):
        tbl.commit(
            spark.createDataFrame(
                [(f"c{s}-{i}", i, f"logs-{days[i % 6]}", days[i % 6]) for i in range(24)],
                "conv_id string, turn_idx int, route_key string, ts_day string",
            ),
            f"s{s}",
        )
    before = tbl.partitions("logs-")
    assert len(before) == 6
    orig = SnapshotTable._publish

    def publish_then_crash(self, manifest):
        orig(self, manifest)
        raise RuntimeError("simulated crash after the first manifest rewrite")

    with monkeypatch.context() as mp:
        mp.setattr(SnapshotTable, "_publish", publish_then_crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            tbl.expire_partitions("logs-", keep=2)
    assert tbl.expire_partitions("logs-", keep=2) == before[:-2]
    assert tbl.partitions("logs-") == before[-2:]

    df = tbl.read(spark)
    assert {r["route_key"] for r in df.select("route_key").collect()} == set(before[-2:])
    lin = tbl.lineage()
    assert sum(s["n_rows"] for s in lin.values()) == df.count() == 3 * 8
    lin_parts: Counter = Counter()
    for s in lin.values():
        lin_parts.update(s["partition_rows"])
    got_parts = {
        f"{r['route_key']}|{r['ts_day']}": r["count"]
        for r in df.groupBy("route_key", "ts_day").count().collect()
    }
    assert dict(lin_parts) == got_parts


def test_counter_options_and_observation_path_stay_gone():
    """Every msgs.* counter comes from the scan aggregate: the pipelines
    take no per-instance tag or chunk caps, and no code attaches
    ``observe()`` metrics. Starts no Spark."""
    import inspect
    from pathlib import Path

    from punt_spark.pipeline import Pipeline
    from punt_spark.streaming import StreamingPipeline

    for cls in (Pipeline, StreamingPipeline):
        params = set(inspect.signature(cls.__init__).parameters)
        assert not {"max_chunks_per_group", "max_dynamic_tags"} & params, cls
    pkg = Path(__file__).resolve().parent.parent / "punt_spark"
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        assert ".observe(" not in src, path
        assert "Observation" not in src, path


def test_gc_orphan_files(spark, tmp_path):
    """The sweep for the _publish crash window: unreferenced data files
    (visible to the glob-based tail reader) are removed; referenced ones
    and dot-prefixed staging stay."""
    import shutil as _shutil

    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "gc_tbl"))
    df = spark.createDataFrame(
        [("a", "r1", "d1")], "conv_id string, route_key string, ts_day string"
    )
    tbl.commit(df, "s1")
    a_file = os.path.join(tbl.root, tbl.snapshots()["s1"]["files"][0])
    # simulate a crash-stranded superseded generation + in-flight staging
    orphan = os.path.join(tbl.data_dir, "batch=s1.c9", "route_key=r1",
                          "ts_day=d1", "part-orphan.parquet")
    os.makedirs(os.path.dirname(orphan))
    _shutil.copy(a_file, orphan)
    staged = os.path.join(tbl.data_dir, ".tmp.batch=x", "part-0.parquet")
    os.makedirs(os.path.dirname(staged))
    _shutil.copy(a_file, staged)
    removed = tbl.gc_orphan_files()
    assert len(removed) == 1 and "part-orphan" in removed[0]
    assert not os.path.exists(orphan)
    assert os.path.exists(staged)  # staging never touched
    assert tbl.read(spark).count() == 1  # referenced data intact


def test_snapshot_time_travel_read(spark, tmp_path):
    """read(as_of=t) sees exactly the snapshots committed by t — Iceberg
    time travel in miniature."""
    import time as _time

    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "tt_tbl"))
    df1 = spark.createDataFrame([("a",)], "conv_id string")
    df2 = spark.createDataFrame([("b",)], "conv_id string")
    tbl.commit(df1, "s1", partition_cols=[])
    t_mid = _time.time()
    _time.sleep(0.05)
    tbl.commit(df2, "s2", partition_cols=[])
    assert tbl.read(spark).count() == 2
    old = tbl.read(spark, as_of=t_mid)
    assert [r["conv_id"] for r in old.collect()] == ["a"]
    assert tbl.read(spark, as_of=0.0) is None  # before any commit


def test_partition_spec_failed_first_commit_not_pinned(spark, tmp_path):
    """A first commit that pins the spec but FAILS before publishing any
    snapshot must not wedge the empty table: the next commit with a
    different (legitimate) spec adopts its own spec."""
    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "wedge_tbl"))
    df = spark.createDataFrame(
        [("a", "r1", "d1")], "conv_id string, route_key string, ts_day string"
    )
    # simulate: spec check ran for a commit that then crashed pre-publish
    tbl._check_partition_spec(["route_key"])
    assert not tbl.snapshots()
    tbl.commit(df, "s1")  # default (route_key, ts_day) spec — must succeed
    with open(tbl._spec_path) as f:
        assert json.load(f)["partition_cols"] == ["route_key", "ts_day"]
    # once a snapshot exists the spec really is immutable again
    with pytest.raises(ValueError, match="partition spec mismatch"):
        tbl.commit(df, "s2", partition_cols=[])


def test_partition_spec_legacy_migration(spark, tmp_path):
    """Tables written before _spec.json existed: the first commit scans ALL
    manifests (a mixed-spec table must fail here, not at read time) and
    then writes the spec file."""
    import json as _json

    from punt_spark.sink import SnapshotTable

    df = spark.createDataFrame(
        [("a", "r1", "d1")], "conv_id string, route_key string, ts_day string"
    )
    tbl = SnapshotTable(str(tmp_path / "legacy_tbl"))
    tbl.commit(df, "s1")
    os.remove(tbl._spec_path)  # simulate a pre-spec-file table
    tbl.commit(df, "s2")  # migration: scan manifests, rewrite spec file
    assert os.path.exists(tbl._spec_path)

    mixed = SnapshotTable(str(tmp_path / "mixed_tbl"))
    for sid, pc in (("s1", ["route_key"]), ("s2", ["route_key", "ts_day"])):
        with open(os.path.join(mixed.snap_dir, f"{sid}.json"), "w") as f:
            _json.dump(
                {"snapshot_id": sid, "partition_cols": pc, "files": []}, f
            )
    with pytest.raises(ValueError, match="MIXED partition specs"):
        mixed.commit(df, "s3")


def test_enforce_mapping(spark):
    """Declared-mapping enforcement (mapping.go:8-32): declared fields are
    cast to the declared type (try_cast: uncoercible → NULL, the row-level
    analog of an ES bulk rejection), missing declared fields materialize
    as typed NULLs, undeclared columns pass through."""
    from punt_spark.config import MappingConfig
    from punt_spark.sink import enforce_mapping

    df = spark.createDataFrame(
        [("12", "abc", "x")], "n string, bad string, extra string"
    )
    m = MappingConfig(
        name="m",
        fields={
            "n": {"type": "long"},
            "bad": {"type": "integer"},
            "missing_field": {"type": "double"},
        },
    )
    out = enforce_mapping(df, m)
    row = out.collect()[0]
    assert row["n"] == 12 and dict(out.dtypes)["n"] == "bigint"
    assert row["bad"] is None  # 'abc' does not coerce to integer
    assert row["missing_field"] is None
    assert dict(out.dtypes)["missing_field"] == "double"
    assert row["extra"] == "x"  # dynamic fields untouched
    assert enforce_mapping(df, None) is df  # no mapping → no-op


def test_multi_cluster_fanout(spark, tmp_path):
    """Several clusters share one Type registry but write to their own
    roots (config.go:14-21, state.go:27-29)."""
    import datetime

    import pytest
    from punt_spark.config import ClusterConfig
    from punt_spark.pipeline import Pipeline

    cfg = default_config()
    cfg.clusters = {
        "east": ClusterConfig(name="east", out_root=str(tmp_path / "east")),
        "west": ClusterConfig(
            name="west", out_root=str(tmp_path / "west"), num_workers=8
        ),
    }
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "<13>Mar 14 04:00:00 h1 logs: hello", "none",
             datetime.datetime(2017, 3, 14, 4, 0, 0)),
            ("c1", 1, "user", "<13>Mar 14 04:00:01 h1 audit: world", "grep",
             datetime.datetime(2017, 3, 14, 4, 0, 1)),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    counts = {}
    for name in ("east", "west"):
        p = Pipeline(spark, cfg, cluster=name, collect_metrics=False)
        p.run(df)
        counts[name] = {
            s: (t.read(spark).count() if t.read(spark) is not None else 0)
            for s, t in p.sinks.items()
        }
        assert p.out_dir == str(tmp_path / name)
    assert counts["east"] == counts["west"]
    assert counts["east"]["sink_logs"] == 1
    with pytest.raises(ValueError, match="unknown cluster"):
        Pipeline(spark, cfg, cluster="nope")


def test_action_embed_rendering(spark):
    """Pin the embed payload against action.go:105-122: 3 events in one
    2s window → title suffixed ' (2 similar events)' (N-1 rule), timestamp
    = RFC3339-Z of the FIRST event, fields from the first event, and a
    rollup_window=0 alert fires once per event un-suffixed."""
    import datetime

    from punt_spark.alerts import render_actions, rollup
    from punt_spark.config import ActionConfig, AlertConfig

    t0 = datetime.datetime(2017, 3, 14, 4, 0, 0)
    events = spark.createDataFrame(
        [
            ("a", t0, "T-first", "D-first", "h1"),
            ("a", t0 + datetime.timedelta(seconds=1), "T-2", "D-2", "h2"),
            ("a", t0 + datetime.timedelta(milliseconds=1500), "T-3", "D-3", "h3"),
        ],
        "alert_name string, ts timestamp, title string, description string,"
        " field_hostname string",
    )
    alert = AlertConfig(
        name="a", rollup_window_sec=2, title="ignored",
        description="ignored", fields={"hostname": "{hostname}"},
        action="disc",
    )
    actions = {"disc": ActionConfig(name="disc", url="http://x", color=16738657)}
    rolled = rollup(events, alert)
    out = render_actions(rolled, [alert], actions).collect()
    assert len(out) == 1
    r = out[0]
    assert r["title"] == "T-first (2 similar events)"  # N-1 = 2
    assert r["description"] == "D-first"
    assert r["color"] == 16738657 and r["url"] == "http://x"
    assert r["timestamp"] == "2017-03-14T04:00:00Z"  # RFC3339, first event
    assert r["fields_json"] == '[{"name":"hostname","value":"h1","inline":false}]'
    # rollup_window=0: one un-suffixed action per event (alert.go:60-63)
    alert0 = AlertConfig(
        name="a", rollup_window_sec=0, title="x", description="y",
        fields={"hostname": "{hostname}"}, action="disc",
    )
    out0 = render_actions(rollup(events, alert0), [alert0], actions).collect()
    assert len(out0) == 3
    assert all(not r["title"].endswith("similar events)") for r in out0)
    # alert with no wired action renders nothing (state.Actions lookup miss)
    assert render_actions(rolled, [AlertConfig(name="a")], actions) is None


def test_matched_events_missing_ts_is_noop(spark):
    from punt_spark.alerts import matched_events
    from punt_spark.config import AlertConfig

    alert = AlertConfig(
        name="a", match="x", source_field="content",
        title="t", description="d",
    )
    # unpack-take payload that kept the source field but dropped the
    # envelope ts: alert is a silent no-op, not an AnalysisException
    df = spark.createDataFrame([("x marks",)], "content string")
    assert matched_events(df, alert, "logs") is None
    # with ts present it matches normally
    import datetime

    df2 = spark.createDataFrame(
        [("x marks", datetime.datetime(2017, 1, 1))],
        "content string, ts timestamp",
    )
    out = matched_events(df2, alert, "logs")
    assert out is not None and out.count() == 1


def test_pipeline_catchall_only_config(spark, tmp_path):
    """A config with ONLY the '*' type: every counter comes from the
    dynamic-tag bucket (static_tags is empty — isin([]) edge)."""
    import datetime

    from punt_spark.config import PipelineConfig, TypeConfig
    from punt_spark.pipeline import Pipeline

    cfg = PipelineConfig(
        types={"*": TypeConfig(name="*", prefix="all-")}, alerts=[], gc=[]
    )
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "<13>Mar 14 04:00:00 h1 alpha: one", "none",
             datetime.datetime(2017, 3, 14, 4, 0, 0)),
            ("c1", 1, "user", "<13>Mar 14 04:00:01 h1 beta: two", "none",
             datetime.datetime(2017, 3, 14, 4, 0, 1)),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    pipe = Pipeline(spark, cfg, out_dir=str(tmp_path / "ca_out"))
    result = pipe.run(df)
    assert result["metrics"]["msgs.received"] == 2
    assert result["metrics"]["msgs.processed"] == 2
    by_tag = {}
    for r in pipe.metrics.rows:
        if r["metric"] == "msgs.received":
            by_tag[r["tag"]] = by_tag.get(r["tag"], 0) + r["value"]
    assert by_tag == {"alpha": 1, "beta": 1}
    assert pipe.sinks["sink_catchall"].read(spark).count() == 2


def test_pipeline_without_catchall_counts_like_oracle(spark, tmp_path):
    """Without a '*' type, a tag no type takes is received AND unhandled
    (cluster.go:249-262), next to the static tags' counters."""
    import datetime

    from punt_spark.config import PipelineConfig, TypeConfig
    from punt_spark.pipeline import Pipeline
    from punt_spark.reference_impl import run_reference
    from test_pipeline import _msgs_counters

    cfg = PipelineConfig(
        types={
            "logs": TypeConfig(name="logs", prefix="logs-"),
            "app-json": TypeConfig(
                name="app-json", prefix="app-", transformer="unpack-merge"
            ),
        },
        alerts=[],
        gc=[],
    )
    rows = [
        {
            "conv_id": "c1", "turn_idx": i, "role": "user",
            "text": f"<13>Mar 14 04:00:0{i} h1 {tag}: {content}",
            "tool": "none", "ts": datetime.datetime(2017, 3, 14, 4, 0, i),
        }
        for i, (tag, content) in enumerate(
            [("logs", "one"), ("webhook", "two"), ("webhook", "three"),
             ("app-json", "{bad"), ("app-json", '{"a": "1"}')]
        )
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    pipe = Pipeline(spark, cfg, out_dir=str(tmp_path / "nc_out"))
    pipe.run(df)
    got = _msgs_counters(pipe.metrics)
    assert got == dict(run_reference(rows, cfg)["counters"])
    assert got["msgs.unhandled|webhook"] == 2


def test_alert_rollup_tie_break_deterministic(spark):
    """Two matched events with IDENTICAL timestamps in one window: the
    rendered 'first event' must be the lexicographic min of the full
    rendered tuple — not an engine-arbitrary min_by pick (and never a mix
    of columns from different tied events)."""
    import datetime

    from punt_spark.alerts import matched_events, rollup
    from punt_spark.config import AlertConfig

    a = AlertConfig(
        name="tied", source_field="content", match="^m",
        rollup_window_sec=60, title="T {content}", description="D {host}",
        fields={"h": "{host}"},
    )
    ts = datetime.datetime(2017, 3, 14, 4, 0, 30)
    df = spark.createDataFrame(
        [("m bbb", "h2", ts), ("m aaa", "h1", ts), ("m ccc", "h3", ts)],
        "content string, host string, ts timestamp",
    )
    ev = matched_events(df, a, "logs")
    for _ in range(3):  # stable across repeated runs and partitionings
        row = rollup(ev.repartition(5), a).collect()[0]
        assert row["title"] == "T m aaa (2 similar events)"
        assert row["description"] == "D h1"  # same event, not a column mix
        assert row["field_h"] == "h1"
        assert row["n_events"] == 3


def test_compaction_preserves_numeric_looking_partition_values(spark, tmp_path):
    """Compaction must re-publish byte-identical partition directory names
    even in a session with partition-type inference ENABLED: a
    numeric-looking route_key (00123) read back as int would be rewritten
    as route_key=123, silently renaming the partition and breaking
    prefix-based retention matching."""
    import glob
    import os

    from punt_spark.sink import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "numpart_tbl"))
    df = spark.createDataFrame(
        [(f"c{i}", i, "00123", "0042") for i in range(12)],
        "conv_id string, turn_idx int, route_key string, ts_day string",
    )
    tbl.commit(df.repartition(6), "s1")
    inf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    saved = spark.conf.get(inf_key)
    spark.conf.set(inf_key, "true")  # hostile session config
    try:
        res = tbl.compact_snapshots(spark)
    finally:
        spark.conf.set(inf_key, saved)
    assert res["s1"]["files_after"] < res["s1"]["files_before"]
    dirs = {
        seg
        for f in glob.glob(
            os.path.join(tbl.data_dir, "**", "*.parquet"), recursive=True
        )
        for seg in f.split(os.sep)
        if seg.startswith("route_key=") or seg.startswith("ts_day=")
    }
    assert dirs == {"route_key=00123", "ts_day=0042"}
    rows = tbl.read(spark).select("route_key", "ts_day").distinct().collect()
    assert [(r["route_key"], r["ts_day"]) for r in rows] == [("00123", "0042")]


def test_unpack_map_payload_lands_as_map_column(spark):
    """A configured unpack type WITHOUT payload_schema (the documented
    map<string,string> default) must not crash on star expansion: the
    parsed object lands as one opaque `payload` map column."""
    from punt_spark.config import TypeConfig
    from punt_spark.transform import apply_transformer

    df = spark.createDataFrame(
        [("c1", 0, 13, '{"a": "1", "b": "x"}', "json")],
        "conv_id string, turn_idx int, priority int, content string, tag string",
    )
    t = TypeConfig(name="json", prefix="j-", transformer="unpack-merge",
                   payload_schema=None)
    out, failed = apply_transformer(df, t)
    row = out.collect()[0]
    assert failed.count() == 0
    assert row["payload"] == {"a": "1", "b": "x"}
    assert "content" not in out.columns
    t2 = TypeConfig(name="json", prefix="j-", transformer="unpack-take",
                    payload_schema=None)
    out2, _ = apply_transformer(df, t2)
    assert out2.collect()[0]["payload"] == {"a": "1", "b": "x"}
    assert "priority" not in out2.columns


def test_unpack_payload_cannot_shadow_meta_columns(spark):
    """A payload field named like an engine bookkeeping column (role,
    conv_id, ...) is dropped — meta wins, no AMBIGUOUS_REFERENCE duplicate
    columns; envelope names stay overridable by design."""
    from punt_spark.config import TypeConfig
    from punt_spark.transform import apply_transformer

    df = spark.createDataFrame(
        [("c1", 0, "user", 13, '{"role": "EVIL", "level": "info"}')],
        "conv_id string, turn_idx int, role string, priority int, content string",
    )
    t = TypeConfig(
        name="json", prefix="j-", transformer="unpack-merge",
        payload_schema="role string, level string",
    )
    out, _ = apply_transformer(df, t)
    assert out.columns.count("role") == 1
    row = out.collect()[0]
    assert row["role"] == "user"       # meta wins
    assert row["level"] == "info"      # non-colliding payload field kept


def test_parse_out_of_int32_priority_and_pid_tag_not_crash(spark):
    """An out-of-int32 priority or pid must tag the row invalid — not kill
    the task at Arrow conversion."""
    from punt_spark.parse import with_parsed

    rows = [
        ("c1", 0, "<99999999999>Mar 14 04:20:19 host tag: x"),
        ("c2", 0, "<13>Mar 14 04:20:19 host tag[99999999999]: y"),
        ("c3", 0, "<13>Mar 14 04:20:19 host tag: fine"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    udf_rows = {
        r["conv_id"]: (r["parse_ok"], r["parsed"]["error"])
        for r in with_parsed(df, "text", 2017).select(
            "conv_id", "parse_ok", "parsed"
        ).collect()
    }
    assert udf_rows["c1"] == (False, "Invalid Priority")
    assert udf_rows["c2"] == (False, "Invalid PID")
    assert udf_rows["c3"][0] is True


def test_lookup_duplicate_dim_keys_do_not_multiply_rows(spark):
    """A dimension table with duplicate keys must not fan out fact rows
    through the broadcast join: deterministic dedup keeps the least
    contract tuple per key."""
    from punt_spark.enrich import apply_lookup

    df = spark.createDataFrame(
        [("c1", "grep"), ("c2", "bash")], "conv_id string, tool string"
    )
    dim = spark.createDataFrame(
        [
            ("grep", "catB", 2, [1.0, 2.0]),
            ("grep", "catA", 1, [0.0, 0.0]),  # duplicate key
            ("bash", "catC", 3, [3.0, 4.0]),
        ],
        "tool string, category string, risk_code int, coords array<double>",
    )
    out = apply_lookup(df, {"on": "tool"}, {"tool": dim})
    assert out.count() == 2  # no row multiplication
    got = {r["conv_id"]: r["tool_category"] for r in out.collect()}
    assert got["c1"] == "catA"  # deterministic least tuple
    assert got["c2"] == "catC"


def test_route_empty_registry_all_unhandled(spark):
    """An empty route registry routes nothing and marks everything
    unhandled — not an IndexError at plan build."""
    from punt_spark.route import route

    df = spark.createDataFrame(
        [("c1", 0, "sometag", "x")],
        "conv_id string, turn_idx int, tag string, content string",
    ).withColumn("ts", F.to_timestamp(F.lit("2017-03-14 04:00:00")))
    routes = spark.createDataFrame(
        [], "tag string, sink string, prefix string, date_format string, "
            "transformer string, mapping_type string",
    )
    routed, unhandled = route(df, routes)
    assert routed.count() == 0
    assert unhandled.count() == 1


def test_perfbench_tracer_install_roundtrip(spark, tmp_path):
    """The benchmark's traced run wraps pipeline layers by module attribute
    name (perfbench/trace.py): a refactor that moves one of those names
    must fail here, not as an AttributeError deep in a traced run."""
    import punt_spark.pipeline as pipeline
    import punt_spark.streaming as streaming
    from perfbench.trace import Tracer
    from punt_spark.sink import SnapshotTable

    before = (pipeline.with_parsed, streaming.route)
    tracer = Tracer("t")
    tracer.install()
    try:
        assert pipeline.with_parsed is not before[0]
        # one commit call = one commit span: a public commit entry point
        # calling the other would double sink.commits/files_written
        tbl = SnapshotTable(str(tmp_path / "tbl"))
        tbl2 = SnapshotTable(str(tmp_path / "tbl2"))
        df = spark.createDataFrame(
            [("a", "r1", "d1", "c1")],
            "conv_id string, route_key string, ts_day string, chunk string",
        )
        tracer.enabled = True
        for name, commit in (
            ("SnapshotTable.commit", lambda: tbl.commit(df.drop("chunk"), "s1")),
            ("SnapshotTable.commit_batch", lambda: tbl2.commit_batch(df, "b1", ["c1"])),
        ):
            n = len(tracer.spans)
            commit()
            spans = [s["name"] for s in tracer.spans[n:]]
            assert [s for s in spans if s.startswith("SnapshotTable.commit")] == [name]
    finally:
        tracer.uninstall()
    assert (pipeline.with_parsed, streaming.route) == before


def test_every_module_is_reachable_from_an_entry_point():
    """No dead modules: an ast walk of the imports from every entry point
    (CLI, driver contract, bench, perfbench, scripts, examples) reaches
    every ``punt_spark`` module. No dead top-level functions either: each
    is named somewhere in that program (a call, an import or a docstring)
    besides its own definition, so a function only tests call fails here.
    Starts no Spark."""
    import ast
    import re
    from collections import Counter
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    mods = {
        ".".join(p.relative_to(root).with_suffix("").parts).removesuffix(".__init__"): p
        for p in (root / "punt_spark").rglob("*.py")
    }
    todo = [root / "punt_spark" / "cli.py", root / "__spark_entry__.py", root / "bench.py"]
    todo += [p for d in ("perfbench", "scripts", "examples") for p in (root / d).glob("*.py")]
    seen = set()
    while todo:
        path = todo.pop()
        seen.add(path)
        pkg = path.relative_to(root).parts[:-1]  # the package relative imports start at
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = ".".join(pkg[: len(pkg) - node.level + 1]) if node.level else ""
                base = ".".join(filter(None, [base, node.module]))
                names = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            for name in names:  # a module and every package above it
                parts = name.split(".")
                for i in range(1, len(parts) + 1):
                    hit = mods.get(".".join(parts[:i]))
                    if hit is not None and hit not in seen:
                        todo.append(hit)
    assert sorted(m for m, p in mods.items() if p not in seen) == []

    words = Counter(w for path in seen for w in re.findall(r"\w+", path.read_text()))
    defs = [
        (m, node.name)
        for m, p in mods.items()
        for node in ast.parse(p.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    n_defs = Counter(name for _, name in defs)
    assert sorted(f"{m}.{name}" for m, name in defs if words[name] <= n_defs[name]) == []
