"""Framing integrated into the pipeline (reference: per-server framing —
newline TCP default, RFC6587 octet_counted option, config.json:17-25)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from punt_spark.config import default_config
from punt_spark.pipeline import Pipeline
from punt_spark.sink import sink_ddl

LINE1 = "<13>Mar 14 04:00:00 h1 logs: first record"
LINE2 = "<14>Mar 14 04:00:01 h1 logs: second record"


def ddl_for_session_catalog(ddl: str, location: str | None = None) -> str:
    """Render an emitted Iceberg CREATE TABLE for execution against a
    plain Spark session catalog (no Iceberg jars needed): ``USING parquet``
    with an optional LOCATION. Everything else — column list,
    partitioning, table properties — executes verbatim, so running these
    statements proves the emitted DDL is syntactically LIVE and binds the
    declared schema, the closest local analog of the reference's startup
    template push (type.go:63-97)."""
    out = ddl.replace(") USING iceberg\n", ") USING parquet\n")
    if location:
        out += f"\nLOCATION '{location}'"
    return out


def _table(spark, text_rows):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * len(text_rows),
            "turn_idx": range(len(text_rows)),
            "role": ["user"] * len(text_rows),
            "text": text_rows,
            "tool": ["none"] * len(text_rows),
            "ts": pd.to_datetime(["2017-03-14 04:00:00"] * len(text_rows)).astype(
                "datetime64[us]"
            ),
        }
    )
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize(
    "mode,blob,expect_records",
    [
        ("newline", f"{LINE1}\n{LINE2}\n", 2),
        ("octet", f"{len(LINE1)} {LINE1}{len(LINE2)} {LINE2}", 2),
    ],
)
def test_pipeline_framing(spark, tmp_path, mode, blob, expect_records):
    cfg = default_config()
    pipe = Pipeline(
        spark, cfg, out_dir=str(tmp_path / mode), frame_mode=mode,
        collect_metrics=False,
    )
    pipe.run(_table(spark, [blob]))
    out = pipe.sinks["sink_logs"].read(spark)
    rows = sorted(
        out.select("record_idx", "content").collect(),
        key=lambda r: r["record_idx"],
    )
    assert len(rows) == expect_records
    assert rows[0]["content"] == "first record"
    assert rows[1]["content"] == "second record"


def test_frame_mode_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown frame_mode"):
        Pipeline(spark, out_dir=str(tmp_path), frame_mode="bogus")


def test_sink_ddl(spark, tmp_path):
    cfg = default_config()
    ddl = sink_ddl(cfg)
    assert set(ddl) == {
        "sink_catchall", "sink_logs", "sink_audit",
        "sink_app-json", "sink_metrics-json",
    }
    assert "PARTITIONED BY (route_key, ts_day)" in ddl["sink_logs"]
    assert "USING iceberg" in ddl["sink_logs"]
    # per-type schemas: mutator outputs, merge drops content, take drops envelope
    assert "tool_category string" in ddl["sink_audit"]
    assert "content string" not in ddl["sink_app-json"]
    assert "epoch_ts string" in ddl["sink_app-json"]
    assert "hostname" not in ddl["sink_metrics-json"]
    # R8 round-trip: DDL column set == the schema of the parquet each sink
    # actually wrote, EXACTLY, for all 5 default types (reference
    # type.go:63-97 pushes the template at startup and ES enforces it)
    from punt_spark.fixtures import lookup_role_pdf, lookup_tool_pdf, make_transcripts

    pdf = make_transcripts(800, seed=3)
    lookups = {
        "tool": spark.createDataFrame(lookup_tool_pdf()),
        "role": spark.createDataFrame(lookup_role_pdf()),
    }
    pipe = Pipeline(
        spark, cfg, out_dir=str(tmp_path / "ddlcheck"),
        lookups=lookups, collect_metrics=False,
    )
    pipe.run(spark.createDataFrame(pdf))
    import re

    for sink_name, stmt in ddl.items():
        df = pipe.sinks[sink_name].read(spark)
        assert df is not None, f"{sink_name} wrote nothing"
        col_block = stmt.split("(", 1)[1].split("\n) USING")[0]
        ddl_cols = set(re.findall(r"^\s*`?([\w@-]+)`?\s+\w+", col_block, re.M))
        assert ddl_cols == set(df.columns), (
            sink_name, ddl_cols ^ set(df.columns)
        )
        # the same DDL is emitted to <out>/_ddl/<sink>.sql at init — a real
        # deployment applies these files verbatim against its catalog
        ddl_file = os.path.join(pipe.out_dir, "_ddl", f"{sink_name}.sql")
        with open(ddl_file) as f:
            assert f.read().strip() == stmt.strip(), ddl_file


def test_sink_ddl_payload_shadowing_engine_columns(spark, tmp_path):
    """A payload_schema declaring engine/routing names (route_key, sink,
    chunk) must emit VALID DDL that matches the written schema: the
    transformer drops payload fields colliding with any engine column —
    not just the parse meta — so the DDL filter has to use the same full
    set. Before the fix, `route_key string` in a payload emitted a CREATE
    TABLE listing route_key twice and `sink string` listed a column that
    is never written."""
    import re

    from punt_spark.fixtures import lookup_role_pdf, lookup_tool_pdf, make_transcripts

    cfg = default_config()
    cfg.types["app-json"].payload_schema = (
        "level string, user string, epoch string, "
        "route_key string, sink string, chunk string"
    )
    ddl = sink_ddl(cfg)
    stmt = ddl["sink_app-json"]
    col_block = stmt.split("(", 1)[1].split("\n) USING")[0]
    names = re.findall(r"^\s*`?([\w@-]+)`?\s+\w+", col_block, re.M)
    assert names.count("route_key") == 1
    assert "sink" not in names and "chunk" not in names
    assert len(names) == len(set(names)), "duplicate columns in DDL"

    lookups = {
        "tool": spark.createDataFrame(lookup_tool_pdf()),
        "role": spark.createDataFrame(lookup_role_pdf()),
    }
    pipe = Pipeline(
        spark, cfg, out_dir=str(tmp_path / "shadow_ddl"),
        lookups=lookups, collect_metrics=False,
    )
    pipe.run(spark.createDataFrame(make_transcripts(400, seed=7)))
    written = pipe.sinks["sink_app-json"].read(spark)
    assert set(names) == set(written.columns), (
        set(names) ^ set(written.columns)
    )


def test_sink_ddl_executes_against_session_catalog(spark, tmp_path):
    """R8 live check: the emitted DDL (rendered USING parquet) EXECUTES
    against the session catalog and binds exactly the columns and types
    each sink writes — not just string equality. Creates all 5 tables
    from the emitted files, compares the catalog schema to the written
    parquet schema, drops them."""
    import re

    from punt_spark.fixtures import lookup_role_pdf, lookup_tool_pdf, make_transcripts

    cfg = default_config()
    lookups = {
        "tool": spark.createDataFrame(lookup_tool_pdf()),
        "role": spark.createDataFrame(lookup_role_pdf()),
    }
    pipe = Pipeline(
        spark, cfg, out_dir=str(tmp_path / "live_ddl"),
        lookups=lookups, collect_metrics=False,
    )
    pipe.run(spark.createDataFrame(make_transcripts(400, seed=5)))
    spark.sql("CREATE DATABASE IF NOT EXISTS ddl_check")
    try:
        for sink_name, stmt in sink_ddl(cfg).items():
            ddl_file = os.path.join(pipe.out_dir, "_ddl", f"{sink_name}.sql")
            with open(ddl_file) as f:
                emitted = f.read()
            # the session catalog (unlike Iceberg) forbids '-' in table
            # names — sanitizing the NAME only; columns, partitioning and
            # properties execute verbatim, which is what's under test
            safe = sink_name.replace("-", "_")
            live = ddl_for_session_catalog(
                emitted, location=str(tmp_path / "cat" / safe)
            ).replace(
                f"IF NOT EXISTS `{sink_name}`",
                f"IF NOT EXISTS ddl_check.`{safe}`",
            )
            spark.sql(live)  # must parse AND bind
            cat = spark.table(f"ddl_check.`{safe}`")
            written = pipe.sinks[sink_name].read(spark)
            got = {f.name: f.dataType.simpleString() for f in cat.schema.fields}
            want = {
                f.name: f.dataType.simpleString() for f in written.schema.fields
            }
            assert got == want, (sink_name, set(got.items()) ^ set(want.items()))
    finally:
        spark.sql("DROP DATABASE IF EXISTS ddl_check CASCADE")
