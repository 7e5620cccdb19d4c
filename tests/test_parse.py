"""Parse-stage goldens — every literal line from the reference's unit tests
(lib/syslog/parser_test.go, buffer_test.go) must round-trip exactly through
the Arrow-UDF parse."""

import ast
import datetime
import inspect

import pyarrow as pa
import pytest

from punt_spark.fixtures import GOLDEN_AUDIT, GOLDEN_MULTILINE, GOLDEN_SIMPLE
from punt_spark.parse import parse_rfc3164_batch, with_parsed

YEAR = 2017


def _parse_one(spark, line, parse):
    df = spark.createDataFrame([(line,)], "text string")
    return parse(df, "text", YEAR).select("parsed.*").collect()[0]


# One parse path, the Arrow UDF; the id predates it and is kept so the
# goldens' test names stay stable.
@pytest.mark.parametrize("parse", [with_parsed], ids=["pandas_udf"])
class TestGoldens:
    def test_simple(self, spark, parse):
        # parser_test.go:9-17
        r = _parse_one(spark, GOLDEN_SIMPLE, parse)
        assert r.priority == 190
        assert r.hostname == "test-hostname-with-stuff-1-32"
        assert r.tag == "my-application"
        assert r.pid == 0
        assert r.content == "this is a test oh boy!"
        assert r.ts == datetime.datetime(YEAR, 2, 22, 4, 23, 32)
        assert r.error is None

    def test_multiline(self, spark, parse):
        # parser_test.go:19-25 — multi-line content preserved
        r = _parse_one(spark, GOLDEN_MULTILINE, parse)
        assert r.priority == 34
        assert r.hostname == "mymachine"
        assert r.tag == "su"
        assert r.content == "'su root' failed for lonvick\non /dev/pts/8"
        assert r.error is None

    def test_audit(self, spark, parse):
        # buffer_test.go:50-59 payload
        r = _parse_one(spark, GOLDEN_AUDIT, parse)
        assert r.priority == 133
        assert r.hostname == "example-host-prod-1-1"
        assert r.tag == "audit"
        assert r.content == "type=SYSCALL msg=audit(1489465219.995:1699): test"

    def test_pid_extraction(self, spark, parse):
        r = _parse_one(spark, "<13>Jan 02 03:04:05 host mytag[4242]: hello", parse)
        assert r.tag == "mytag"
        assert r.pid == 4242
        assert r.content == "hello"

    def test_space_padded_day(self, spark, parse):
        # second reference layout "Jan  2 15:04:05" (parser.go:20)
        r = _parse_one(spark, "<13>Jan  2 03:04:05 host t: x", parse)
        assert r.ts == datetime.datetime(YEAR, 1, 2, 3, 4, 5)

    def test_invalid_message(self, spark, parse):
        r = _parse_one(spark, "not a syslog line at all", parse)
        assert r.error == "Invalid Message"
        assert r.priority is None

    def test_invalid_timestamp(self, spark, parse):
        # "Xyz" matches the regex month shape [A-Z][a-z][a-z]; the failure
        # surfaces at time parse, as in Go (parser.go:69-88)
        r = _parse_one(spark, "<13>Xyz 99 99:99:99 host t: x", parse)
        assert r.error == "Invalid Timestamp"


def test_bad_calendar_date_is_invalid_timestamp(spark):
    # regex matches (digits fine) but Feb 30 is not a date, nor is second 60
    # or 61 → timestamp error, mirroring Go time.Parse "day out of range" /
    # "second out of range" (parser.go:69-88); C strptime would roll each
    # over (Mar 2, 04:21:00, 04:21:01, 2018-01-01)
    lines = [
        "<13>Feb 30 01:02:03 host t: x",
        "<13>Mar 14 04:20:60 h tag: x",
        "<13>Mar 14 04:20:61 h tag: x",
        "<13>Dec 31 23:59:60 h tag: x",
    ]
    df = spark.createDataFrame([(line,) for line in lines], "text string")
    rows = with_parsed(df, "text", YEAR).select("text", "parsed.*").collect()
    assert {r.text: r.error for r in rows} == dict.fromkeys(lines, "Invalid Timestamp")


def _edge_corpus():
    """Inputs where a regex engine, a calendar or an int32 can disagree."""
    edges = ["", None, "<13>", "no match at all", "<999>Mar 14 04:00:00 h tag: x"]
    for m in ["Jan", "Feb", "Mar", "Apr", "Jun", "Dec", "Xxx"]:
        for d in [0, 1, 9, 28, 29, 30, 31, 32]:
            edges.append(f"<13>{m} {d} 04:20:19 h tag: x")
    for t in ["23:59:59", "24:00:00", "04:20:60", "04:20:61", "04:60:19", "00:00:00"]:
        edges.append(f"<13>Mar 14 {t} h tag: x")
    edges += [
        "<13>Dec 31 23:59:60 h tag: x",
        # \w and \s are ASCII-only under RE2 (Go's and pyarrow's regexp);
        # RE2's \s also excludes \v
        "<13>Mar 14 04:20:19 hést tag: x",
        "<13>Mar 14 04:20:19\u00a0h tag: x",
        "<13>Mar 14 04:20:19\u3000h tag: x",
        "<13>Mar 14 04:20:19\vh tag: x",
        # out of int32 → invalid; leading zeros don't count
        "<2147483647>Mar 14 04:20:19 h tag[2147483647]: x",
        "<2147483648>Mar 14 04:20:19 h tag: x",
        "<99999999999>Mar 14 04:20:19 h tag: x",
        "<00000000001>Mar 14 04:20:19 h tag[000000000042]: x",
        "<13>Mar 14 04:20:19 h tag[2147483648]: x",
    ]
    return edges


def test_batch_matches_pandas_oracle(transcripts):
    """Pin the Arrow batch parse (the UDF body) row for row against the
    independent row-at-a-time oracle parser, over the fixture corpus plus
    the edge corpus."""
    from punt_spark.reference_impl import parse_line

    texts = [r.text for r in transcripts.select("text").collect()] + _edge_corpus()
    got = parse_rfc3164_batch(pa.array(texts, pa.string()), YEAR).to_pylist()
    for text, row in zip(texts, got, strict=True):
        env, err = parse_line(text, YEAR)
        if err is not None:
            assert row["error"] == err, text
        else:
            assert row == {**env, "error": None}, text


def test_parse_module_is_one_arrow_path():
    """One parse implementation: no pandas/numpy in parse.py, no fallback
    switch or second compiled pattern, and the UDF is an Arrow UDF.
    Starts no Spark."""
    from pyspark.util import PythonEvalType

    import punt_spark.parse as P

    imported = set()
    for node in ast.walk(ast.parse(inspect.getsource(P))):
        if isinstance(node, ast.Import):
            imported |= {a.name.split(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.add(node.module.split(".")[0])
    assert not imported & {"pandas", "numpy"}
    assert not hasattr(P, "_ARROW_RE") and not hasattr(P, "RFC3164_PATTERN")
    assert P.make_parse_udf(YEAR).evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF
