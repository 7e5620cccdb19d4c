"""Parse-stage goldens — every literal line from the reference's unit tests
(lib/syslog/parser_test.go, buffer_test.go) must round-trip exactly through
the pandas-UDF parse."""

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from punt_spark.fixtures import GOLDEN_AUDIT, GOLDEN_MULTILINE, GOLDEN_SIMPLE
from punt_spark.parse import parse_rfc3164_batch, split_errors, with_parsed

YEAR = 2017


def _parse_one(spark, line, parse):
    df = spark.createDataFrame([(line,)], "text string")
    return parse(df, "text", YEAR).select("parsed.*").collect()[0]


# One parse path; the id keeps the goldens' test names stable.
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
    # regex matches (digits fine) but Feb 30 is not a date → timestamp error,
    # mirroring Go time.Parse "day out of range" (parser.go:69-88)
    df = spark.createDataFrame([("<13>Feb 30 01:02:03 host t: x",)], "text string")
    r = with_parsed(df, "text", YEAR).select("parsed.*").collect()[0]
    assert r.error == "Invalid Timestamp"


def test_split_errors_partition(spark, transcripts):
    """Parse is total: every row lands in exactly one of good/errors."""
    parsed = with_parsed(transcripts, "text", YEAR)
    good, errors = split_errors(parsed)
    n = transcripts.count()
    assert good.count() + errors.count() == n
    assert errors.filter(F.col("error").isNull()).count() == 0


def test_batch_matches_pandas_oracle(transcripts):
    """The Spark UDF body and the pure-pandas batch function are one code
    path; pin the batch function against the row-at-a-time oracle parser."""
    from punt_spark.reference_impl import parse_line

    pdf = transcripts.toPandas()
    got = parse_rfc3164_batch(pdf["text"], YEAR)
    for i in range(len(pdf)):
        env, err = parse_line(pdf["text"].iloc[i], YEAR)
        row = got.iloc[i]
        if err is not None:
            assert row["error"] == err, pdf["text"].iloc[i]
        else:
            assert row["error"] is None or pd.isna(row["error"])
            assert row["priority"] == env["priority"]
            assert row["hostname"] == env["hostname"]
            assert row["tag"] == env["tag"]
            assert row["pid"] == env["pid"]
            assert row["content"] == env["content"]
            assert row["ts"].to_pydatetime() == env["ts"]


def test_arrow_extract_matches_python():
    """The pyarrow RE2 extraction path and the pandas Python-re fallback
    must agree exactly (modulo the documented ''-vs-NaN convention for the
    unparticipating optional pid group) over the full fixture corpus."""
    import punt_spark.parse as P
    from punt_spark.fixtures import make_transcripts

    assert P._ARROW_RE  # the container ships pyarrow
    texts = make_transcripts(20_000, seed=11)["text"]
    # exercise edge inputs too
    texts = pd.concat(
        [texts, pd.Series(["", None, "<13>", "no match at all",
                           "<999>Mar 14 04:00:00 h tag: x",
                           # non-ASCII: \w/\s are ASCII-only under RE2 (the
                           # Go reference's semantics); the Python fallback
                           # is compiled with re.ASCII to pin the same —
                           # both must REJECT these
                           "<13>Mar 14 04:20:19 hést tag: x",
                           "<13>Mar 14 04:20:19 h tag: x",
                           "<13>Mar 14 04:20:19 h tag: x"],
                          dtype=object)],
        ignore_index=True,
    )
    fast_ext, fast_m = P._extract_groups(texts)
    # the three non-ASCII probes are rejected by BOTH paths
    assert not fast_m.iloc[-3:].any()
    ext = texts.str.extract(P.RFC3164_PATTERN)
    ext.columns = P._GROUPS
    slow_m = ext["pri"].notna()
    assert (fast_m.to_numpy() == slow_m.to_numpy()).all()
    for c in P._GROUPS:
        a = fast_ext[c].fillna("")
        b = ext[c].fillna("")
        assert (a.to_numpy() == b.to_numpy()).all(), c
    # and the full batch parser output is identical through either path
    # calendar-edge corpus: every month x day combo + weird times — the C
    # strptime fast path must reject exactly what Go time.Parse rejects
    # (rollover dates like Feb 30), matching the pandas path bit-for-bit
    edges = []
    for m in ["Jan", "Feb", "Mar", "Apr", "Jun", "Dec", "Xxx"]:
        for d in [0, 1, 9, 28, 29, 30, 31, 32]:
            edges.append(f"<13>{m} {d} 04:20:19 h tag: x")
    for t in ["23:59:59", "24:00:00", "04:20:60", "04:60:19", "00:00:00"]:
        edges.append(f"<13>Mar 14 {t} h tag: x")
    texts = pd.concat([texts, pd.Series(edges, dtype=object)], ignore_index=True)
    fast = P.parse_rfc3164_batch(texts, 2017)
    P._ARROW_RE = False
    try:
        slow = P.parse_rfc3164_batch(texts, 2017)
    finally:
        P._ARROW_RE = True
    pd.testing.assert_frame_equal(fast, slow)
