"""Replicates the driver's correctness gate locally: run every
__spark_entry__.queries() entry and its oracle_sql() through DuckDB on the
same parquet, compare row count + schema + order-insensitive values."""

import os
import struct
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _float_bits(v) -> str | None:
    # BITWISE float identity — the driver's value hash is byte-level, so
    # -0.0 vs 0.0 and last-ulp divergence must FAIL here too (r6 shipped
    # semantic_dedup locally green on a round-6dp pandas compare while the
    # driver's hash caught a signed zero). NaN/NULL both land as None: the
    # engines surface SQL NULL as NaN through pandas, indistinguishably.
    return None if pd.isna(v) else struct.pack("<d", float(v)).hex()


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].map(_float_bits)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    cols = sorted(out.columns)
    return out[cols].sort_values(cols).reset_index(drop=True)


def test_norm_rejects_signed_zero():
    # the planted regression: a -0.0 must not compare equal to 0.0
    a = _norm(pd.DataFrame({"x": [0.0]}))
    b = _norm(pd.DataFrame({"x": [-0.0]}))
    assert a["x"][0] != b["x"][0]


QUERY_NAMES = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


def test_small_input_scope_interleaved_threads_restore_conf(tmp_path):
    """Two scoped queries on one session from two threads — A enters, B
    enters, A exits, B exits — leave the session conf as it was. Without
    serialization B saves A's scoped values and restores them last,
    leaving AQE off and the shuffle width pinned. A stand-in session conf
    takes the swaps, so no Spark starts."""
    import threading
    from types import SimpleNamespace

    # A's input scopes to width 16 (a sparse 128 MiB file), B's to 8: B
    # engages inside A's scope rather than reading A's width as the
    # session default and no-opping
    with open(tmp_path / "big.parquet", "wb") as f:
        f.truncate(16 * entrymod._SCOPE_BYTES_PER_PART)
    (tmp_path / "small.parquet").write_bytes(b"x")
    original = {
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.adaptive.enabled": "true",
    }
    conf = dict(original)
    spark = SimpleNamespace(
        conf=SimpleNamespace(get=conf.__getitem__, set=conf.__setitem__)
    )
    a_in, a_exit, a_done, b_trying, b_in = (threading.Event() for _ in range(5))
    seen, errors = {}, []

    def scope(name, table, entered, hold, after=None):
        try:
            with entrymod._small_input_scope(spark, str(tmp_path), table) as w:
                seen[name] = (w, dict(conf))
                entered.set()
                assert hold.wait(timeout=60)
        except BaseException as e:  # surfaced by the asserts below
            errors.append(e)
        finally:
            if after is not None:
                after.set()

    def b_body():
        b_trying.set()
        scope("B", "small", b_in, a_done)

    a = threading.Thread(target=scope, args=("A", "big", a_in, a_exit, a_done))
    b = threading.Thread(target=b_body)
    a.start()
    assert a_in.wait(timeout=60)
    b.start()
    assert b_trying.wait(timeout=60)
    # B enters now unless scopes serialize; either way A exits next
    b_in.wait(timeout=1)
    a_exit.set()
    a.join(timeout=60)
    b.join(timeout=60)
    assert not a.is_alive() and not b.is_alive()
    assert not errors, errors

    def scoped(width):
        return {
            "spark.sql.shuffle.partitions": str(width),
            "spark.sql.adaptive.enabled": "false",
        }

    assert seen == {"A": (16, scoped(16)), "B": (8, scoped(8))}
    assert conf == original
    assert entrymod._scope_width_stack == [None]


def test_oracle_covers_queries():
    # every query has an oracle (simhash gained one in round 2 via the
    # 16-bit md5-nibble formulation)
    assert ROWS_ONLY == []
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() > 0


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    got = _norm(q(spark, SF_DIR).toPandas())
    want = _norm(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: schema"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    # The driver's value hash is TYPE-sensitive (int 123 vs float 123.0 hash
    # differently, e.g. DuckDB HUGEINT sums landing as float64). Assert dtype
    # kinds match post-normalization so local runs catch exactly that.
    got_kinds = {c: got[c].dtype.kind for c in got.columns}
    want_kinds = {c: want[c].dtype.kind for c in want.columns}
    assert got_kinds == want_kinds, (
        f"{name}: dtype-kind mismatch {got_kinds} vs {want_kinds} — "
        "cast the oracle aggregate (HUGEINT→float64?) or the Spark column"
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.columns) > 0
