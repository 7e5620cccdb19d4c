"""Correctness gate, run outside the timed window.

Pipeline workloads are compared with ``reference_impl.run_reference`` (the
row-at-a-time Python re-statement of Punt's main path) on the same seeded
turns: per-sink row counts, ``msgs.*`` counters and parse errors, plus
routed-row equality on a fixed sample of conversations. ``curate`` is
compared with the DuckDB statement ``__spark_entry__.oracle_sql()``
replays. Oracle results are cached beside the seeded inputs.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd

from punt_spark.config import default_config
from punt_spark.reference_impl import run_reference

from . import inputs

SAMPLE_CONVS = 16


def reference(rows: pd.DataFrame, cache_path: str) -> dict:
    """Oracle summary: counters, per-sink counts, parse-error count and the
    sample conversations' rows per sink."""

    def compute():
        records = rows.assign(ts=rows["ts"].astype("datetime64[us]")).to_dict(
            "records"
        )
        ref = run_reference(records, default_config(), inputs.reference_lookups())
        sample = sample_convs(rows)
        return {
            "counters": {
                k: v
                for k, v in ref["counters"].items()
                if not k.startswith("msgs.inserted")
            },
            "sink_rows": {s: len(v) for s, v in ref["sinks"].items()},
            "parse_errors": len(ref["errors"]),
            "sample": sample,
            "sample_rows": {
                s: [r for r in v if r["conv_id"] in set(sample)]
                for s, v in ref["sinks"].items()
            },
        }

    return inputs.cached(cache_path, compute)


def sample_convs(rows: pd.DataFrame) -> list[str]:
    """A fixed, seed-derived sample: evenly spaced ranks of the sorted
    conversation ids (the Zipf-hot conversation sits at the low ranks)."""
    convs = np.sort(rows["conv_id"].unique())
    idx = np.linspace(0, len(convs) - 1, min(SAMPLE_CONVS, len(convs))).astype(int)
    return [str(c) for c in convs[np.unique(idx)]]


def counter_mismatches(metric_rows: list[dict], oracle: dict) -> list[str]:
    """``msgs.*`` counters (per metric|tag, inserted excluded) and
    parse_errors from a MetricsCollector's rows, against the oracle."""
    got: Counter = Counter()
    parse_errors = 0
    for r in metric_rows:
        if r["metric"].startswith("msgs.") and r["metric"] != "msgs.inserted":
            got[f"{r['metric']}|{r['tag']}"] += r["value"]
        elif r["metric"] == "parse_errors":
            parse_errors += r["value"]
    bad = [
        f"{k}: got {got.get(k, 0)} want {v}"
        for k, v in oracle["counters"].items()
        if got.get(k, 0) != v
    ]
    bad += [f"{k}: unexpected {v}" for k, v in got.items() if k not in oracle["counters"]]
    if parse_errors != oracle["parse_errors"]:
        bad.append(f"parse_errors: got {parse_errors} want {oracle['parse_errors']}")
    return bad


def _normalize(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = pdf[cols].copy()
    for c in cols:
        col = out[c]
        if col.map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any():
            out[c] = col.map(
                lambda v: tuple(float(x) for x in v)
                if isinstance(v, (list, tuple, np.ndarray))
                else None
            )
        elif pd.api.types.is_datetime64_any_dtype(col) or c in ("turn_ts", "ts"):
            out[c] = pd.to_datetime(col).astype("datetime64[us]")
        elif pd.api.types.is_numeric_dtype(col):
            out[c] = col.astype("float64")
        else:
            out[c] = col.map(
                lambda v: None if v is None or (isinstance(v, float) and np.isnan(v)) else str(v)
            )
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def rows_mismatch(spark_pdf: pd.DataFrame, oracle_rows: list[dict]) -> str | None:
    """None when the Spark sink rows equal the oracle rows."""
    want = pd.DataFrame(oracle_rows)
    if len(want) != len(spark_pdf):
        return f"{len(spark_pdf)} rows, oracle {len(want)}"
    if not len(want):
        return None
    if set(want.columns) != set(spark_pdf.columns):
        return f"column mismatch {sorted(set(want.columns) ^ set(spark_pdf.columns))}"
    cols = sorted(want.columns)
    try:
        pd.testing.assert_frame_equal(
            _normalize(spark_pdf, cols), _normalize(want, cols), check_dtype=False
        )
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def check_sinks(spark, sinks: dict, oracle: dict) -> list[str]:
    """Every sink: committed row count (from the manifests, which carry the
    written files' parquet footer counts) against the oracle, then one read
    back through ``SnapshotTable.read`` for row equality on the sample
    conversations."""
    from pyspark.sql import functions as F

    bad = []
    for name, table in sinks.items():
        n = sum(s["n_rows"] for s in table.lineage().values())
        if n != oracle["sink_rows"][name]:
            bad.append(f"{name}: {n} rows committed, oracle {oracle['sink_rows'][name]}")
            continue
        df = table.read(spark)
        if df is None:
            continue
        got = df.filter(F.col("conv_id").isin(oracle["sample"])).toPandas()
        err = rows_mismatch(got, oracle["sample_rows"][name])
        if err:
            bad.append(f"{name} sample rows: {err}")
    return bad


def curate_oracle(docs_dir: str) -> pd.DataFrame:
    """DuckDB replay of ``curate_corpus`` over the seeded documents, cached."""

    def compute():
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            path = os.path.join(docs_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            out = con.execute(entry.oracle_sql()["curate_corpus"]).df()
        finally:
            con.close()
        return normalize_status(out)

    return inputs.cached(os.path.join(docs_dir, "oracle.pkl"), compute)


def normalize_status(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf[["doc_id", "status"]]
        .astype({"doc_id": "int64", "status": str})
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
