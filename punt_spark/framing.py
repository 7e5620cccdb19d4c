"""Framing — newline and RFC6587 octet-counted record extraction.

Reference: /root/reference/lib/syslog/buffer.go. Punt frames TCP byte
streams into records two ways:

* newline framing (buffer.go:83-96) — split on ``\\n``
* octet-counted framing (buffer.go:27-81) — records are ``<len> <payload>``;
  the scanner skips garbage until it finds a digit-run followed by a space,
  reads ``len`` bytes, repeats.

In our data model each transcript turn is already one record, so framing is
off the hot path — it exists for fixture-fidelity parity with the
reference's test corpus (buffer_test.go). Newline framing is a pure Spark
``explode(split(...))``; octet framing is a pandas UDF whose per-batch loop
mirrors the reference scanner (not in the 100 TB path; documented).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_SIZE_RE = re.compile(r"(\d+) ")


def frame_octets_str(buf: str) -> list[str]:
    """Pure-Python port of SyslogBuffer.Next/scanSize (buffer.go:27-81):
    skip garbage until ``<digits><space>``, take that many chars, repeat.
    Incomplete trailing records are dropped (a batch table has no
    'wait for more bytes' state)."""
    out: list[str] = []
    pos = 0
    n = len(buf)
    while pos < n:
        m = _SIZE_RE.search(buf, pos)
        if m is None:
            break
        size = int(m.group(1))
        start = m.end()
        if start + size > n:
            break  # incomplete record — reference would buffer for more bytes
        out.append(buf[start : start + size])
        pos = start + size
    return out


def _frame_octets_udf():
    @pandas_udf("array<string>")
    def frame_octets(buf: pd.Series) -> pd.Series:
        return buf.map(
            lambda s: frame_octets_str(s) if isinstance(s, str) else []
        )

    return frame_octets


def frame_records(
    df: DataFrame, mode: str, text_col: str = "text"
) -> DataFrame:
    """Single framing entry point for the pipeline: replaces ``text_col``
    with one framed record per row plus a ``record_idx`` sub-order column
    (position within the original buffer). mode: "newline" | "octet".

    Empty records are dropped, matching the buffer semantics
    (buffer.go:88-95 returns only complete, non-empty lines)."""
    if mode == "newline":
        records = F.split(F.col(text_col), "\n")
    elif mode == "octet":
        records = _frame_octets_udf()(F.col(text_col))
    else:
        raise ValueError(f"unknown frame mode {mode!r}")
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.posexplode(records).alias("record_idx", text_col),
    ).filter(F.col(text_col) != "")
