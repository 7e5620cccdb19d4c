"""Seeded inputs, cached on disk per (workload, seed, size).

Everything a run reads is derived from ``--seed`` alone, so the same seed
gives byte-identical inputs; generation time is excluded from ``setup_s``
because the cache makes it a one-off per seed.
"""

from __future__ import annotations

import io
import os
import pickle
import shutil

import numpy as np
import pandas as pd

from punt_spark.fixtures import (
    lookup_role_pdf,
    lookup_tool_pdf,
    make_transcripts,
)

# Six hours of traffic per backfill operation: ``make_transcripts`` spreads
# any n over a fixed 4-day window, so drawing 320k rows and keeping the
# first six hours gives 20k turns whose RFC3164 text timestamps agree with
# ``ts``. Six hours keep the job and partition counts of a small catch-up
# (one partition per hour per sink); the row count is large enough that
# parse and the sink writes are a measurable share of an operation beside
# the per-job fixed costs.
BACKFILL_POOL_TURNS = 320_000
BACKFILL_HOURS = 6
# trickle: files of this many turns, offered at this many files per second
# (500 turns/s, about a third of backfill's ~1,600 turns/s); the measured
# window opens with one second of backlog waiting
TRICKLE_FILE_TURNS = 25
TRICKLE_FILES_PER_S = 20
TRICKLE_WARMUP_FILES = 4
TRICKLE_BACKLOG_FILES = 20
TRICKLE_POOL_TURNS = 80_000
CURATE_DOCS = 5_000
CURATE_WARMUP_DOCS = 1_000

# documents twin vocabulary: the sf tables' documents are drawn from a
# ~30-word technical vocabulary plus the stopwords the quality score counts
VOCAB = np.array(
    (
        "spark batch part line column order small sort fast value scan a "
        "hash slow group agg filter query big key window row table stream "
        "merge data vector customer the join"
    ).split()
)


def cache_dir(root: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(root, ".bench_cache", f"{workload}-s{seed}-n{size}")


def _build(path: str, make) -> str:
    """Create ``path`` atomically: build into a temp dir, then rename."""
    if os.path.isdir(path):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # another process finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _write_lookups(d: str):
    lookup_tool_pdf().to_parquet(os.path.join(d, "lookup_tool.parquet"), index=False)
    lookup_role_pdf().to_parquet(os.path.join(d, "lookup_role.parquet"), index=False)


def reference_lookups() -> dict:
    """The dimension tables in ``reference_impl.run_reference`` form."""
    out = {}
    for key, pdf in (("tool", lookup_tool_pdf()), ("role", lookup_role_pdf())):
        out[key] = {
            r[key]: {k: r[k] for k in ("category", "risk_code", "coords")}
            for _, r in pdf.iterrows()
        }
    return out


def backfill_turns(seed: int) -> pd.DataFrame:
    pdf = make_transcripts(BACKFILL_POOL_TURNS, seed)
    cut = pdf["ts"].min().normalize() + pd.Timedelta(hours=BACKFILL_HOURS)
    return pdf[pdf["ts"] < cut].reset_index(drop=True)


def backfill_inputs(root: str, seed: int) -> str:
    """<dir>/day.parquet (the backfill input) and the lookup dims."""

    def make(d):
        day = backfill_turns(seed)
        # four part files, like a real day partition: the scan spreads
        # across cores without a raw-text shuffle
        os.makedirs(os.path.join(d, "day.parquet"))
        for i, rows in enumerate(np.array_split(np.arange(len(day)), 4)):
            day.iloc[rows].to_parquet(
                os.path.join(d, "day.parquet", f"part-{i}.parquet"), index=False
            )
        _write_lookups(d)

    return _build(cache_dir(root, "backfill", seed, BACKFILL_POOL_TURNS), make)


def trickle_pool(root: str, seed: int) -> str:
    """The ordered turn pool the trickle generator slices its files from."""

    def make(d):
        make_transcripts(TRICKLE_POOL_TURNS, seed).to_parquet(
            os.path.join(d, "pool.parquet"), index=False
        )
        _write_lookups(d)

    return _build(cache_dir(root, "trickle", seed, TRICKLE_POOL_TURNS), make)


def trickle_files(pool: pd.DataFrame, n_files: int) -> list[bytes]:
    """Serialized parquet bytes of files 0..n_files-1, consecutive slices of
    the pool — prepared before the schedule starts so the generator thread
    only writes and renames."""
    need = n_files * TRICKLE_FILE_TURNS
    if need > len(pool):
        raise ValueError(f"trickle needs {need} turns, pool has {len(pool)}")
    out = []
    for k in range(n_files):
        buf = io.BytesIO()
        pool.iloc[k * TRICKLE_FILE_TURNS : (k + 1) * TRICKLE_FILE_TURNS].to_parquet(
            buf, index=False
        )
        out.append(buf.getvalue())
    return out


def make_documents(n: int, seed: int) -> pd.DataFrame:
    """Seeded twin of the sf ``documents`` table (doc_id, text, lang,
    source, n_chars): Zipf-weighted words, 5-80 words a doc, 20 sources,
    an exact duplicate every 625 docs and a near-duplicate (one word
    swapped) every 40 docs, so every curation stage removes something."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    w /= w.sum()
    lens = rng.integers(5, 80, n)
    flat = VOCAB[rng.choice(len(VOCAB), int(lens.sum()), p=w)]
    offs = np.concatenate(([0], np.cumsum(lens)))
    words = [list(flat[offs[i] : offs[i + 1]]) for i in range(n)]
    for i in range(40, n, 40):
        near = list(words[i - 1])
        near[int(rng.integers(0, len(near)))] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
        words[i] = near
    texts = [" ".join(ws) for ws in words]
    for i in range(625, n, 625):
        texts[i] = texts[i - 1]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "zh", "fr", "es"], n),
            "source": [f"src{i % 20}" for i in range(n)],
        }
    )
    pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
    return pdf


def curate_inputs(root: str, seed: int) -> str:
    """<dir>/documents.parquet and a smaller <dir>/warmup/documents.parquet
    (``q_curate_corpus`` reads ``documents.parquet`` from a directory)."""

    def make(d):
        make_documents(CURATE_DOCS, seed).to_parquet(
            os.path.join(d, "documents.parquet"), index=False
        )
        os.makedirs(os.path.join(d, "warmup"))
        make_documents(CURATE_WARMUP_DOCS, seed).to_parquet(
            os.path.join(d, "warmup", "documents.parquet"), index=False
        )

    return _build(cache_dir(root, "curate", seed, CURATE_DOCS), make)


def cached(path: str, compute):
    """Pickle-backed memo for oracle results this program computed itself."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(value, f)
    os.replace(tmp, path)
    return value
