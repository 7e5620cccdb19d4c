"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (100 TB corpus):

* Exact dedup is one hash-groupBy — map-side combine + AQE-coalesced
  shuffle; never a global sort.
* MinHash signatures are computed WITHOUT exploding shingles: a per-row
  ``array_min(transform(shingles, …))`` per permutation shuffles nothing —
  only the (tiny) band keys shuffle for the LSH bucket join. (Nuance:
  higher-order functions are CodegenFallback, i.e. interpreted per
  element; for CHEAP hashes (xxhash64) avoiding the explode shuffle still
  wins — measured 4.0 s vs 6.4 s at sf0.1 for 32 permutations — but for
  EXPENSIVE string-producing hashes (md5) the codegen'd explode+groupBy
  formulation wins ~10×, which is why the md5-based oracle queries in
  __spark_entry__ keep the exploded shape.)
* LSH buckets can be pathologically hot (boilerplate documents); the
  candidate join caps bucket size (``max_bucket``) — the standard guard
  against the O(n²) bucket blow-up.
* SimHash is a vectorized pandas UDF (hash+bit-accumulate per Arrow batch);
  near-dup candidates use the pigeonhole principle on 16-bit chunks, so a
  Hamming-distance-≤3 pair is guaranteed to share ≥1 of 4 chunk keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles"
) -> DataFrame:
    df = df.withColumn("__tokens", tokens_col(text_col))
    # CASE guard: sequence(1, 0) would DESCEND ([1,0]) and feed slice() an
    # illegal 0 start — short docs get an empty shingle set instead.
    df = df.withColumn(
        out,
        F.expr(
            f"CASE WHEN size(__tokens) >= {n} THEN "
            f"transform(sequence(1, size(__tokens) - {n - 1}),"
            f" i -> concat_ws(' ', slice(__tokens, i, {n}))) "
            f"ELSE array() END"
        ),
    ).drop("__tokens")
    return df


# --- exact ------------------------------------------------------------------


def exact_key(cols: list[str]) -> Column:
    """THE canonical duplicate-group key: md5 over the \\x1f-joined
    columns (concat_ws skips NULLs, so NULL text groups with empty text).
    Single definition — every consumer (exact_dedup, stats, curation's
    audit trail, the DuckDB oracles) must hash identically or drop sets
    silently desync."""
    return F.md5(F.concat_ws("\x1f", *[F.col(c) for c in cols]))


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative row per duplicate group (min id) — a
    hash-groupBy join-back, no window over the full table.

    PRECONDITION: ``id_col`` is non-NULL and unique (same contract as
    ``sampling.cap_rank``). A NULL id is unrepresentable here — the
    null-unsafe semi-join drops the row entirely, so any consumer
    deriving a complementary DROP set would silently disagree exactly
    when the precondition is violated. The documents/transcripts ingest
    paths stamp ids before dedup; assert non-null upstream if your
    source cannot guarantee it."""
    keyed = df.withColumn("__k", exact_key(cols))
    keepers = keyed.groupBy("__k").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(keepers, ["__k", id_col], "left_semi").drop("__k")
    )


def exact_dup_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    key = exact_key(cols)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(key).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(key)).alias("n_dupes"),
    )


# --- MinHash + LSH ------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]). Permutation j = xxhash64 with a
    per-permutation prefix; min taken per-row over the shingle array —
    shuffle-free.

    The per-permutation lambdas are SQL expressions, NOT Python
    ``lambda``s: with many sibling Python-lambda higher-order functions in
    one select, PySpark's generated lambda-variable names can cross-bind
    between siblings, silently shifting which prefix each permutation
    hashes — measured as session-order-dependent signatures (three
    back-to-back calls returned three different h0 values, none matching
    the hand-computed xxhash64 min). SQL-parsed lambdas scope their
    variables correctly and are pinned deterministic by test."""
    d = with_shingles(df, text_col, shingle_n).filter(F.size("shingles") > 0)
    mins = [
        F.expr(
            "array_min(transform(shingles,"
            f" s -> xxhash64(concat('{j}\x1f', s))))"
        ).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    sig = d.select(F.col(id_col), *mins)
    return sig.select(
        id_col, F.array(*[f"h{j}" for j in range(num_hashes)]).alias("sig")
    )


def md5_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<string>[num_hashes]) — the ORACLE-REPLAYABLE
    signature family: permutation j = md5 with a numeric prefix, min hex
    string per shingle set (DuckDB: ``min(md5(j || chr(31) || shingle))``).
    Use :func:`minhash_signatures` (xxhash64, JVM-cheap, per-row) in
    production and THIS where a DuckDB gate must replay the signature
    bit-for-bit (the md5-LSH gate family of ``q_dedup_minhash_pairs`` /
    the near-dup ingest fold). Unlike the xxhash64 twin this uses the
    explode+groupBy shape: md5-of-string is expensive enough that the
    codegen'd aggregate beats the interpreted per-row lambda ~10×
    (module docstring) and is worth the one map-side-combined shuffle.
    Docs with no shingles (< shingle_n tokens) are excluded — callers
    must treat absent ids as unmatched, not dropped."""
    d = with_shingles(df, text_col, shingle_n).filter(F.size("shingles") > 0)
    ex = d.select(F.col(id_col), F.explode("shingles").alias("__s"))
    mins = [
        # US separator between the permutation index and the shingle —
        # without it j=3 on shingle '1x' hashes the same bytes as j=31
        # on 'x', correlating permutations for digit-leading shingles
        # (the same reason minhash_signatures separates with \x1f)
        F.min(
            F.md5(F.concat(F.lit(f"{j}\x1f"), F.col("__s")).cast("binary"))
        ).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    sig = ex.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[f"h{j}" for j in range(num_hashes)]).alias("sig")
    )


def banded_str(sig_df: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, band_idx, band_hash) over a STRING signature array: band key =
    md5 of the band's elements joined on US (0x1f). The string twin of
    ``_banded`` (whose xxhash64 key DuckDB cannot replay); DuckDB mirrors
    it as ``md5(array_to_string(sig[a:b], chr(31)))``."""
    return sig_df.select(
        id_col,
        "sig",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> md5(cast(concat_ws('\x1f',"
                f"   slice(sig, b * (size(sig) div {bands}) + 1,"
                f"     size(sig) div {bands})) as binary)))"
            )
        ).alias("band_idx", "band_hash"),
    )


def sig_agreement(a: str, b: str) -> str:
    """SQL expr: fraction of positions where two equal-length signature
    arrays agree — the MinHash Jaccard estimate (unbiased, se ≈
    1/√num_hashes)."""
    return (
        f"size(filter(zip_with({a}, {b}, (x, y) -> x = y), t -> t))"
        f" / cast(size({a}) as double)"
    )


def bucket_census(
    df: DataFrame,
    keys: list[str],
    cap: int,
    anchor: dict[str, str],
    order: list[str],
) -> tuple[DataFrame, DataFrame]:
    """THE hot-bucket census behind every capped pair join (simhash
    chunks, near-dup ingest bands, SemDeDup clusters): group ``df`` on
    ``keys``, pick each bucket's anchor row (lexicographic min of
    ``order``, carrying the ``anchor`` {out_name: in_col} payload), and
    split buckets at ``cap``. Returns ``(cool, hot)`` — ``cool`` is the
    key set whose buckets may pair quadratically, ``hot`` is keys +
    anchor payload for the linear star degrade. One definition so a fix
    to the cap comparison or the anchor tie-break cannot miss a sibling
    (the same single-source rule as ``exact_key``)."""
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.min_by(
            F.struct(*[F.col(src).alias(dst) for dst, src in anchor.items()]),
            F.struct(*[F.col(c) for c in order]),
        ).alias("__anchor"),
    )
    cool = stats.filter(F.col("__n") <= cap).select(*keys)
    hot = stats.filter(F.col("__n") > cap).select(*keys, "__anchor.*")
    return cool, hot


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signature, bucket-join, emit candidate pairs (a < b).

    Buckets larger than ``max_bucket`` are dropped (boilerplate guard): at
    web scale one viral template otherwise creates a quadratic bucket.
    """
    banded = _banded(sig_df, id_col, bands)
    bucket_counts = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("__n")
    )
    ok_buckets = bucket_counts.filter(F.col("__n") <= max_bucket).drop("__n")
    pruned = banded.join(ok_buckets, ["band_idx", "band_hash"], "left_semi")
    return _bucket_join(pruned, id_col).distinct()


def _banded(sig_df: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, band_idx, band_hash) — the signature sliced into ``bands``
    equal chunks, each hashed to its LSH bucket key."""
    return sig_df.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> xxhash64(concat_ws(',',"
                f"   transform(slice(sig, b * (size(sig) div {bands}) + 1,"
                f"     size(sig) div {bands}), x -> cast(x as string)))))"
            )
        ).alias("band_idx", "band_hash"),
    )


def _bucket_join(pruned: DataFrame, id_col: str) -> DataFrame:
    """The capped bucket self-join (pre-dedup): pairs (a < b) within each
    surviving (band_idx, band_hash) bucket. Exposed for the skew tests,
    which assert per-task balance on THIS join's output — a bucket sitting
    exactly at the ``max_bucket`` boundary is the worst surviving case
    (O(max_bucket²) pairs on one join key) and is what AQE's skew-join
    split must carve up."""
    a = pruned.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = pruned.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (array_intersect /
    array_union on distinct shingle arrays)."""
    sh = with_shingles(df, text_col, shingle_n).select(
        F.col(id_col), F.array_distinct("shingles").alias("sset")
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sset", "sa"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sset", "sb"), "id_b")
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb")).cast("double")
    return (
        j.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verify. Returns verified duplicate pairs."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes)
    cand = lsh_candidate_pairs(sig, id_col, bands)
    return jaccard_verify(cand, df, text_col, id_col, threshold=threshold)


# --- n-gram Jaccard (no LSH; count-join formulation) --------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs Jaccard over docs sharing ≥1 shingle: explode → self-join on
    shingle → |A∩B| counts → Jaccard. One shuffle on the shingle key.

    ``max_df`` is the stop-shingle cap: shingles appearing in more than
    ``max_df`` documents are excluded from the CANDIDATE join (a single
    boilerplate shingle shared by n docs otherwise creates an O(n²) join
    blow-up — the same guard as ``lsh_candidate_pairs``' ``max_bucket``).
    Set sizes are still computed over the FULL shingle sets so the Jaccard
    denominator stays exact; only the intersection counts become a lower
    bound when capping drops a genuinely shared hot shingle, making the
    result a (conservative) high-precision candidate set at scale. With
    ``max_df=None`` the result is exact."""
    sh = (
        with_shingles(df, text_col, shingle_n)
        .select(F.col(id_col), F.explode(F.array_distinct("shingles")).alias("s"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    if max_df is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("s")
        )
        sh = sh.join(rare, "s", "left_semi")
    a = sh.select(F.col(id_col).alias("id_a"), "s")
    b = sh.select(F.col(id_col).alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- cross-document repeated-span removal ----------------------------------------


def repeated_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """(gram, n_docs) — token n-grams appearing in ≥ ``min_docs`` DISTINCT
    documents: the cross-document repeated-substring table (boilerplate,
    licenses, templates). One shuffle on the gram key, map-side distinct
    per doc first; countDistinct is exact because each (doc, gram) pair
    arrives once."""
    sh = with_shingles(df, text_col, n).select(
        F.col(id_col), F.explode(F.array_distinct("shingles")).alias("gram")
    )
    return (
        sh.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def trim_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    out: str = "trimmed_text",
) -> DataFrame:
    """Remove cross-document repeated token spans from each document —
    the within-document analog of Lee et al. 2022's ExactSubstr dedup
    ("Deduplicating Training Data Makes Language Models Better"), at
    token granularity: any token covered by an n-gram that appears in
    ≥ ``min_docs`` distinct documents is dropped; unique content is kept
    verbatim (single-space rejoined). Adds ``out`` and
    ``n_trimmed_tokens``.

    Shape at scale: positions explode map-side; ONE shuffle keys grams
    for the distinct-doc count; the hot-gram hit list flows back via a
    gram-keyed join whose output is linear in total gram occurrences
    (never a doc-pair join); per-doc span merging is a collect_list +
    array lambdas — no window, no driver loop. A gram in EVERY doc (a
    license header) costs O(docs) join rows, exactly its occurrence
    count.

    Mechanics: doc tokens t_0..t_{L-1}; gram at start position p covers
    tokens [p, p+n-1]; token i survives iff no hot gram start s satisfies
    s ≤ i ≤ s+n-1. Deterministic; a doc with no hot grams round-trips
    with only whitespace normalization (split/rejoin). Tokenization is
    the canonical ``tokens_col`` contract (split on whitespace over
    lower(trim(text))), with empty tokens filtered so an empty document
    yields zero tokens."""
    d = df.withColumn("__toks", F.expr(
        "filter(" + _TOKS_SQL(text_col) + ", t -> t != '')"
    ))
    # (id, start_pos, gram) — positions are 0-based over the token array
    pos = d.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"CASE WHEN size(__toks) >= {n} THEN "
                f"transform(sequence(1, size(__toks) - {n - 1}),"
                f" i -> concat_ws(' ', slice(__toks, i, {n}))) "
                f"ELSE array() END"
            )
        ).alias("__start", "gram"),
    )
    hot = repeated_ngrams(df, text_col, id_col, n, min_docs).select("gram")
    hits = (
        pos.join(hot, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__start")).alias("__starts"))
    )
    trimmed = (
        d.join(hits, id_col, "left")
        .withColumn(
            "__starts", F.coalesce(F.col("__starts"), F.expr("array()"))
        )
        .withColumn(
            "__keep",
            F.expr(
                f"filter(transform(__toks, (t, i) -> "
                f"CASE WHEN exists(__starts, s -> i >= s AND i < s + {n})"
                f" THEN NULL ELSE t END), t -> t IS NOT NULL)"
            ),
        )
        .withColumn(out, F.concat_ws(" ", F.col("__keep")))
        .withColumn(
            "n_trimmed_tokens",
            (F.size("__toks") - F.size("__keep")).cast("long"),
        )
        .drop("__toks", "__starts", "__keep")
    )
    return trimmed


def _TOKS_SQL(text_col: str) -> str:
    """SQL text of the canonical tokenizer (tokens_col) for use inside
    expr-composed lambdas — split on whitespace over lower(trim(text))."""
    return f"split(lower(trim({text_col})), '\\\\s+')"


# --- benchmark decontamination ---------------------------------------------------


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """Drop training documents that share ANY word n-gram with a benchmark
    set — the standard test-set decontamination pass (GPT-3/Pile style
    13-gram rule, n configurable; 5 here to match short fixture docs).

    Shape at scale: the benchmark's distinct shingles are a SMALL relation
    (benchmarks are thousands of docs, corpora are billions) — the
    left_anti join broadcasts it, so the corpus never shuffles. The
    corpus-side shingle explode is map-side only."""
    return df.join(
        contaminated_ids(df, benchmark, text_col, id_col, shingle_n),
        id_col,
        "left_anti",
    )


def contaminated_ids(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """The id set ``decontaminate`` removes — exposed separately so audit
    consumers (curation's removed-reason trail) get the small id frame
    directly instead of re-deriving it with a corpus anti-join."""
    bench_shingles = (
        with_shingles(benchmark, text_col, shingle_n)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    doc_shingles = with_shingles(df, text_col, shingle_n).select(
        F.col(id_col), F.explode(F.array_distinct("shingles")).alias("s")
    )
    return (
        doc_shingles.join(F.broadcast(bench_shingles), "s", "left_semi")
        .select(id_col)
        .distinct()
    )


def contamination_scores(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """Per-document contamination REPORT — the scored companion to
    :func:`decontaminate` (the GPT-3 appendix-C "dirtiness" measurement:
    how much of each doc overlaps the eval set, not just whether): for
    every corpus doc its distinct n-gram count, how many of those appear
    in the benchmark, and the overlap fraction. ``decontaminate``'s
    drop rule is the frac > 0 threshold; partial-overlap policies (C4
    drops at any overlap, some pipelines only above a fraction)
    threshold this frame instead.

    Shape at scale: identical to contaminated_ids — benchmark shingles
    broadcast, corpus shingles explode map-side; the one shuffle is the
    per-doc re-agg on id. Docs too short to shingle survive with
    n_shingles = 0 / frac 0.0 (explode_outer), so the report is total
    over the corpus.
    """
    bench_shingles = (
        with_shingles(benchmark, text_col, shingle_n)
        .select(F.explode("shingles").alias("s"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    doc_shingles = with_shingles(df, text_col, shingle_n).select(
        F.col(id_col),
        F.explode_outer(F.array_distinct("shingles")).alias("s"),
    )
    agg = (
        doc_shingles.join(F.broadcast(bench_shingles), "s", "left")
        .groupBy(id_col)
        .agg(
            F.count("s").alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    frac = F.when(
        F.col("n_shingles") > 0,
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 4),
    ).otherwise(F.lit(0.0))
    return agg.withColumn("contamination_frac", frac)


def dup_source_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix — which sources duplicate which
    (the inter-domain duplication analysis the C4/RefinedWeb papers run
    before choosing dedup scope): near-dup pairs joined to each side's
    source, counted per UNORDERED source pair (sides least/greatest-
    sorted so (a,b) and (b,a) accumulate one cell; the diagonal is
    within-source duplication).

    Shape at scale: ``pairs`` is O(duplicates) ≪ corpus and joins the
    docs frame pruned to (id, source) — AQE broadcasts the pair side;
    the matrix agg output is |sources|² at most.
    """
    s = docs.select(F.col(id_col), F.col(source_col))
    j = pairs.join(
        s.select(
            F.col(id_col).alias("id_a"), F.col(source_col).alias("__sa")
        ),
        "id_a",
    ).join(
        s.select(
            F.col(id_col).alias("id_b"), F.col(source_col).alias("__sb")
        ),
        "id_b",
    )
    return (
        j.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- SimHash -------------------------------------------------------------------


def simhash16_native(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Oracle-checkable 16-bit SimHash, 100% native column expressions.

    Token bits come from the first 4 hex chars of md5(token) — the shared
    deterministic hash between Spark and DuckDB — so an ANSI-SQL oracle can
    reproduce the value exactly. Per-row ``aggregate()`` over the distinct
    token array accumulates the 16 bit votes WITHOUT exploding tokens:
    zero shuffles, stays inside whole-stage codegen, scales linearly.
    (The 64-bit blake2b variant in ``with_simhash`` has better collision
    behavior for production near-dup; this one exists so the correctness
    gate can value-check simhash semantics end-to-end.)
    """
    # filter(x != '') matches Python str.split() semantics: a whitespace-only
    # document tokenizes to [] — Spark's split(trim('')) would yield ['']
    # and hash the empty token (hypothesis-caught edge case).
    hv = F.expr(
        "transform(filter(array_distinct(split(lower(trim("
        + text_col
        + ")), '\\\\s+')), t -> t != ''),"
        " t -> cast(conv(substring(md5(cast(t as binary)), 1, 4), 16, 10)"
        " as int))"
    )
    d = df.withColumn("__hv", hv)
    votes = [
        F.expr(
            f"aggregate(__hv, 0, (acc, h) -> acc +"
            f" (CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        ).alias(f"__v{b}")
        for b in range(16)
    ]
    d = d.select(F.col(id_col), *votes)
    sig = None
    for b in range(16):
        term = F.when(F.col(f"__v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return d.select(F.col(id_col), sig.cast("bigint").alias("simhash16"))


def _simhash_batch(texts: pd.Series, bits: int = 64) -> pd.Series:
    """SimHash over an Arrow batch, fully vectorized: every distinct token
    in the batch is hashed ONCE (blake2b, deduplicated through a batch-wide
    vocabulary), the vocabulary's bit matrix is expanded once, and the
    per-document bit votes are ``np.add.reduceat`` segment sums over the
    flat token stream — no per-document Python loop. Documents are grouped
    into token-bounded sub-batches so the (tokens × bits) expansion stays
    ~60 MB regardless of batch size."""
    import hashlib

    masks = np.uint64(1) << np.arange(bits, dtype=np.uint64)
    tok_lists = [
        t.lower().split() if isinstance(t, str) and t else []
        for t in texts
    ]
    # batch-wide vocabulary: token → index; each distinct token hashed once
    vocab: dict[str, int] = {}
    hashes: list[int] = []
    flat_idx: list[int] = []
    for toks in tok_lists:
        for tok in toks:
            i = vocab.get(tok)
            if i is None:
                i = len(vocab)
                vocab[tok] = i
                hashes.append(
                    int.from_bytes(
                        hashlib.blake2b(tok.encode(), digest_size=8).digest(),
                        "big",
                    )
                )
            flat_idx.append(i)
    out = np.zeros(len(texts), dtype=np.int64)
    if not flat_idx:
        return pd.Series(out)
    lengths = np.array([len(t) for t in tok_lists], dtype=np.int64)
    csum = np.concatenate([[0], np.cumsum(lengths)])
    vocab_bits = (
        np.asarray(hashes, dtype=np.uint64)[:, None] & masks[None, :]
    ) != 0  # (V, bits)
    flat = np.asarray(flat_idx, dtype=np.int64)
    max_tok_per_sub = 250_000  # × bits × 4 B ≈ 60 MB peak
    doc_start = 0
    n = len(texts)
    while doc_start < n:
        doc_end = doc_start + 1
        while (
            doc_end < n
            and csum[doc_end + 1] - csum[doc_start] <= max_tok_per_sub
        ):
            doc_end += 1
        seg_docs = np.arange(doc_start, doc_end)
        live = lengths[seg_docs] > 0  # reduceat mishandles empty segments
        lo, hi = csum[doc_start], csum[doc_end]
        if hi > lo and live.any():
            tok_bits = vocab_bits[flat[lo:hi]].astype(np.int32)
            starts = (csum[seg_docs] - lo)[live]
            ones = np.add.reduceat(tok_bits, starts, axis=0)
            votes = 2 * ones - lengths[seg_docs][live][:, None]
            sigs = ((votes > 0).astype(np.uint64) * masks).sum(
                axis=1, dtype=np.uint64
            )
            out[seg_docs[live]] = sigs.astype(np.int64)
        doc_start = doc_end
    return pd.Series(out)


def _simhash_udf():
    # created lazily: pandas_udf parses its DDL return type against the
    # active session, so decorating at import time breaks sessionless imports
    @pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        return _simhash_batch(texts)

    return simhash64


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", _simhash_udf()(F.col(text_col)))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k. Pigeonhole banding:
    split 64 bits into 4 × 16-bit chunks; any pair within distance 3 shares
    ≥1 exact chunk → join on (chunk_idx, chunk_value), verify with
    bit_count(xor).

    ``max_bucket`` bounds the self-join's hottest key — the quadratic-
    blowup guard as in ``lsh_candidate_pairs``: a chunk value shared by a
    viral template puts O(bucket²) rows on one join key. r6 evidence the
    guard is load-bearing: the frequency-realistic 10×-input validation
    (scripts/sf1_validate.py) read the UNcapped 16-bit oracle variant at
    38× cost for 10× rows — that variant's 4-bit chunks (16 possible
    values) saturate by construction at n ≳ 16·cap docs, which is exactly
    why it stays an oracle-semantics gate while THIS 64-bit capped path
    (65536 values per chunk) is the production one.

    Over-cap buckets are NOT dropped (dropping would lose EVERY pair of an
    identical-doc viral cluster — all four chunks are equally hot, so no
    cooler chunk rescues it). Instead they degrade to a STAR join: each
    member pairs with the bucket's min-id anchor only — O(bucket) rows,
    verified by the same Hamming filter. Identical-doc clusters link fully
    (hamming 0 to the anchor) and stay one connected component for
    ``dup_clusters``; single-linkage through an anchor is already CC's
    semantics. Residual recall trade: in a DIVERSE hot bucket a pair may
    be missed when neither doc is within ``max_hamming`` of the anchor
    and this was their only shared chunk — strictly better than the
    drop-the-bucket alternative, same spirit as ``lsh_candidate_pairs``.

    The signature frame is localCheckpoint-ed before the fan-out: the
    bucket census, the star side, and both quadratic join sides all
    consume it, and without materialization each branch would re-run the
    per-row pandas-UDF simhash over the full corpus (the repo's standard
    persist-and-materialize-at-fan-out rule)."""
    sh = (
        with_simhash(df, text_col)
        .select(id_col, "simhash")
        .localCheckpoint()
    )
    chunks = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3),"
                " c -> (simhash >> (c * 16)) & 65535)"
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cool, hot = bucket_census(
        chunks,
        ["chunk_idx", "chunk_val"],
        max_bucket,
        {"__aid": id_col, "__asig": "simhash"},
        [id_col],
    )
    cool_chunks = chunks.join(cool, ["chunk_idx", "chunk_val"], "left_semi")
    a = cool_chunks.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sig_a"),
        "chunk_idx",
        "chunk_val",
    )
    b = cool_chunks.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sig_b"),
        "chunk_idx",
        "chunk_val",
    )
    cool_pairs = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    # anchor is the bucket MIN id, so (anchor, member) is already ordered
    star_pairs = (
        chunks.join(hot, ["chunk_idx", "chunk_val"])
        .filter(F.col(id_col) != F.col("__aid"))
        .select(
            F.col("__aid").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.bit_count(
                F.col("simhash").bitwiseXOR(F.col("__asig"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return cool_pairs.unionByName(star_pairs).distinct()


# --- transitive duplicate clusters ---------------------------------------------


def dup_clusters(
    pairs: DataFrame,
    max_iter: int = 50,
    ptr_jump_after: int = 2,
    checkpoint_dir: str | None = None,
    small_graph_edges: int = 100_000,
) -> DataFrame:
    """Connected components over the duplicate-pair graph → (id, cluster_id)
    with cluster_id = min id in the component.

    One-pass pair dedup misses transitivity (A~B, B~C but A≁C still form one
    group). Algorithm: min-label propagation, switching to pointer jumping
    (each node also adopts the label OF its label's node) after
    ``ptr_jump_after`` rounds. Near-dup components are usually shallow
    (2-3 rounds), where the extra jump join is pure overhead — measured
    1.1 s vs 2.2 s at sf0.1; but a pathological chain needs O(diameter)
    plain rounds vs O(log diameter) with jumping — measured 7 vs 41 rounds
    on a 41-node chain. The adaptive switch gets both.

    Cost shape per round is exactly ONE Spark job: the label update is a
    lazy ``localCheckpoint`` and the convergence flag rides the same action
    as a ``max(__chg)`` aggregate over the update's own output (labels only
    ever decrease, so changed ⇔ new < old) — no separate compare-join job.
    Checkpointing truncates lineage so the plan stays flat across rounds.
    By default the checkpoints are ``localCheckpoint`` (executor-local
    blocks — fast, but a lost executor loses the truncated lineage and
    fails the job); pass ``checkpoint_dir`` to switch every round to
    reliable ``checkpoint()`` into that (HDFS/object-store) path, the
    right trade on preemptible/spot executors where losing a node mid-CC
    is expected, not exceptional. Same algorithm, same one-job-per-round
    shape — reliable checkpoints just add a write of the (small) label
    frame per round. The SparkContext checkpoint directory is session-
    global state: it is saved and restored around the call (so a caller's
    own durable checkpoint dir is not silently redirected), and per-round
    checkpoint files are left for the standard reaper
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true``) or the
    caller's dir lifecycle — the returned frame is itself backed by the
    final round's checkpoint, so eager deletion here would corrupt it.

    ``pairs`` is assumed distinct on (id_a, id_b) — every producer in this
    module ends with ``.distinct()`` — so the symmetrized edge set skips its
    own dedup shuffle. Duplicate edges would only add join rows under the
    per-node ``min()``, never corrupt the labels.

    Small-graph fast path: after the pair set is checkpointed, a
    ``limit(small_graph_edges + 1)`` probe (cheap at any scale — it stops
    reading at the threshold) decides whether the whole edge set fits the
    bound; if so, and no id is NULL, the components are computed
    driver-side with union-find in one pass — identical (id, min-id)
    labels, zero per-round Spark jobs. Near-dup edge sets are
    O(duplicates), not O(corpus), so this is the common case even for
    large corpora; past the bound the distributed loop runs unchanged. ``small_graph_edges=0`` disables
    the fast path (used by tests to pin the two paths equal).
    """
    sc = pairs.sparkSession.sparkContext
    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        # session-global state — restore the caller's dir on every exit
        # path (all checkpoints are taken eagerly inside the loop, so the
        # returned frame no longer needs the redirected setting)
        prev_ckpt_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.checkpoint(eager=eager)
    else:

        def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.localCheckpoint(eager=eager)

    try:
        return _dup_clusters_loop(
            _ckpt, pairs, max_iter, ptr_jump_after, small_graph_edges
        )
    finally:
        if prev_ckpt_dir is not None:
            sc.setCheckpointDir(prev_ckpt_dir)


def _dup_clusters_local(spark, edges, src_type) -> DataFrame:
    """Driver-side union-find over a bounded edge list — same
    (id, cluster_id = min id of component) contract as the distributed
    loop, exact for any id type with a total order."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    rows = []
    for ns in members.values():
        m = min(ns)
        rows.extend((n, m) for n in ns)
    # nullable=True to byte-match the distributed path's schema (labels
    # inherit the pair frame's nullability)
    schema = StructType(
        [
            StructField("id", src_type, True),
            StructField("cluster_id", src_type, True),
        ]
    )
    # pandas → Arrow path (session enables arrow.pyspark); a plain list
    # would take the pickled-RDD path and cost a Python job
    pdf = pd.DataFrame(rows, columns=["id", "cluster_id"])
    return spark.createDataFrame(pdf, schema=schema)


def _dup_clusters_loop(
    _ckpt, pairs, max_iter, ptr_jump_after, small_graph_edges=0
):
    # Materialize the PAIRS once, then derive both edge directions from the
    # checkpointed blocks: symmetrizing first would put the full upstream
    # pair-generation lineage (shingle → signature → band join for the
    # minhash producers) under BOTH union branches, computing it twice in
    # the edges job unless exchange reuse happens to fire. One checkpoint of
    # the half-size pair set + a cheap in-memory union is strictly less
    # work, and every round's plan compiles against a flat scan.
    half = _ckpt(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    if small_graph_edges > 0:
        probe = half.limit(small_graph_edges + 1).collect()
        # a NULL id has no order for Python's min(); the loop handles it
        nulls = any(r.src is None or r.dst is None for r in probe)
        if len(probe) <= small_graph_edges and not nulls:
            return _dup_clusters_local(
                pairs.sparkSession, probe, half.schema["src"].dataType
            )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = _ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    converged = False
    for rnd in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        cand = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.col("label").alias("__old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("__cand"),
        )
        if rnd >= ptr_jump_after:
            # pointer jump: adopt the label of my candidate label's node
            ptr = labels.select(
                F.col("id").alias("__pid"), F.col("label").alias("__plabel")
            )
            jumped = F.least(
                F.col("__cand"),
                F.coalesce(F.col("__plabel"), F.col("__cand")),
            )
            upd = cand.join(ptr, cand.__cand == ptr.__pid, "left")
        else:
            jumped = F.col("__cand")
            upd = cand
        new_labels = _ckpt(
            upd.select(
                "id",
                jumped.alias("label"),
                (jumped < F.col("__old")).cast("int").alias("__chg"),
            ),
            eager=False,
        )
        # ONE action: materializes the lazy checkpoint AND returns the
        # convergence flag from the same job.
        changed = new_labels.agg(F.max("__chg")).first()[0]
        labels = new_labels.drop("__chg")
        if not changed:
            converged = True
            break
    if not converged:
        # Silent non-convergence would return WRONG cluster ids (a chain
        # longer than the bound splits into several labels) — fail loudly;
        # the caller raises max_iter for pathological diameters.
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds the bound); raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def minhash_dedup_keep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-dup dedup with TRANSITIVE closure: verified pairs → connected
    components → keep the min-id representative of each cluster."""
    from pyspark.sql import functions as F

    pairs = minhash_dedup(df, text_col, id_col, num_hashes, bands, threshold)
    clusters = dup_clusters(pairs)
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def cluster_winners(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Argmax-score representative per duplicate component — the
    "keep best, not first" selection production dedup pipelines use
    (CCNet keeps the lowest-perplexity member, The Stack the
    highest-star file, near-dup web pipelines often the longest text).
    Tie-break: lowest id, so the choice is deterministic.

    Input: ``clusters`` = (id, cluster_id) from :func:`dup_clusters`;
    ``scored`` = any frame carrying (id_col, score_col), UNIQUE on
    id_col (same precondition as cap_rank — a duplicate id would fan
    out the join and inflate n_members) — only cluster members are
    looked up. Output: one row per component with
    (cluster_id, keep_id, n_members, best_score).

    Shape at scale: ``clusters`` is O(duplicate docs) ≪ corpus, and the
    score join is an inner join on id, so the corpus frame is pruned to
    two columns and filtered by the join before any shuffle. The window
    partitions by cluster_id — never global — and component sizes are
    already bounded upstream by the LSH ``max_bucket`` guard.
    """
    from pyspark.sql import Window

    j = clusters.join(
        scored.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("__s")
        ),
        "id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__s").desc(), F.col("id").asc()
    )
    sizes = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col("id").alias("keep_id"),
            F.col("__s").alias("best_score"),
        )
        .join(sizes, "cluster_id")
        .select("cluster_id", "keep_id", "n_members", "best_score")
    )


def minhash_dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """:func:`minhash_dedup_keep` variant keeping the argmax-``score_col``
    member of each component (tie: lowest id) instead of the min-id one.
    Same transitive-closure semantics; singletons always survive."""
    pairs = minhash_dedup(df, text_col, id_col, num_hashes, bands, threshold)
    clusters = dup_clusters(pairs)
    winners = cluster_winners(clusters, df, id_col, score_col)
    drop = (
        clusters.join(winners.select("cluster_id", "keep_id"), "cluster_id")
        .filter(F.col("id") != F.col("keep_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


# --- incremental dedup (continuous ingestion) -------------------------------------


def _norm_fingerprint(text_col: str):
    """The canonical normalized-text fingerprint (single definition in
    textstats.fingerprint_expr — a fork here would silently desync the
    history-index path from with_fingerprint), NULL-safe for join keys:
    NULL text fingerprints as the empty string, matching exact_dedup's
    concat_ws semantics — a NULL-text row must be DEDUPED, not silently
    dropped by a NULL-vs-NULL join miss."""
    from .textstats import fingerprint_expr

    return F.coalesce(
        fingerprint_expr(text_col),
        F.md5(F.lit("").cast("binary")),
    )


def incremental_dedup(
    new_df: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_fp_col: str | None = None,
    broadcast_hints: bool = True,
) -> DataFrame:
    """Exact dedup of an INCOMING batch against an existing corpus — the
    continuous-ingestion shape at 10¹²-doc scale: the corpus is never
    re-scanned per batch; instead its normalized-text FINGERPRINT index
    (~32 bytes/doc — store it as a table, append each accepted batch's
    fingerprints) is anti-joined against the small new batch.

    ``history`` is either a raw-text frame (fingerprints derived with the
    same normalization) or, the production path, a fingerprint table —
    name its column via ``history_fp_col``. Within-batch duplicates keep
    the min-id representative first, so the result is dup-free against
    BOTH the history and itself.

    Shape: one groupBy on the batch (small), then a two-step exclusion
    keeping the HISTORY map-side only — a naive ``batch LEFT ANTI
    history`` would make the huge history the hash-join BUILD side (Spark
    builds the right side of a left anti join) or shuffle-sort it:
    instead the batch's distinct fingerprints BROADCAST into a left_semi
    over the history (history streams, never shuffles; with the index
    bucketed/sorted on the fingerprint the scan also prunes), producing
    the ≤|batch| set of already-seen fingerprints, which then anti-joins
    the batch as a small broadcast.

    ``broadcast_hints=True`` (the default) presumes a BOUNDED batch —
    the micro-batch contract ``ingest_stream`` enforces via its default
    ``max_files_per_trigger``. A caller feeding an unbounded frame (a
    whole-backlog batch ingest, a backfill) must pass
    ``broadcast_hints=False``: the hard hint has no fallback, so an
    over-limit batch fails the job or OOMs the driver, whereas without
    the hint AQE picks broadcast from the OBSERVED post-dedup size when
    the batch really is small and degrades to a shuffle join — slower,
    alive — when it isn't (curation's no-hard-hint policy)."""
    fp = _norm_fingerprint(text_col)
    b = new_df.withColumn("__fp", fp)
    keep = b.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    batch = b.join(
        keep.withColumnRenamed(id_col, "__keep_id"), "__fp"
    ).filter(F.col(id_col) == F.col("__keep_id")).drop("__keep_id")
    if history_fp_col is not None:
        hist = history.select(F.col(history_fp_col).alias("__fp"))
    else:
        hist = history.select(_norm_fingerprint(text_col).alias("__fp"))
    maybe_bc = F.broadcast if broadcast_hints else (lambda d: d)
    seen = (
        hist.join(maybe_bc(batch.select("__fp")), "__fp", "left_semi")
        .distinct()
    )
    return batch.join(maybe_bc(seen), "__fp", "left_anti").drop("__fp")
