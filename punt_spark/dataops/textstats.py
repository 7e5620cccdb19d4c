"""Text analysis: language-ID, quality scoring, token counting, document
fingerprinting.

Everything scalar here is a native column expression (JVM, codegen); the
language-ID n-gram profile scorer is the one pandas UDF (vectorized
char-trigram profile match per Arrow batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# --- token counting -------------------------------------------------------------


def _ws_token_count(text_col: str):
    """Whitespace token count with the empty-split artifact removed:
    ``split(trim(''), '\\s+')`` yields [''] (one phantom token), so
    empty/whitespace-only text must filter empties to report 0 —
    consistent with every explode consumer in this module (which all
    filter t != '')."""
    return F.size(
        F.expr(f"filter(split(trim({text_col}), '\\\\s+'), t -> t != '')")
    )


# --- quality scoring --------------------------------------------------------------

STOPWORDS = "the|and|of|to|is|a|in|that|it|for"


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / uppercase signals + a composite
    score in [0,1]. All native expressions."""
    text = F.col(text_col)
    n_chars = F.length(text).cast("double")
    n_tokens = _ws_token_count(text_col).cast("double")
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[.,!?;:]"), 0)).cast("double")
    n_stop = F.size(
        F.regexp_extract_all(F.lower(text), F.lit(rf"\b({STOPWORDS})\b"), 0)
    ).cast("double")
    n_upper = F.size(F.regexp_extract_all(text, F.lit("[A-Z]"), 0)).cast("double")
    mean_tok_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))

    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0)
    upper_ratio = F.when(n_chars > 0, n_upper / n_chars).otherwise(0.0)
    length_ok = (n_chars >= 20) & (n_chars <= 100_000)
    tok_len_ok = (mean_tok_len >= 2.0) & (mean_tok_len <= 12.0)

    score = (
        F.when(length_ok, 0.3).otherwise(0.0)
        + F.when(tok_len_ok, 0.2).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.2).otherwise(0.0)
        + F.when(upper_ratio <= 0.3, 0.1).otherwise(0.0)
        + F.least(stop_ratio * 2.0, F.lit(0.2))
    )
    return (
        df.withColumn("punct_ratio", punct_ratio)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("upper_ratio", upper_ratio)
        .withColumn("mean_tok_len", mean_tok_len)
        .withColumn("quality_score", F.round(score, 4))
    )


# --- Gopher document-quality rules -------------------------------------------------

# Rae et al. 2021 ("Scaling Language Models: Methods, Analysis & Insights
# from Training Gopher", §A1.1): the canonical required-stopword list — a
# document must contain at least two DISTINCT words from it.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.80,
    min_stop_types: int = 2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1): per-document signals,
    one boolean per rule, and the conjunction ``gopher_pass``.

    Rules (paper defaults in the keyword args): word count in
    [min_words, max_words]; mean word length in [3, 10]; symbol-to-word
    ratio (``#`` or ``...``) ≤ 0.1; ≥ 80% of words contain an alphabetic
    character; ≥ 2 distinct required stopwords present. The line-level
    rules (bullet/ellipsis line fractions) need line structure the
    transcript-rendered corpus doesn't carry and are the caller's to add
    over a ``split(text, '\\n')`` column when it does.

    Shape at 100 TB: every signal is a per-row native expression (SQL-
    string lambdas per the sibling-lambda constraint — see CLAUDE.md);
    zero shuffles, survives any scale the scan survives. ``stopwords`` is
    parameterizable because the rule is corpus-language-bound — the
    Gopher list is English; a synthetic or non-English corpus supplies
    its own.
    """
    from .transcripts import _sql_str_literal

    words = f"filter(split(trim({text_col}), '\\\\s+'), w -> w != '')"
    stop_arr = "array(" + ", ".join(
        _sql_str_literal(s.lower()) for s in stopwords
    ) + ")"
    out = (
        df.withColumn("__w", F.expr(words))
        .withColumn("n_words", F.size("__w"))
        .withColumn(
            "__nonws",
            F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast(
                "double"
            ),
        )
        .withColumn(
            "mean_word_len",
            F.round(
                F.when(
                    F.col("n_words") > 0, F.col("__nonws") / F.col("n_words")
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .withColumn(
            "symbol_ratio",
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    F.size(
                        F.regexp_extract_all(
                            F.col(text_col), F.lit(r"(#|\.\.\.)"), 0
                        )
                    ).cast("double")
                    / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .withColumn(
            "alpha_frac",
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    F.expr(
                        "size(filter(__w, w -> w rlike '[A-Za-z]'))"
                    ).cast("double")
                    / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .withColumn(
            "n_stop_types",
            F.expr(
                f"size(filter({stop_arr},"
                " s -> exists(__w, w -> lower(w) = s)))"
            ),
        )
    )
    words_ok = (F.col("n_words") >= min_words) & (
        F.col("n_words") <= max_words
    )
    mwl_ok = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    symbol_ok = F.col("symbol_ratio") <= max_symbol_ratio
    alpha_ok = F.col("alpha_frac") >= min_alpha_frac
    stop_ok = F.col("n_stop_types") >= min_stop_types
    return (
        out.withColumn("words_ok", words_ok)
        .withColumn("mean_word_len_ok", mwl_ok)
        .withColumn("symbol_ok", symbol_ok)
        .withColumn("alpha_ok", alpha_ok)
        .withColumn("stop_ok", stop_ok)
        .withColumn(
            "gopher_pass",
            words_ok & mwl_ok & symbol_ok & alpha_ok & stop_ok,
        )
        .drop("__w", "__nonws")
    )


# Gopher Table A1 repetition thresholds (Rae et al. 2021): a document
# fails if the top n-gram covers too much of it, or too much of it sits
# inside n-grams that occur more than once.
GOPHER_TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESHOLDS = {
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
}


# Token-count crossover between gopher_repetition's direct O(G²) count
# branch and its O(G log G) sorted-runs branch: below ~128 the
# allocation-free compares win, above it the sort does (measured
# 50-token docs 0.83 vs 1.02 s and 1000-token docs 13.0 vs 4.1 s — see
# the docstring).
_GOPHER_SORT_CUTOVER = 128


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    top_thresholds: dict[int, float] | None = None,
    dup_thresholds: dict[int, float] | None = None,
    max_tokens: int = 2048,
    sort_cutover: int | None = _GOPHER_SORT_CUTOVER,
) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 Table A1), token-char
    basis: for each n in ``top_ns``, ``top_{n}gram_char_frac`` = (top
    n-gram's occurrence count × its token chars) / total token chars
    (ties on count break to the longest gram — deterministic in both
    engines via a count·10⁶+len integer code); for each n in ``dup_ns``,
    ``dup_{n}gram_char_frac`` = chars of token POSITIONS covered by at
    least one n-gram occurring ≥2 times in the doc (a position union,
    not a per-occurrence sum — overlapping duplicates aren't double-
    counted) / total token chars. ``repetition_pass`` is the conjunction
    of every signal ≤ its paper threshold. The paper's line/paragraph
    duplicate rules need line structure this corpus doesn't carry (same
    scope note as gopher_rules).

    Shape at 100 TB: everything is per-row SQL-lambda work — zero
    shuffles. The within-row gram counting is a COST HYBRID split at
    the PLAN level (identical outputs either way): rows with ≤
    ``_GOPHER_SORT_CUTOVER`` tokens go through the direct
    ``filter``-per-position count branch — O(G²) compares but no
    allocation, fastest for short docs — while longer rows take a
    branch that does ONE ``array_sort`` of (gram, position) structs per
    n and reads counts and duplicate flags off adjacent run elements in
    O(G log G). The two branches are separate filters unioned back
    together (NOT one per-row CASE: carrying both expression trees in
    every column measured +0.4 s analysis/codegen on the short-doc
    fixture), so each branch's plan is exactly one formulation.
    Measured: ~50-token docs 0.83 s count-only vs 1.02 s sort-only;
    1000-token docs 13.0 s count-only vs 4.1 s sort-only — the r6
    count-only formulation was the documented wall-clock cliff toward
    ``max_tokens``-length rows (ADVICE r6). ``sort_cutover=None`` picks
    the single count-only plan for corpora KNOWN short (the second
    branch costs constant analysis/codegen); outputs are identical in
    every mode. The dup coverage stays
    O(T·n); ``max_tokens`` still truncates pathological rows (the
    standard quality-filter guard; signals are then over the prefix).
    For corpora where full-document coverage matters at book length,
    the linear alternative is the explode → per-(doc, gram) count
    shape of ``trim_repeated_spans``.
    """
    top_thresholds = (
        GOPHER_TOP_NGRAM_THRESHOLDS if top_thresholds is None
        else top_thresholds
    )
    dup_thresholds = (
        GOPHER_DUP_NGRAM_THRESHOLDS if dup_thresholds is None
        else dup_thresholds
    )
    toks = (
        f"slice(filter(split(lower(trim({text_col})), '\\\\s+'),"
        f" t -> t != ''), 1, {max_tokens})"
    )
    all_ns = sorted(set(top_ns) | set(dup_ns))

    def signals(frame: DataFrame, use_sort: bool) -> DataFrame:
        out = frame.withColumn("__rt", F.expr(toks)).withColumn(
            "__rl", F.expr("transform(__rt, t -> length(t))")
        ).withColumn(
            "__rtotal", F.expr("aggregate(__rl, 0, (a, x) -> a + x)")
        )
        cols = ["__rt", "__rl", "__rtotal"]
        for n in all_ns:
            out = out.withColumn(
                f"__g{n}",
                F.expr(
                    f"CASE WHEN size(__rt) >= {n} THEN"
                    f" transform(sequence(1, size(__rt) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(__rt, i, {n})))"
                    " ELSE array() END"
                ),
            )
            cols.append(f"__g{n}")
            if use_sort:
                # ONE sort of (gram, original position) structs — runs
                # of equal grams are adjacent, so counts and duplicate
                # flags read off neighbors in O(G log G).
                # try_element_at is the ANSI-safe neighbor access
                # (out-of-range → NULL, and greatest() keeps the index
                # ≥ 1 even on the unevaluated side of a
                # non-short-circuit AND).
                out = out.withColumn(
                    f"__spp{n}",
                    F.expr(
                        f"array_sort(transform(__g{n},"
                        " (x, i) -> struct(x AS g, i AS p)))"
                    ),
                )
                cols.append(f"__spp{n}")
            else:
                # direct per-position occurrence counts: O(G²) compares
                # but zero allocation — fastest under the cutover
                out = out.withColumn(
                    f"__c{n}",
                    F.expr(
                        f"transform(__g{n},"
                        f" x -> size(filter(__g{n}, h -> h = x)))"
                    ),
                )
                cols.append(f"__c{n}")
        flags = []
        for n in top_ns:
            # bigint arithmetic: int32 would ANSI-overflow-kill the
            # task at count·10⁶ + len ≥ 2³¹ (a ~100M-char gram at count
            # 2048 — absurd but a crash, not a wrong answer, so cheap
            # to rule out). Sort branch: max over RUNS of count·10⁶+len
            # equals the count branch's max over positions — every
            # position carries its run's (count, len).
            if use_sort:
                heads = (
                    f"filter(transform(__spp{n}, (s, k) -> CASE WHEN"
                    " k = 0 OR s.g !="
                    f" try_element_at(__spp{n}, greatest(k, 1)).g"
                    " THEN k ELSE -1 END), x -> x >= 0)"
                )
                out = out.withColumn(f"__h{n}", F.expr(heads))
                cols.append(f"__h{n}")
                bnd = f"concat(__h{n}, array(size(__spp{n})))"
                code = (
                    f"array_max(zip_with(slice({bnd}, 1, size(__h{n})),"
                    f" slice({bnd}, 2, size(__h{n})),"
                    f" (a, b) -> cast(b - a AS bigint) * 1000000"
                    f" + length(try_element_at(__spp{n}, a + 1).g)))"
                )
            else:
                code = (
                    f"array_max(zip_with(__c{n}, __g{n},"
                    " (c, x) -> cast(c AS bigint) * 1000000 + length(x)))"
                )
            frac = (
                f"CASE WHEN size(__g{n}) > 0 AND __rtotal > 0 THEN"
                f" round(CAST(({code} div 1000000)"
                f" * (({code}) % 1000000 - {n - 1}) AS DOUBLE)"
                " / __rtotal, 4) ELSE 0.0 END"
            )
            name = f"top_{n}gram_char_frac"
            out = out.withColumn(name, F.expr(frac))
            flags.append(F.col(name) <= top_thresholds[n])
        for n in dup_ns:
            # duplicate flag per gram position = its gram occurs ≥ 2
            # times: the count branch reads the counts; the sort branch
            # uses sorted adjacency (count ≥ 2 ⇔ an equal-gram neighbor
            # exists) scattered back to original positions via a second
            # (position, flag) sort — identical flags either way.
            if use_sort:
                fcol = (
                    f"transform(array_sort(transform(__spp{n},"
                    " (s, k) -> struct(s.p AS p, CASE WHEN"
                    " (k > 0 AND s.g ="
                    f" try_element_at(__spp{n}, greatest(k, 1)).g)"
                    f" OR s.g = try_element_at(__spp{n}, k + 2).g"
                    " THEN 1 ELSE 0 END AS f))), s -> s.f)"
                )
            else:
                fcol = (
                    f"transform(__c{n},"
                    " c -> CASE WHEN c >= 2 THEN 1 ELSE 0 END)"
                )
            out = out.withColumn(f"__f{n}", F.expr(fcol))
            cols.append(f"__f{n}")
            covered = (
                "aggregate(transform(sequence(1, size(__rt)), j ->"
                f" CASE WHEN aggregate(slice(__f{n},"
                f" greatest(1, j - {n - 1}),"
                f" least(j, size(__f{n})) - greatest(1, j - {n - 1}) + 1),"
                " 0, (b, y) -> b + y) > 0"
                " THEN element_at(__rl, j) ELSE 0 END), 0, (a, x) -> a + x)"
            )
            frac = (
                f"CASE WHEN size(__g{n}) > 0 AND __rtotal > 0 THEN"
                f" round(CAST({covered} AS DOUBLE) / __rtotal, 4)"
                " ELSE 0.0 END"
            )
            name = f"dup_{n}gram_char_frac"
            out = out.withColumn(name, F.expr(frac))
            flags.append(F.col(name) <= dup_thresholds[n])
        gate = flags[0]
        for fl in flags[1:]:
            gate = gate & fl
        return out.withColumn("repetition_pass", gate).drop(*cols)

    # ``sort_cutover=None``: single count-only plan — for corpora KNOWN
    # to be short-doc (the union's second branch plus its filter pair
    # costs a constant ~0.3-0.5 s of analysis/codegen per call, pure
    # waste when no row can cross the cutover). Outputs are identical
    # either way; this only picks the plan.
    if sort_cutover is None:
        return signals(df, False)
    # plan-level split: coalesce() keeps NULL-text rows (size → NULL) in
    # the count branch, so the two filters are exact complements and no
    # row is lost or duplicated
    short = F.expr(f"coalesce(size({toks}) <= {sort_cutover}, true)")
    return signals(df.filter(short), False).unionByName(
        signals(df.filter(~short), True)
    )


# --- PII redaction ---------------------------------------------------------------

# Conservative patterns valid in both Java regex (Spark) and RE2-style
# (DuckDB oracle) dialects — the parity constraint matters more than
# exhaustiveness here; production would extend the pattern bank.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    (r"\b\d{13,19}\b", "<CARD>"),
]


def redact_pii(df: DataFrame, text_col: str = "text", out: str = "redacted") -> DataFrame:
    """Scrub common PII shapes (email, IPv4, NANP phone, long card-like
    digit runs) with typed placeholders — the standard pre-training scrub
    pass. Chained native regexp_replace: JVM-side, codegen, zero Python."""
    col = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out, col)


# --- repetition scoring ------------------------------------------------------------


def with_repetition(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Within-document repetition signal (the Gopher-style repetition
    filter): fraction of duplicate word n-grams. 0 = all n-grams distinct;
    → 1 for degenerate loops. Per-row array exprs, zero shuffles; the
    token split is materialized once (dedup.with_shingles), not inlined
    per reference."""
    from .dedup import with_shingles

    d = with_shingles(df, text_col, n, out="__g")
    total = F.size("__g").cast("double")
    distinct = F.size(F.array_distinct("__g")).cast("double")
    rep = F.when(total > 0, F.round(1.0 - distinct / total, 4)).otherwise(
        F.lit(0.0)
    )
    return d.withColumn("rep_ratio", rep).drop("__g")


# --- language-ID --------------------------------------------------------------------

# Tiny char-trigram profiles (illustrative, deterministic). Real profiles
# would be learned; the Spark plumbing (vectorized scoring per batch) is the
# production-shaped part.
_LANG_PROFILES: dict[str, list[str]] = {
    "en": [" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "],
    "de": ["er ", "en ", " de", "der", "ie ", "ich", "sch", " un", "und", "ch "],
    "fr": [" de", "es ", "de ", " le", "le ", "ent", " la", "la ", "ion", "que"],
    "es": [" de", "de ", "os ", " la", "la ", "as ", "el ", " el", "ión", "que"],
}


def make_lang_id_udf(profiles: dict[str, list[str]] | None = None):
    import re

    profiles = profiles or _LANG_PROFILES
    langs = sorted(profiles)
    escaped = {
        lang: [re.escape(tri) for tri in tris]
        for lang, tris in profiles.items()
    }

    @pandas_udf("string")
    def lang_id(texts: pd.Series) -> pd.Series:
        low = texts.fillna("").str.lower()
        scores = np.zeros((len(low), len(langs)), dtype=np.int64)
        for j, lang in enumerate(langs):
            for tri in escaped[lang]:
                scores[:, j] += low.str.count(tri).to_numpy()
        best = scores.argmax(axis=1)
        has_any = scores.max(axis=1) > 0
        out = np.where(has_any, np.array(langs, dtype=object)[best], "und")
        return pd.Series(out)

    return lang_id


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", make_lang_id_udf()(F.col(text_col)))


# --- fingerprinting -----------------------------------------------------------------


def fingerprint_expr(text_col: str = "text"):
    """md5 of whitespace-normalized lowercase text — THE canonical exact
    near-normalization dedup key; every consumer (with_fingerprint,
    dedup.incremental_dedup, the oracle SQL) derives from this one
    expression so the normalization can never silently fork."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return F.md5(norm.cast("binary"))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two fingerprints: md5 of whitespace-normalized lowercase text (exact
    near-normalization dedup key) and a 64-bit xxhash (cheap join key)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.withColumn("fingerprint_md5", fingerprint_expr(text_col)).withColumn(
        "fingerprint_x64", F.xxhash64(norm)
    )


# --- corpus-level informativeness (IDF) ------------------------------------------


def with_idf_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "idf_score",
) -> DataFrame:
    """Mean inverse-document-frequency of a document's distinct tokens — a
    corpus-level informativeness signal (boilerplate-heavy documents score
    low because their tokens appear everywhere; documents made of rare
    vocabulary score high). idf(t) = ln(N / df(t)); score = mean over the
    document's DISTINCT tokens; empty documents score 0.

    Shape at scale: the exploded-token subtree feeds BOTH the
    document-frequency groupBy (map-side combined — cardinality is the
    vocabulary, not the corpus) and the join-back stream, and the final
    left join scans the original frame — Spark shares no subplans, so
    this is two tokenize+explode passes plus one plain scan of the
    corpus per call (persisting the exploded frame to trade storage of
    corpus×tokens rows for one pass is usually the worse trade; callers
    that disagree can persist the input and accept the explode CPU
    twice). No window over the corpus, no driver-side vocabulary. N
    (corpus doc count, INCLUDING empty docs) rides the same plan as a
    broadcast 1-row aggregate — no eager count() job."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            )
        ).alias("__tok"),
    )
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    dfreq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    scores = (
        toks.join(dfreq, "__tok")
        .crossJoin(F.broadcast(n_docs))
        .groupBy(id_col)
        .agg(F.avg(F.log(F.col("__n_docs") / F.col("__df"))).alias(out))
    )
    return df.join(scores, id_col, "left").withColumn(
        out, F.coalesce(F.col(out), F.lit(0.0))
    )


def with_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "bigram_logprob",
    alpha: float = 1.0,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram log-probability. Default (``train_df``
    None): under the corpus's OWN bigram model — the perplexity-filter
    analog that needs no external LM (KenLM-style filtering trains on a
    reference corpus; self-perplexity flags the same outliers:
    templated/shuffled/garbage text scores far from the corpus mode).
    With ``train_df``: the CCNet setup proper (Wenzek et al. 2020 train
    the LM on Wikipedia and score the crawl) — counts and vocabulary
    come from the reference corpus, and n-grams UNSEEN in it take the
    smoothing floor p = alpha/(c(w1)+alpha·V) via left joins instead of
    being dropped from the average (an inner join would silently score
    out-of-domain text as if its unseen bigrams never happened).
    Add-``alpha`` smoothing over the unigram vocabulary:
    p(w2|w1) = (c(w1 w2) + alpha) / (c(w1) + alpha·V).

    Shape at scale: the bigram-explode subtree feeds the two count tables
    (bigram + unigram, both vocabulary-bounded, map-side combined) AND
    the join-back stream, plus the vocabulary aggregate and the final
    left join — Spark shares no subplans, so the corpus tokenizes ~4
    times per call (the same persist-vs-recompute trade as
    ``with_idf_score``: storing the exploded bigram stream usually costs
    more than re-deriving it; persist the INPUT frame upstream if the
    scan itself dominates). Documents with < 2 tokens score 0. V (unigram
    vocabulary size over ALL tokens, 1-token docs included) rides the
    plan as a broadcast 1-row aggregate — no eager distinct().count()
    job over the corpus.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )
    d = df.withColumn("__toks", toks)
    bigrams = d.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                "CASE WHEN size(__toks) >= 2 THEN "
                "transform(sequence(1, size(__toks) - 1),"
                " i -> struct(__toks[i-1] AS w1, __toks[i] AS w2)) "
                "ELSE array() END"
            )
        ).alias("__pos", "__bg"),
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    if train_df is None:
        # self mode: every scored bigram exists in the count tables by
        # construction, so the joins stay inner (tightest plan)
        train_bigrams, vocab_src, how = bigrams, d, "inner"
    else:
        t = train_df.withColumn("__toks", toks)
        train_bigrams = t.select(
            F.posexplode(
                F.expr(
                    "CASE WHEN size(__toks) >= 2 THEN "
                    "transform(sequence(1, size(__toks) - 1),"
                    " i -> struct(__toks[i-1] AS w1, __toks[i] AS w2)) "
                    "ELSE array() END"
                )
            ).alias("__pos", "__bg")
        ).select(F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
        vocab_src, how = t, "left"
    bg_counts = train_bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    uni_counts = train_bigrams.groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    vocab = vocab_src.select(F.explode("__toks").alias("w")).agg(
        F.count_distinct(F.col("w")).cast("double").alias("__v")
    )
    scored = (
        bigrams.join(bg_counts, ["w1", "w2"], how)
        .join(uni_counts, "w1", how)
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.avg(
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
                    / (
                        F.coalesce(F.col("c1"), F.lit(0))
                        + F.lit(alpha) * F.col("__v")
                    )
                )
            ).alias(out)
        )
    )
    return (
        df.join(scored, id_col, "left")
        .withColumn(out, F.coalesce(F.col(out), F.lit(0.0)))
    )


def score_buckets(
    df: DataFrame,
    score_col: str,
    cuts: tuple = (1.0 / 3, 2.0 / 3),
    labels: tuple = ("tail", "middle", "head"),
    out: str = "bucket",
    exact: bool = False,
) -> DataFrame:
    """CCNet-style quality tiers (Wenzek et al. 2020): label each row by
    which corpus-level quantile band its score falls in — with a
    perplexity-shaped score (higher = more fluent, e.g.
    ``with_bigram_logprob``) the classic head/middle/tail split, where
    "head" is the most reference-like third that curation keeps first.

    The cut values are ONE quantile aggregate over the corpus, broadcast
    back as a 1-row frame — labelling itself is map-side, no shuffle, no
    window. ``exact=False`` (default, the 100 TB path) uses
    ``approx_percentile`` — a proper distributed sketch; ``exact=True``
    uses the exact ``percentile`` aggregate, which concentrates the
    value multiset on the final reducer — gate/test use only, where the
    oracle must replay the identical cut. Rows below ``cuts[i]`` get
    ``labels[i]``; the remainder gets ``labels[-1]``; NULL scores stay
    NULL (an unscored row must not silently count as top-tier).

    Cross-engine determinism note for oracle use: feed ROUNDED scores
    (e.g. 4dp) — identical score multisets give both engines the same
    grid-valued inputs, and an interpolated cut strictly between two
    distinct grid points sits ≥ grid/3 away from any score, so the
    band comparisons can't flip on float ulps."""
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need len(cuts)+1 labels, got {len(cuts)} cuts / "
            f"{len(labels)} labels"
        )
    fn = "percentile" if exact else "approx_percentile"
    cut_list = ", ".join(repr(float(c)) for c in cuts)
    qs = df.agg(
        F.expr(f"{fn}({score_col}, array({cut_list}))").alias("__cuts")
    )
    col = F.col(score_col)
    label = F.when(col < F.col("__cuts")[0], F.lit(labels[0]))
    for i in range(1, len(cuts)):
        label = label.when(col < F.col("__cuts")[i], F.lit(labels[i]))
    label = label.otherwise(F.lit(labels[-1]))
    return (
        df.crossJoin(F.broadcast(qs))
        .withColumn(
            out,
            F.when(col.isNull(), F.lit(None).cast("string")).otherwise(label),
        )
        .drop("__cuts")
    )


# --- vocabulary statistics (tokenizer-training input) -----------------------------


def token_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary table: (token, count, doc_freq) — term frequency
    and document frequency per whitespace token. This is the input relation
    of tokenizer training (BPE merges start from exactly this table) and of
    stopword/heavy-hitter analysis.

    Shape at scale: one explode + one map-side-combined groupBy; output is
    vocabulary-sized. Top-k consumers should ``orderBy(...).limit(k)`` so
    Spark plans TakeOrderedAndProject (distributed top-k, no global sort).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("count"),
        F.countDistinct(id_col).alias("doc_freq"),
    )


# --- document chunking (long-doc windowing for training) --------------------------


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into ``max_tokens``-token windows with
    ``overlap`` tokens of context carried between consecutive chunks —
    the standard long-document treatment when the model context is
    shorter than the document (each chunk becomes its own training row;
    the overlap preserves cross-boundary context).

    Output: one row per chunk — (input cols…, chunk_idx, chunk_text,
    n_chunk_tokens). Empty/whitespace docs emit ZERO chunks; a doc with
    ≤ max_tokens tokens emits exactly one. Deterministic and
    partitioning-independent: chunk boundaries are pure functions of the
    token sequence. Shape at scale: per-row array exprs + one explode —
    zero shuffles."""
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}"
        )
    step = max_tokens - overlap
    d = df.withColumn(
        "__toks",
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
        ),
    )
    # chunk start offsets 0, step, 2·step, … < n_tokens; a trailing start
    # whose whole window sits inside the previous chunk's overlap (s > 0
    # and s + overlap >= n) adds no new tokens and is dropped — matching
    # the standard emit-then-break chunking loop
    chunks = F.expr(
        f"CASE WHEN size(__toks) = 0 THEN array() "
        f"ELSE transform("
        f"  filter(sequence(0, size(__toks) - 1, {step}),"
        f"         s -> s = 0 OR s + {overlap} < size(__toks)),"
        f" s -> struct(array_join(slice(__toks, s + 1, {max_tokens}), ' ')"
        f" AS chunk_text,"
        f" size(slice(__toks, s + 1, {max_tokens})) AS n_chunk_tokens)) END"
    )
    return (
        d.withColumn("__chunks", chunks)
        .select(
            *[c for c in df.columns],
            F.posexplode("__chunks").alias("chunk_idx", "__c"),
        )
        .select(
            *[c for c in df.columns],
            "chunk_idx",
            F.col("__c.chunk_text"),
            F.col("__c.n_chunk_tokens"),
        )
    )


# --- text normalization (pre-dedup canonicalization) ------------------------------


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out: str = "norm_text",
    lowercase: bool = False,
    nfc: bool = False,
) -> DataFrame:
    """Canonicalize text before fingerprinting/dedup — the cheap
    normalization pass that makes byte-level dedup keys meaningful across
    crawl sources:

    * strip C0/C1 control characters (except \\t \\n) and zero-width
      characters (ZWSP/ZWNJ/ZWJ/BOM),
    * collapse all whitespace runs (incl. NBSP) to one space,
    * trim; optional lowercasing,
    * optional Unicode NFC composition (``nfc=True``).

    The default path is all chained native regexp_replace — JVM-side,
    zero shuffles, same pattern bank replayable in the DuckDB oracle
    (RE2-safe classes). NFC is OFF by default because Spark has no
    built-in normalizer, so it runs as an Arrow-batched pandas UDF
    (stdlib ``unicodedata``) — vectorized per batch, but still the one
    Python hop in an otherwise JVM-only pass; enable it only when the
    crawl genuinely mixes composed/decomposed forms (a decomposed
    ``e +  ́`` otherwise fingerprints differently from the composed
    ``é``). It runs FIRST so the regex bank sees composed code points."""
    col = F.col(text_col)
    if nfc:
        @pandas_udf("string")
        def _nfc(s: pd.Series) -> pd.Series:
            import unicodedata

            return s.map(
                lambda t: unicodedata.normalize("NFC", t)
                if t is not None
                else None
            )

        col = _nfc(col)
    # control chars (keep \t \n for now — the whitespace collapse below
    # folds them anyway) + zero-width/bom
    col = F.regexp_replace(
        col, "[\\x00-\\x08\\x0B-\\x1F\\x7F\\x80-\\x9F]", ""
    )
    col = F.regexp_replace(col, "[\\u200B\\u200C\\u200D\\uFEFF]", "")
    col = F.regexp_replace(col, "[\\s\\u00A0]+", " ")
    col = F.trim(col)
    if lowercase:
        col = F.lower(col)
    return df.withColumn(out, col)
