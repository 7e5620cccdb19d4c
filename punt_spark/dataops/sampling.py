"""Deterministic sampling & splitting for training-data pipelines.

Engine-RNG sampling (``df.sample``) is irreproducible across engines and
re-runs with different partitioning; these ops derive every decision from
a content hash instead — the split/sample of a row is a pure function of
(id, salt), so re-runs, backfills and cross-engine oracles agree exactly.

The hash bucket is the first 8 hex chars of md5 (the Spark/DuckDB-shared
deterministic hash) → uniform 32-bit int → modulo buckets. All native
column expressions: JVM-side, codegen, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 10_000


def round_signed(col: Column, dp: int) -> Column:
    """``round()`` with DuckDB's DOUBLE signed-zero behavior: a value with
    the sign bit set that rounds to zero — a negative value or an exact
    ``-0.0`` — yields ``-0.0`` (Spark's round drops the sign bit; DuckDB's
    keeps it — r6 failed semantic_dedup's byte-level hash gate on exactly
    a (-0.005, 0) input). The sign bit is read from the string form
    because ``col < 0.0`` is false for -0.0; the cast only runs on rows
    that round to zero. Use this on every rounded float OUTPUT column
    whose raw value can be negative; keep plain ``F.round`` for values
    used in internal sorts/comparisons (engines normalize ±0.0
    inconsistently inside compare paths)."""
    r = F.round(col, dp)
    negative = col.cast("string").startswith("-")
    return F.when((r == 0.0) & negative, F.lit(-0.0)).otherwise(r)


def salted_md5(id_col: str, salt: str) -> Column:
    """THE canonical salted content hash every deterministic keying op
    derives from (hash_bucket, cap_rank, packing's shard/order): md5 over
    salt || id, with NULL ids hashing as the literal sentinel "\x00null"
    (md5 of NULL would propagate NULL and silently drop/misroute every
    null-id row). One definition — the DuckDB oracles replay this exact
    formula, and any fork would silently desync keep/drop/shard decisions
    across operators and engines."""
    id_str = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00null"))
    return F.md5(F.concat(F.lit(salt), id_str).cast("binary"))


def bucket_of(id_expr: Column, salt: str, buckets: int = BUCKETS) -> Column:
    """Bucket from an arbitrary (already NULL-safe) identity COLUMN — the
    md5 → conv(substr, 16, 10) → mod core shared by ``hash_bucket`` and
    tail's row sampler, kept in one place for the same no-fork reason as
    ``salted_md5``."""
    h = F.md5(F.concat(F.lit(salt), id_expr).cast("binary"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets


def hash_bucket(
    id_col: str, salt: str = "", buckets: int = BUCKETS
) -> Column:
    """Uniform deterministic bucket in [0, buckets) from md5(salt || id).

    NULL ids hash as the literal sentinel "\\x00null" (md5 of NULL would
    propagate NULL, silently dumping every null-id row into the
    `otherwise` split / dropping it from samples — the exact skew a
    deterministic splitter must not have). All null-id rows share one
    bucket by construction: a deterministic function of the id cannot
    distribute identical ids."""
    id_str = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00null"))
    return bucket_of(id_str, salt, buckets)


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    buckets: int = BUCKETS,
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split: every row gets a stable label
    from its id hash; fractions must sum to ≤ 1 (any remainder labels the
    last split). Re-running, re-partitioning, or recomputing downstream
    never moves a row across splits — the property that keeps eval sets
    uncontaminated across pipeline versions."""
    for name, frac in fractions.items():
        if not 0 < frac <= 1.0:
            raise ValueError(
                f"fractions must each be in (0, 1]: {name!r} = {frac}"
            )
    total = sum(fractions.values())
    if not 0 < total <= 1.0 + 1e-9:
        raise ValueError(f"fractions must sum to (0, 1], got {total}")
    b = hash_bucket(id_col, salt, buckets)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = b < int(round(cum * buckets))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = F.lit(names[-1])
    out_col = last if expr is None else expr.otherwise(last)
    return df.withColumn(out, out_col)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
    buckets: int = BUCKETS,
) -> DataFrame:
    """Deterministic stratified (per-stratum-rate) sampling — the domain
    re-weighting pass of a training mixture. ``rates`` maps stratum value →
    keep fraction; unlisted strata keep ``default_rate``. The keep decision
    is a pure function of (id, salt): independent of partitioning,
    repeatable, and the same rows survive a backfill."""
    for value, rate in {**rates, "<default_rate>": default_rate}.items():
        if not 0.0 <= rate <= 1.0:
            # a typo like 30 instead of 0.30 would silently keep 100%
            raise ValueError(
                f"rates must be in [0, 1]: {value!r} = {rate}"
            )
    b = hash_bucket(id_col, salt, buckets)
    thresh = None
    for value, rate in rates.items():
        cond = F.col(stratum_col) == value
        t = F.lit(int(round(rate * buckets)))
        thresh = (
            F.when(cond, t) if thresh is None else thresh.when(cond, t)
        )
    default_t = F.lit(int(round(default_rate * buckets)))
    thresh = default_t if thresh is None else thresh.otherwise(default_t)
    return df.filter(b < thresh)


def temperature_resample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
    salt: str = "mix",
    buckets: int = BUCKETS,
) -> DataFrame:
    """Temperature-based mixture resampling — the standard data-mixing
    move for multi-source training corpora: sample source ``s`` with
    weight ∝ n_s^α, flattening the natural size distribution (α=1 keeps
    the natural mixture, i.e. every source keeps ``target_frac``; α=0
    targets a uniform mixture over sources; 0<α<1 up-weights rare
    sources relative to dominant ones, the usual multilingual/domain
    rebalancing curve).

    Per-source keep rate: p_s = min(1, target_frac · N · w_s / n_s) with
    w_s = n_s^α / Σ n_s^α — expected kept total ≈ target_frac · N, with
    rare sources capped at keeping everything (p_s = 1) rather than
    upsampled (no row duplication; a true upsampler is a different op).
    The per-row decision is the canonical md5 bucket of (salt, id) —
    deterministic, partitioning-independent, DuckDB-replayable, the same
    no-engine-RNG contract as every sampler here. NULL sources group and
    join via the same "\\x00null" sentinel as ``hash_bucket`` (a
    null-unsafe join would silently drop every NULL-source row).

    Shape at 100 TB: one map-side-combinable groupBy on source for the
    counts, a 1-row broadcast for the normalizer, a join of the per-source
    rate frame back onto the corpus (one row per source — AQE broadcasts
    it when small, shuffles when a web-scale domain list isn't; no hard
    hint, per the curation policy), then a native filter. No window, no
    global sort, no Python.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    if not 0.0 < target_frac <= 1.0:
        raise ValueError(f"target_frac must be in (0, 1], got {target_frac}")
    skey = F.coalesce(F.col(source_col).cast("string"), F.lit("\x00null"))
    counts = (
        df.select(skey.alias("__sk"))
        .groupBy("__sk")
        .agg(F.count(F.lit(1)).cast("double").alias("__n"))
    )
    norm = counts.agg(
        F.sum(F.pow(F.col("__n"), F.lit(alpha))).alias("__z"),
        F.sum("__n").alias("__N"),
    )
    # DataFrame-qualified refs: norm derives FROM counts, and in that
    # self-join shape Spark 4 reports even a uniquely-named column as
    # AMBIGUOUS_REFERENCE when addressed by bare name
    rates = counts.crossJoin(F.broadcast(norm)).select(
        counts["__sk"],
        F.least(
            F.lit(1.0),
            F.lit(target_frac)
            * norm["__N"]
            * F.pow(counts["__n"], F.lit(alpha))
            / norm["__z"]
            / counts["__n"],
        ).alias("__p"),
    )
    b = hash_bucket(id_col, salt, buckets)
    # threshold is ROUNDED to an integer bucket count on both engines:
    # JVM Math.pow and DuckDB's libm pow are each within 1 ulp but not
    # guaranteed bit-identical, and ulp dust on p·buckets sits exactly at
    # the integer boundaries the bucket comparison reads — round() (half-
    # up == half-away for positives, so both engines agree) collapses
    # that dust; nothing structural lands at half-integers
    return (
        df.withColumn("__sk", skey)
        .join(rates, "__sk")
        .filter(b < F.round(F.col("__p") * buckets))
        .drop("__sk", "__p")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per ``group_col`` value — the per-domain
    cap of crawl curation (one hot domain must not dominate the training
    mixture). Which rows survive is deterministic: rank within the group by
    (md5(salt || id), id), a stable pseudo-random preference independent of
    partitioning and re-runs, so backfills keep the same rows.

    Shape at scale: one shuffle on ``group_col`` + a partitioned window —
    never a global sort. A pathologically hot group (10⁹ docs on one
    domain) lands on one task; the fix at that extreme is a two-level
    min-k (rank within (group, salt-bucket), take cap per bucket, re-rank
    the S×cap survivors), which composes exactly because min-k of a union
    is min-k of per-bucket min-k's.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    return (
        df.withColumn("__rn", cap_rank(group_col, id_col, salt))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def cap_rank(
    group_col: str,
    id_col: str,
    salt: str = "cap",
    also_partition_by: Column | None = None,
) -> Column:
    """THE canonical per-group survivor rank used by ``cap_per_group``:
    row_number within ``group_col`` ordered by (md5(salt || id), id).
    Single definition — any consumer deriving the complementary DROP set
    (curation's audit trail) must rank identically or keep/drop silently
    desync; the DuckDB oracles replay this formula.

    Precondition: ids are UNIQUE within a group (the universal contract of
    these tables). Duplicate or multiple-NULL ids tie on BOTH ordering
    keys, and row_number over a full tie is partition-order-dependent —
    two separately-planned jobs (keep set vs drop set) could then resolve
    the tie differently. With unique ids every rank is total and the
    keep/drop complement is exact.

    ``also_partition_by`` adds an eligibility column to the window
    partition (same ordering formula): rows sharing the group but flagged
    ineligible rank among themselves, leaving eligible rows ranked exactly
    as if the ineligible rows were filtered first — how curation folds the
    near-dup exclusion and the source cap into one window job without
    forking this formula."""
    parts = [F.col(group_col)]
    if also_partition_by is not None:
        parts.append(also_partition_by)
    w = Window.partitionBy(*parts).orderBy(
        salted_md5(id_col, salt), F.col(id_col)
    )
    return F.row_number().over(w)


def mixture_stats(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus composition: document count, whitespace-token sum,
    and share of total tokens — the mixture-weights table every training
    run starts from (what fraction of the token budget does each
    (lang, source, ...) stratum contribute?). One map-side-combined
    groupBy + a scalar total broadcast back; no window over the corpus.

    The per-stratum aggregate is checkpointed before the grand-total
    branch: Spark shares no subplans, so without it the CORPUS scan runs
    twice (once under ``per``, once under ``total`` — plan-audited). The
    checkpointed frame is stratum-cardinality-sized, i.e. tiny; the one
    eager corpus aggregation at call time is the operator's cost."""
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    per = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.length(F.trim(F.col(text_col))) > 0, toks).otherwise(0)
        ).alias("n_tokens"),
    ).localCheckpoint()
    total = per.agg(F.sum("n_tokens").alias("__t"))
    return per.crossJoin(F.broadcast(total)).select(
        *group_cols,
        "n_docs",
        "n_tokens",
        # try_divide: an all-empty corpus has __t = 0, and under Spark 4
        # ANSI a plain 0/0 aborts the whole stats job — a NULL share on a
        # degenerate corpus is the correct answer, not a crash
        F.try_divide(F.col("n_tokens"), F.col("__t")).alias("token_share"),
    )
