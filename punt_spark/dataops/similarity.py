"""Similarity search over an embedding column (array<float>).

Three tiers, same result contract (query_id, vec_id, sim, rank):

* ``cosine_topk``        — brute force; broadcast the (small) query set,
  JVM-native dot products via ``zip_with``/``aggregate``; exact baseline.
* ``lsh_cosine_buckets`` / ``lsh_topk`` — random-hyperplane sign LSH with a
  deterministic seed; candidates only compare within matching buckets
  (multi-probe via several independent tables). The 100 TB path: bucket
  keys shuffle, vectors don't fan out N×Q.
* ``ivf_topk``           — IVF: k-means centroids (pyspark.ml, trained on a
  sample), probe the ``nprobe`` nearest cells. Best recall/cost at scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .dedup import bucket_census
from .sampling import round_signed

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _cos(a: str, b: str) -> str:
    """Cosine similarity with degenerate inputs mapped to NULL, never an
    error or a fake rank: a zero-norm vector (failed embed, padding row)
    would make the plain division throw DIVIDE_BY_ZERO under Spark 4 ANSI
    and abort the whole job — ``try_divide`` yields NULL instead; a NaN
    component would make sim=NaN, which sorts FIRST under desc() and would
    outrank every real match — ``nullif`` maps it to NULL too (Spark
    treats NaN = NaN as true). NULL sims sort last in desc() and fail
    every >= threshold filter, so garbage rows drop out of top-k/near-dup
    results instead of crashing or polluting them."""
    return (
        f"nullif(try_divide({_DOT.format(a=a, b=b)}, "
        f"sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})), "
        f"double('NaN'))"
    )


def _as_double(df: DataFrame, col: str, out: str) -> DataFrame:
    return df.withColumn(out, F.col(col).cast("array<double>"))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k per query. The query set is broadcast (small
    by contract); ranking partitions by query so no global sort."""
    v = _as_double(vectors, vec_col, "v").select(id_col, "v")
    q = _as_double(queries, vec_col, "qv").select(query_id_col, "qv")
    sims = v.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.expr(_cos("v", "qv")).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return (
        # NULL sims (degenerate vectors — see _cos) are excluded BEFORE
        # ranking: row_number would otherwise hand them ranks when a
        # query has fewer than k real matches
        sims.filter(F.col("sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- sign-LSH -----------------------------------------------------------------


def _make_planes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim)).astype(np.float64)


def make_sign_lsh_udf(dim: int, n_planes: int = 16, n_tables: int = 4, seed: int = 42):
    """Vectorized pandas UDF: embedding → array of n_tables bucket keys.
    The plane matrix is generated deterministically per executor from the
    seed (no broadcast payload needed) and applied as one matmul per batch."""
    planes = _make_planes(dim, n_planes, n_tables, seed)
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def sign_buckets(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)  # (B, dim)
        out = []
        keys = np.empty((len(mat), planes.shape[0]), dtype=np.int64)
        for t in range(planes.shape[0]):
            signs = (mat @ planes[t].T) > 0  # (B, n_planes)
            keys[:, t] = signs @ powers
        for row in keys:
            out.append(row.tolist())
        return pd.Series(out)

    return sign_buckets


def lsh_cosine_buckets(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(id, table_idx, bucket) — one row per (vector, table)."""
    udf = make_sign_lsh_udf(dim, n_planes, n_tables, seed)
    return vectors.withColumn("__b", udf(F.col(vec_col))).select(
        id_col,
        vec_col,
        F.posexplode("__b").alias("table_idx", "bucket"),
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: compare only within shared (table, bucket)."""
    vb = lsh_cosine_buckets(vectors, dim, vec_col, id_col, n_planes, n_tables, seed)
    qb = lsh_cosine_buckets(
        queries, dim, vec_col, query_id_col, n_planes, n_tables, seed
    ).withColumnRenamed(vec_col, "__qvec")
    cand = (
        vb.join(qb, ["table_idx", "bucket"])
        .select(
            query_id_col,
            id_col,
            F.col(vec_col).cast("array<double>").alias("v"),
            F.col("__qvec").cast("array<double>").alias("qv"),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    sims = cand.select(
        query_id_col, id_col, F.expr(_cos("v", "qv")).alias("sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return (
        # NULL sims (degenerate vectors — see _cos) are excluded BEFORE
        # ranking: row_number would otherwise hand them ranks when a
        # query has fewer than k real matches
        sims.filter(F.col("sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- IVF ------------------------------------------------------------------------


def ivf_index(
    vectors: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_train_rows: int = 1_000_000,
):
    """Train k-means centroids (the IVF coarse quantizer). Returns
    (centroids: np.ndarray, assign(df) -> df+cell).

    The coarse quantizer only needs a REPRESENTATIVE sample, not the
    corpus: by default (``sample_fraction=None``) the training set is a
    uniform sample capped at ``max_train_rows`` — at 100 TB, k-means over
    every vector would dwarf the search itself for zero recall gain
    (centroid positions converge long before 10⁶ points). Pass an explicit
    ``sample_fraction`` to override; 1.0 trains on everything."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if sample_fraction is None:
        n = vectors.count()
        sample_fraction = min(1.0, max_train_rows / max(n, 1))
    train = vectors
    if sample_fraction < 1.0:
        train = vectors.sample(fraction=sample_fraction, seed=seed)
    train = train.withColumn("features", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_cells, seed=seed, maxIter=20).fit(train)
    centroids = np.array([np.asarray(c) for c in km.clusterCenters()])

    def assign(df: DataFrame, id_label: str = "cell") -> DataFrame:
        withf = df.withColumn(
            "features", array_to_vector(F.col(vec_col).cast("array<double>"))
        )
        return km.transform(withf).withColumnRenamed("prediction", id_label).drop(
            "features"
        )

    return centroids, assign


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    index=None,
) -> DataFrame:
    """IVF search: assign vectors to cells once; per query probe the
    ``nprobe`` nearest cells only.

    Recall/cost knob: candidates scanned ≈ nprobe/n_cells of the corpus.
    Recall loss comes only from true neighbors living in unprobed cells —
    on clustered data nprobe=2..4 of 16 cells is typically ≥0.9 recall@10
    (the pytest bound pins ≥0.8 at nprobe=2 of 4 on the synthetic mix);
    raise nprobe toward n_cells to trade linearly back toward exact.

    ``index`` accepts a prebuilt ``(centroids, assign)`` pair from
    :func:`ivf_index` so repeated query batches against one corpus share a
    single k-means training (the coarse quantizer is a property of the
    corpus, not of the query batch — retraining per call costs a corpus
    sample + 20 k-means iterations each time for an identical result).
    When provided, ``n_cells``/``seed`` are ignored for training."""
    spark = vectors.sparkSession
    # nearest nprobe cells per query — computed driver-side on the (small)
    # query set against the (tiny) centroid matrix
    qpdf = queries.select(query_id_col, vec_col).toPandas()
    if qpdf.empty:
        # contract parity with cosine_topk / lsh_topk: an empty query set
        # returns an empty result (np.stack on zero arrays would raise)
        return (
            queries.select(query_id_col)
            .withColumn(
                id_col, F.lit(None).cast(vectors.schema[id_col].dataType)
            )
            .withColumn("sim", F.lit(None).cast("double"))
            .withColumn("rank", F.lit(None).cast("integer"))
            .limit(0)
        )
    centroids, assign = (
        index if index is not None else ivf_index(vectors, n_cells, vec_col, seed)
    )
    v_assigned = assign(vectors).select(id_col, vec_col, "cell")

    qmat = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    sims = qn @ cn.T
    probe_rows = []
    for i, qid in enumerate(qpdf[query_id_col]):
        for cell in np.argsort(-sims[i])[:nprobe]:
            probe_rows.append((qid, int(cell)))
    probes = spark.createDataFrame(
        pd.DataFrame(probe_rows, columns=[query_id_col, "cell"])
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qv")
    ).join(probes, query_id_col)

    cand = v_assigned.join(F.broadcast(q), "cell").select(
        query_id_col,
        id_col,
        F.col(vec_col).cast("array<double>").alias("v"),
        "qv",
    )
    sims_df = cand.select(
        query_id_col, id_col, F.expr(_cos("v", "qv")).alias("sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return (
        sims_df.filter(F.col("sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out: str = "qvec", bits: int = 8
) -> DataFrame:
    """Symmetric per-vector integer quantization — the storage/bandwidth
    scale path for embedding tables: at 100 TB an int8 embedding column is
    4× smaller than float32 on disk AND over the shuffle wire, and integer
    dot products stay exact (no float accumulation order effects).

    q_i = floor(x_i · L / max|x| + 0.5) with L = 2^(bits-1) − 1 (127 for
    int8) — the explicit half-up rounding makes the mapping bit-exact
    across engines (DuckDB oracle replays the same formula; engine-native
    ``round`` halves differ: Spark HALF_UP vs DuckDB HALF_EVEN). The
    per-row scale rides along in ``<out>_scale``; a zero vector quantizes
    to zeros with scale 0. Reconstruction error per element ≤ scale/(2L).
    Shape: zero shuffles, pure per-row array exprs. The codes are emitted
    at the NARROW integer width the bit budget needs — array<tinyint> for
    bits ≤ 8, array<smallint> for ≤ 16 — so the stored/shuffled bytes
    actually shrink by the advertised factor (a bigint code array would be
    twice the size of the float32 input it claims to compress)."""
    if not 2 <= bits <= 16:
        raise ValueError(f"bits must be in [2, 16], got {bits}")
    levels = (1 << (bits - 1)) - 1
    width = "tinyint" if bits <= 8 else "smallint"
    d = df.withColumn("__v", F.col(vec_col).cast("array<double>"))
    d = d.withColumn(
        "__scale",
        F.expr("aggregate(__v, 0D, (acc, x) -> greatest(acc, abs(x)))"),
    )
    q = F.expr(
        f"CASE WHEN __scale = 0D THEN transform(__v, x -> cast(0 as {width}))"
        f" ELSE transform(__v, x -> cast(floor(x * {levels}D / __scale + 0.5D)"
        f" as {width})) END"
    )
    return (
        d.withColumn(out, q)
        .withColumn(f"{out}_scale", F.col("__scale"))
        .drop("__v", "__scale")
    )


# --- semantic dedup (SemDeDup) -----------------------------------------------


def anchor_centroids(
    vectors: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic coarse "centroids": the embeddings of the
    ``n_clusters`` lowest ids, keyed by that id. NOT k-means — a
    zero-training, oracle-replayable quantizer for gates/tests and a
    fallback when no trained index is wanted; production semantic dedup
    passes an :func:`ivf_index` instead. Tiny by contract (broadcast by
    every consumer)."""
    return (
        vectors.orderBy(id_col)
        .limit(n_clusters)
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index=None,
    round_dp: int = 2,
    max_cluster: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space coarsely, then drop semantic near-duplicates WITHIN
    each cluster only — the cluster bound is what removes the O(n²)
    all-pairs compare that a global cosine dedup would need.

    Returns every input row as ``(id, cluster, centroid_sim, is_dup)``;
    callers anti-filter ``is_dup`` for the kept corpus (dedup.py audit
    convention: emit the decision, let the pipeline apply it).

    Keep rule (the paper's best-performing choice + a total order for
    determinism): within a cluster, process members in ascending
    ``(round(centroid_sim, round_dp), id)`` — LOW centroid similarity
    first, i.e. keep the "edge" examples — and drop a member iff its
    cosine to ANY earlier member rounds to ≥ ``threshold``. Earlier
    members shadow later ones whether or not they themselves survive
    (the upper-triangular-max formulation of the reference
    implementation), so the rule is a pure pairwise predicate — no
    sequential scan, and the DuckDB oracle replays it exactly.

    Scale shape (100 TB): clustering is map-side in both modes (anchor
    centroids inline as literal arrays — no crossJoin fan-out, no argmax
    shuffle; kmeans assigns via the model's transform); the only shuffle
    keys on ``cluster``;
    the pair join costs O(Σ cᵢ²), bounded by choosing
    ``n_clusters ∝ corpus`` so E[cᵢ] stays ~10³ (the paper runs 50k
    clusters for LAION). A viral cluster (near-identical spam) past
    ``max_cluster`` degrades to a STAR join against the cluster's
    first-in-order member — O(cᵢ) rows, identical-doc clusters still
    fully dropped down to the one anchor; the residual recall trade for
    DIVERSE hot clusters is the same one ``simhash_near_dup_pairs``
    documents. ``index=None`` uses :func:`anchor_centroids`
    (deterministic, oracle-replayable); pass an :func:`ivf_index` pair
    for trained centroids.

    Assignment cost, eyes open: scoring every vector against every
    centroid is O(n·k·d) — with the k ∝ n discipline that term grows
    faster than linear (measured 6.8× wall at 10× rows with k 8→80 on
    the sf1 twin, still inside the ≤10 linearity bar because it is
    pure map-side compute that parallelizes perfectly). Anchor mode is
    the gate/test path and sized for k ≲ 100 (the centroid literals
    live in one codegen'd expression); at production k (10⁴+) use the
    kmeans index path, and if assignment itself ever dominates, the
    standard upgrade is two-level (√k super-clusters then √k within) —
    not implemented here because the pair join, not assignment,
    dominates every measured configuration.
    """
    if index is not None:
        centroids, assign = index
        cdf_pd = pd.DataFrame(
            {"cid": range(len(centroids)), "cv": [c.tolist() for c in centroids]}
        )
        cdf = vectors.sparkSession.createDataFrame(cdf_pd)
        assigned = assign(vectors, id_label="cluster").select(
            id_col,
            F.col(vec_col).cast("array<double>").alias("v"),
            "cluster",
        )
        # centroid_sim still needed for the keep order — one broadcast join
        # back onto the (tiny) centroid frame
        assigned = (
            assigned.join(
                F.broadcast(cdf.withColumnRenamed("cid", "cluster")), "cluster"
            )
            .withColumn("__csraw", F.expr(_cos("v", "cv")))
            .withColumn("csim_r", F.round(F.col("__csraw"), round_dp))
            .drop("cv")
        )
    else:
        import math

        # anchors are tiny by contract (n_clusters rows) — collect and
        # inline them as literal arrays so assignment is pure map-side:
        # no k× crossJoin fan-out, no per-vector argmax window shuffle.
        # The corpus never shuffles to get its cluster label, matching
        # the kmeans path's transform() shape.
        cents = anchor_centroids(vectors, n_clusters, vec_col, id_col).collect()
        if not cents:
            return vectors.select(
                id_col,
                F.lit(None).cast("long").alias("cluster"),
                F.lit(None).cast("double").alias("centroid_sim"),
                F.lit(False).alias("is_dup"),
            ).limit(0)
        v = vectors.select(
            id_col, F.col(vec_col).cast("array<double>").alias("v")
        ).withColumn("__nv", F.expr(f"sqrt({_DOT.format(a='v', b='v')})"))
        def dlit(x: float) -> str:
            # non-finite floats have no bare SQL literal: repr(nan) is
            # 'nan', which Spark resolves as a COLUMN and aborts the job
            # — emit the cast form so a NaN/Inf component in an anchor
            # embedding degrades to a NULL sim (the _cos totality
            # contract) instead of an AnalysisException
            if math.isnan(x):
                return "double('NaN')"
            if math.isinf(x):
                return f"double('{'-' if x < 0 else ''}Infinity')"
            return repr(x)

        cent_structs = []
        for r in cents:
            # centroid norm folded to a constant with the engines' exact
            # arithmetic: sequential sum (the aggregate/list_dot_product
            # fold order) + IEEE sqrt — the oracle's sqrt(dot(c,c)) is
            # bit-identical, so the rounded argmax can't diverge
            sq = 0.0
            for x in r.cv:
                sq += float(x) * float(x)
            lit = "array(" + ",".join(dlit(float(x)) for x in r.cv) + ")"
            cent_structs.append(
                f"struct({int(r.cid)}L AS cid, "
                f"cast({dlit(math.sqrt(sq))} as double) AS nc, {lit} AS cv)"
            )
        cents_sql = f"array({', '.join(cent_structs)})"
        # one SQL-lambda pass (each centroid literal and the cosine code
        # appear ONCE — inlining them per centroid was measured 1.7×
        # slower on codegen size alone), then lexicographic min of
        # (-sim, cid) = argmax sim with centroid-id tie-break,
        # degenerate (NULL-sim) centroids pushed last
        # raw sim bound once in an inner transform, rounded in the outer —
        # the raw value rides along so the OUTPUT column can replay
        # DuckDB's signed zero (round_signed below) while every internal
        # order/compare keeps the sign-normalized rounded value
        raw_scored = (
            f"transform({cents_sql}, c -> struct("
            f"nullif(try_divide({_DOT.format(a='v', b='c.cv')}, "
            f"__nv * c.nc), double('NaN')) AS raw, "
            f"c.cid AS cid))"
        )
        scored = (
            f"transform({raw_scored}, s -> struct("
            f"round(s.raw, {round_dp}) AS cs, s.cid AS cid, s.raw AS raw))"
        )
        pick = (
            f"array_min(transform({scored}, s -> struct("
            f"coalesce(-s.cs, double('Infinity')) AS ncs, "
            f"s.cid AS cid, s.cs AS cs, s.raw AS raw)))"
        )
        assigned = v.withColumn("__pick", F.expr(pick)).select(
            id_col,
            "v",
            F.col("__pick.cid").alias("cluster"),
            F.col("__pick.cs").alias("csim_r"),
            F.col("__pick.raw").alias("__csraw"),
        )

    # materialize once: the census, the star side, and both pair-join
    # sides all consume it (the repo's persist-at-fan-out rule)
    assigned = assigned.localCheckpoint()
    # downstream of the materialized boundary, match the session shuffle
    # width: the assignment wants full map parallelism, but every later
    # stage (census agg, pair joins, final label join) re-reads the
    # checkpointed blocks — running them wider than the shuffle width
    # just multiplies task overhead (narrow coalesce, no recompute)
    _w = int(
        vectors.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if assigned.rdd.getNumPartitions() > _w:
        assigned = assigned.coalesce(_w)

    cool, hot = bucket_census(
        assigned,
        ["cluster"],
        max_cluster,
        {"aid": id_col, "av": "v"},
        ["csim_r", id_col],
    )

    cool_rows = assigned.join(F.broadcast(cool), "cluster", "left_semi")
    a = cool_rows.select(
        "cluster",
        F.col("csim_r").alias("cs_a"),
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
    )
    b = cool_rows.select(
        "cluster",
        F.col("csim_r").alias("cs_b"),
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
    )
    earlier = (F.col("cs_a") < F.col("cs_b")) | (
        (F.col("cs_a") == F.col("cs_b")) & (F.col("id_a") < F.col("id_b"))
    )
    cool_dropped = (
        a.join(b, "cluster")
        .filter(earlier)
        .filter(F.round(F.expr(_cos("va", "vb")), round_dp) >= threshold)
        .select(F.col("id_b").alias(id_col))
    )
    star_dropped = (
        assigned.join(F.broadcast(hot), "cluster")
        .filter(F.col(id_col) != F.col("aid"))
        .filter(F.round(F.expr(_cos("v", "av")), round_dp) >= threshold)
        .select(id_col)
    )
    dropped = cool_dropped.unionByName(star_dropped).distinct()

    return (
        assigned.join(
            dropped.withColumn("__dup", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "cluster",
            # OUTPUT column replays DuckDB's signed zero (a raw sim in
            # (-0.005, 0) must emit -0.0 — the r6 driver hash gap);
            # csim_r stays sign-normalized for every internal order above
            round_signed(F.col("__csraw"), round_dp).alias("centroid_sim"),
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )
