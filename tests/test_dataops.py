"""Dataops: dedup / similarity / textstats / sampling / curation, each pinned
against a small pure-Python/numpy oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from punt_spark.dataops import dedup, similarity, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy cat near the river bank"),  # near-dup of 0
    (2, "completely different text about spark shuffles and partitions here"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "short text"),
    (5, "another unrelated document mentioning window aggregation semantics today"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_jaccard(a: str, b: str, n=3) -> float:
    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


# --- exact dedup --------------------------------------------------------------


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {0, 1, 2, 4, 5}  # 3 dropped (dup of 0, min id kept)
    stats = dedup.exact_dup_stats(docs, ["text"]).collect()[0]
    assert stats["n_rows"] == 6 and stats["n_unique"] == 5 and stats["n_dupes"] == 1


def test_incremental_dedup(spark):
    """Continuous-ingestion dedup: the new batch is deduped against BOTH
    the history fingerprint index and itself, with normalization-aware
    matching (case/whitespace variants collapse)."""
    hist = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "existing doc two")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "THE  quick\tbrown fox"),   # dup of history 1 (normalized)
            (11, "brand new document"),
            (12, "brand  NEW document"),      # in-batch dup of 11
            (13, "another fresh one"),
            (14, None),                       # NULL text ≡ empty text …
            (15, ""),                         # … both dedupe, neither drops
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in dedup.incremental_dedup(batch, hist).collect()
    }
    assert kept == {11, 13, 14}
    # production path: history supplied as a fingerprint table
    from punt_spark.dataops.textstats import with_fingerprint

    fps = with_fingerprint(hist).select("fingerprint_md5")
    kept2 = {
        r["doc_id"]
        for r in dedup.incremental_dedup(
            batch, fps, history_fp_col="fingerprint_md5"
        ).collect()
    }
    assert kept2 == kept


# --- MinHash / LSH ---------------------------------------------------------------


def test_minhash_identical_docs_equal_sigs(docs):
    sig = dedup.minhash_signatures(docs).toPandas().set_index("doc_id")
    assert list(sig.loc[0, "sig"]) == list(sig.loc[3, "sig"])
    assert list(sig.loc[0, "sig"]) != list(sig.loc[2, "sig"])


def test_minhash_signatures_deterministic_and_exact(spark):
    """Regression: with many sibling Python-lambda transforms in one
    select, PySpark cross-bound the generated lambda variables, making
    signatures depend on session history (identical-docs-equal-sigs still
    held, so only a value pin catches it). The signature must equal the
    hand-built SQL xxhash64 min, on every call."""
    d = spark.createDataFrame(
        [(0, "the quick brown fox jumps")], "doc_id long, text string"
    )
    expected = spark.sql(
        "SELECT transform(array('the quick brown','quick brown fox',"
        "'brown fox jumps'), s -> array(xxhash64(concat('0\x1f', s)),"
        " xxhash64(concat('1\x1f', s)), xxhash64(concat('2\x1f', s)),"
        " xxhash64(concat('3\x1f', s)))) AS hs"
    ).collect()[0]["hs"]
    want = [min(h[j] for h in expected) for j in range(4)]
    for _ in range(3):
        got = dedup.minhash_signatures(d, num_hashes=4).collect()[0]["sig"]
        assert list(got) == want


def test_minhash_dedup_finds_near_dup(docs):
    pairs = dedup.minhash_dedup(docs, threshold=0.5).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert (0, 3) in got  # exact dup always survives
    assert (0, 1) in got or (1, 3) in got  # near-dup (1 word of 13 changed)
    for r in pairs.itertuples():
        expect = _py_jaccard(DOCS[r.id_a][1], DOCS[r.id_b][1])
        assert abs(r.jaccard - expect) < 1e-9


def test_ngram_jaccard_exact_values(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.itertuples()}
    assert got[(0, 3)] == 1.0
    expect01 = _py_jaccard(DOCS[0][1], DOCS[1][1])
    assert abs(got[(0, 1)] - expect01) < 1e-9
    assert (0, 2) not in got


def test_lsh_bucket_cap(docs):
    sig = dedup.minhash_signatures(docs)
    # cap of 1 kills every bucket → no candidates
    assert dedup.lsh_candidate_pairs(sig, max_bucket=1).count() == 0


def test_ngram_stop_shingle_cap(spark):
    # One hot shingle ("aa bb cc") shared by ALL docs plus a genuinely
    # near-dup pair. Uncapped: every pair is a candidate via the hot
    # shingle. With max_df=2 the hot shingle is dropped from the join, so
    # only the pair sharing rare shingles survives — bounded candidates.
    hot = "aa bb cc"
    rows = [(i, f"{hot} unique{i} filler{i} tail{i}") for i in range(8)]
    rows.append((8, "xx yy zz ww vv uu"))
    rows.append((9, "xx yy zz ww vv tt"))  # near-dup of 8, no hot shingle
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.01).toPandas()
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.01, max_df=2).toPandas()
    assert len(uncapped) >= 28  # C(8,2) hot-shingle pairs + the near-dup
    got = {(r.id_a, r.id_b) for r in capped.itertuples()}
    assert got == {(8, 9)}  # hot-shingle candidates eliminated
    # exact Jaccard preserved for the surviving pair (full set sizes)
    j = capped.set_index(["id_a", "id_b"]).loc[(8, 9), "jaccard"]
    assert abs(j - _py_jaccard(rows[8][1], rows[9][1])) < 1e-9


# --- SimHash ----------------------------------------------------------------------


def test_simhash_identity_and_near(docs):
    sh = dedup.with_simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert sh[0] == sh[3]
    ham01 = bin(int(sh[0]) ^ int(sh[1]) & 0xFFFFFFFFFFFFFFFF).count("1")
    ham02 = bin(int(sh[0]) ^ int(sh[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_simhash_pairs(docs):
    pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=0).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert got == {(0, 3)}


def test_simhash_pairs_bucket_cap(spark):
    """max_bucket is the quadratic-blowup guard (r6 — the sf1
    realistic-twin validation read the UNcapped formulation at 38x cost
    for 10x rows): a viral cluster of identical docs saturates every one
    of its chunk buckets past the cap, which degrades to the linear
    STAR join — each member linked to the min-id anchor only (29 pairs,
    not 435), keeping the cluster one connected component — while a
    genuine near-dup pair in cool buckets gets the full quadratic
    treatment."""
    viral = [(i, "the viral marketing template spreads everywhere") for i in range(30)]
    distinct = [
        (100, "quantum physics lecture notes alpha beta gamma delta"),
        (101, "quantum physics lecture notes alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(viral + distinct, "doc_id long, text string")
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dup_pairs(docs, max_bucket=10)
        .toPandas()
        .itertuples()
    }
    assert (100, 101) in capped
    star = {(a, b) for a, b in capped if a < 100}
    assert star == {(0, i) for i in range(1, 30)}, star  # star, not O(n^2)
    full = dedup.simhash_near_dup_pairs(docs, max_bucket=10**9).toPandas()
    assert len(full) >= 30 * 29 // 2 + 1  # quadratic set was real
    # star-linked cluster is the SAME connected component as the full run
    cl = dedup.dup_clusters(
        dedup.simhash_near_dup_pairs(docs, max_bucket=10)
    ).toPandas()
    viral_cl = cl[cl.id < 100].cluster_id.unique()
    assert len(viral_cl) == 1 and viral_cl[0] == 0


def _py_simhash16(text: str) -> int:
    import hashlib

    toks = []
    for t in text.lower().strip().split():
        if t not in toks:
            toks.append(t)
    votes = [0] * 16
    for t in toks:
        hv = int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
        for b in range(16):
            votes[b] += 1 if (hv >> b) & 1 else -1
    return sum(1 << b for b in range(16) if votes[b] > 0)


def test_simhash16_native_matches_python(docs):
    got = (
        dedup.simhash16_native(docs)
        .toPandas()
        .set_index("doc_id")["simhash16"]
    )
    for i, text in DOCS:
        assert got[i] == _py_simhash16(text), f"doc {i}"
    assert got[0] == got[3]  # exact dup → identical signature


def test_simhash16_property(spark):
    """Property: the native column-expression simhash16 equals the pure
    Python oracle on arbitrary ASCII corpora (ASCII by contract: Java \\s
    in split() is ASCII-only while Python str.split() is Unicode-aware —
    the pinned tokenizer semantics are ASCII whitespace)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ascii_text = st.text(
        alphabet=st.sampled_from(
            list("abcdefghijklmnopqrstuvwxyzABCDE0123456789 .,!?-_")
        ),
        min_size=1,
        max_size=60,
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ascii_text, min_size=1, max_size=6))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["simhash16"]
            for r in dedup.simhash16_native(df).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == _py_simhash16(t), repr(t)

    check()


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.org now"),
            (1, "server at 192.168.1.254 down"),
            (2, "call 555-867-5309 or card 4111111111111111"),
            (3, "clean text no pii"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["redacted"]
        for r in textstats.redact_pii(df).collect()
    }
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "server at <IP> down"
    assert got[2] == "call <PHONE> or card <CARD>"
    assert got[3] == "clean text no pii"


def test_with_repetition(spark):
    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),  # one distinct 3-gram
            (1, "all words here are fully distinct tokens"),
            (2, "a b"),  # < n tokens → 0.0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["rep_ratio"]
        for r in textstats.with_repetition(df).collect()
    }
    assert got[0] == 0.75  # 4 grams, 1 distinct → 1 - 1/4
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_dup_clusters_long_chain_and_convergence_guard(spark):
    """A 30-node transitive chain collapses into ONE cluster (min-label
    needs ~29 rounds, within the default bound); an insufficient max_iter
    raises instead of silently returning split clusters."""
    import pytest as _pytest

    chain = [(i, i + 1) for i in range(29)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    # small_graph_edges=0 pins the DISTRIBUTED loop (the default would
    # take the driver-side union-find fast path for 29 edges)
    labels = dedup.dup_clusters(pairs, small_graph_edges=0).collect()
    assert {r["cluster_id"] for r in labels} == {0}
    assert len(labels) == 30
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(pairs, max_iter=5, small_graph_edges=0)


def test_dup_clusters_small_graph_path_matches_distributed(spark):
    """The driver-side union-find fast path must emit exactly the
    distributed loop's (id, cluster_id = min id) labels — chain,
    triangle, isolated pair, and a mixed component planted."""
    edges = (
        [(i, i + 1) for i in range(12)]  # chain 0..12
        + [(100, 101), (101, 102), (100, 102)]  # triangle
        + [(200, 201)]  # isolated pair
        + [(300, 302), (301, 302), (303, 300)]  # star-ish
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        (r["id"], r["cluster_id"])
        for r in dedup.dup_clusters(pairs).collect()
    }
    dist = {
        (r["id"], r["cluster_id"])
        for r in dedup.dup_clusters(pairs, small_graph_edges=0).collect()
    }
    assert fast == dist
    assert {c for _, c in fast} == {0, 100, 200, 300}
    # schema parity (the driver gate hashes dtypes too)
    assert (
        dedup.dup_clusters(pairs).schema
        == dedup.dup_clusters(pairs, small_graph_edges=0).schema
    )
    # empty edge set → empty frame, same schema, no crash
    empty = pairs.filter("id_a < 0")
    assert dedup.dup_clusters(empty).count() == 0
    # a NULL id in a component: same labels as the loop, no TypeError
    nulls = spark.createDataFrame([(1, 2), (None, 5), (5, 6)], "id_a long, id_b long")
    fast = {(r["id"], r["cluster_id"]) for r in dedup.dup_clusters(nulls).collect()}
    dist = {
        (r["id"], r["cluster_id"])
        for r in dedup.dup_clusters(nulls, small_graph_edges=0).collect()
    }
    assert fast == dist == {(1, 1), (2, 1), (5, 5), (6, 5), (None, None)}


def test_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches every lineage-truncation point from
    localCheckpoint (executor-local blocks) to reliable checkpoint() into
    the given path — the preemptible-executor trade. Same labels, and the
    checkpoint files actually land in the directory."""
    ckpt = str(tmp_path / "cc_ckpt")
    chain = [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.dup_clusters(
            pairs, checkpoint_dir=ckpt, small_graph_edges=0
        ).collect()
    }
    want = {
        r["id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()
    }
    assert got == want
    assert {v for k, v in got.items() if k <= 9} == {0}
    assert {v for k, v in got.items() if k >= 20} == {20}
    import os

    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing to checkpoint_dir"


def test_decontaminate(spark):
    bench = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (0, "totally unrelated training document with many words"),
            (1, "leaked copy: the secret benchmark answer is forty two exactly here"),
            (2, "short doc"),  # < 5 tokens → no shingles → kept
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in dedup.decontaminate(corpus, bench, shingle_n=5).collect()
    }
    assert kept == {0, 2}  # the 5-gram-overlapping doc is dropped


def test_hash_split_and_stratified_sample(spark):
    from punt_spark.dataops import sampling

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(4000)],
        "id long, stratum string",
    )
    split = sampling.hash_split(
        df, "id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    counts = {
        r["split"]: r["count"]
        for r in split.groupBy("split").count().collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 4000 - 0.8) < 0.03  # hash-uniformity band
    # determinism: identical assignment on recompute AND after repartition
    a = {r["id"]: r["split"] for r in split.collect()}
    b = {
        r["id"]: r["split"]
        for r in sampling.hash_split(
            df.repartition(13), "id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="fractions"):
        sampling.hash_split(df, "id", {"train": 1.5})
    # per-fraction validation: values that sum into range but are
    # individually invalid are rejected
    with pytest.raises(ValueError, match="each be in"):
        sampling.hash_split(df, "id", {"train": 1.5, "val": -0.5})
    # NULL ids hash via a sentinel — they land in exactly one split (not
    # force-routed into the last/eval split) and still sample at rate 1.0
    dfn = spark.createDataFrame(
        [(None, "a"), (1, "a")], "id string, stratum string"
    )
    labels = {
        r["id"]: r["split"]
        for r in sampling.hash_split(
            dfn, "id", {"train": 0.9, "val": 0.05, "test": 0.05}
        ).collect()
    }
    assert labels[None] in {"train", "val", "test"}
    assert (
        sampling.stratified_sample(dfn, "id", "stratum", {"a": 1.0}).count()
        == 2  # rate 1.0 keeps null-id rows too
    )

    samp = sampling.stratified_sample(
        df, "id", "stratum", {"a": 1.0, "b": 0.25}
    )
    by = {
        r["stratum"]: r["count"]
        for r in samp.groupBy("stratum").count().collect()
    }
    assert by["a"] == 2000  # rate 1.0 keeps everything
    assert abs(by["b"] / 2000 - 0.25) < 0.05
    # unlisted strata obey default_rate (0.0 → dropped entirely)
    df2 = df.withColumn("stratum", F.lit("zzz"))
    assert sampling.stratified_sample(df2, "id", "stratum", {"a": 1.0}).count() == 0


def test_round_signed_matches_duckdb_signed_zero(spark):
    """round_signed keeps DuckDB's DOUBLE sign bit, including an exact -0.0
    input (``col < 0.0`` is false for -0.0)."""
    import math

    import duckdb

    from punt_spark.dataops.sampling import round_signed
    from punt_spark.session import local_table

    values = [-0.0, -0.001, 0.0, 0.001, -1.236]
    df = local_table(spark, [(v,) for v in values], "v double")
    got = [r["r"] for r in df.select(round_signed(F.col("v"), 2).alias("r")).collect()]
    want = [
        duckdb.sql(f"SELECT round(CAST('{v!r}' AS DOUBLE), 2)").fetchone()[0]
        for v in values
    ]
    assert [(g, math.copysign(1.0, g)) for g in got] == [
        (w, math.copysign(1.0, w)) for w in want
    ]


# --- similarity --------------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(0)
    # 4 clusters of 25 vectors, dim 16
    centers = rng.standard_normal((4, 16)) * 3
    rows = []
    for i in range(100):
        v = centers[i % 4] + rng.standard_normal(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf), pdf


def _np_topk(pdf, qids, k):
    mat = np.stack(pdf["embedding"].to_numpy())
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qid in qids:
        sims = matn @ matn[qid]
        order = sorted(range(len(sims)), key=lambda i: (-round(sims[i], 9), i))
        out[qid] = [i for i in order if True][:k]
    return out


def test_cosine_topk_matches_numpy(vectors):
    df, pdf = vectors
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.cosine_topk(df, queries, k=5).toPandas()
    want = _np_topk(pdf, [0, 1, 2], 5)
    for qid in [0, 1, 2]:
        g = got[got.query_id == qid].sort_values("rank")["vec_id"].tolist()
        assert g == want[qid], qid


def test_embedding_near_dup_pairs_lsh(spark):
    """Scale-path near-dup: LSH candidates + exact verify. Precision is
    exact by construction; recall checked against numpy brute force on
    planted near-duplicates (deterministic seed)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # plant 5 near-dups: vec 100+i ≈ vec i (tiny perturbation → cos ≈ 1)
    for i in range(5):
        v = base[i] + rng.standard_normal(16) * 0.01
        rows.append((100 + i, [float(x) for x in v]))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf)
    got = similarity.embedding_near_dup_pairs(
        df, dim=16, threshold=0.95
    ).toPandas()
    got_pairs = {(r.id_a, r.id_b) for r in got.itertuples()}
    # numpy brute-force oracle
    mat = np.stack(pdf["embedding"].to_numpy())
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sims = matn @ matn.T
    want = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and sims[i, j] >= 0.95
    }
    assert len(want) == 5  # exactly the planted pairs
    # precision exact: nothing below threshold emitted
    assert got_pairs <= want
    # recall on planted cos≈1 pairs: identical sign patterns → always found
    assert got_pairs == want
    for r in got.itertuples():
        assert r.sim >= 0.95


def test_lsh_topk_recall(vectors):
    df, pdf = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.lsh_topk(df, queries, dim=16, k=5, n_planes=8, n_tables=6)
    gpdf = got.toPandas()
    want = _np_topk(pdf, range(5), 5)
    hits = total = 0
    for qid in range(5):
        g = set(gpdf[gpdf.query_id == qid]["vec_id"])
        hits += len(g & set(want[qid]))
        total += 5
    assert hits / total >= 0.6  # clustered data, sign-LSH recall
    # the query vector itself always shares every bucket with itself
    for qid in range(5):
        assert qid in set(gpdf[gpdf.query_id == qid]["vec_id"])


def test_quantize_embeddings(vectors):
    df, pdf = vectors
    q = similarity.quantize_embeddings(df, out="qvec").toPandas()
    mat = {r.vec_id: np.array(r.qvec) for r in q.itertuples()}
    scales = {r.vec_id: r.qvec_scale for r in q.itertuples()}
    for _, row in pdf.iterrows():
        x = np.array(row["embedding"], dtype=np.float64)
        qv, s = mat[row["vec_id"]], scales[row["vec_id"]]
        assert s == np.abs(x).max()
        assert np.abs(qv).max() <= 127
        # reconstruction error bound: |x - q·s/127| ≤ s/(2·127)
        assert np.abs(x - qv * s / 127).max() <= s / 254 + 1e-12
    # zero vector → zeros with scale 0, no division blow-up
    z = similarity.quantize_embeddings(
        df.sparkSession.createDataFrame(
            [(0, [0.0] * 4)], "vec_id long, embedding array<double>"
        )
    ).collect()[0]
    assert z["qvec"] == [0, 0, 0, 0] and z["qvec_scale"] == 0.0
    with pytest.raises(ValueError, match="bits"):
        similarity.quantize_embeddings(df, bits=1)


def test_quantized_topk_recall(vectors):
    """int8 cosine ranking stays close to exact: recall@5 ≥ 0.9 over the
    clustered fixture (the 4× storage/shuffle saving costs a bounded
    ranking perturbation)."""
    df, pdf = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.quantized_cosine_topk(df, queries, k=5).toPandas()
    want = _np_topk(pdf, range(5), 5)
    hits = total = 0
    for qid in range(5):
        g = set(got[got.query_id == qid]["vec_id"])
        hits += len(g & set(want[qid]))
        total += 5
    assert hits / total >= 0.9


def test_ivf_topk_recall(vectors):
    df, pdf = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk(df, queries, k=5, n_cells=4, nprobe=2).toPandas()
    want = _np_topk(pdf, range(5), 5)
    hits = sum(
        len(set(got[got.query_id == q]["vec_id"]) & set(want[q])) for q in range(5)
    )
    assert hits / 25 >= 0.8  # nprobe=2 of 4 well-separated cells


def test_ivf_bounded_training_sample(vectors):
    """The default quantizer training set is capped (100 TB corpora must
    not full-scan into k-means): a tiny max_train_rows still yields a
    usable index — every vector gets a cell, recall stays above the
    nprobe=all floor."""
    df, pdf = vectors
    centroids, assign = similarity.ivf_index(
        df, n_cells=4, max_train_rows=20, seed=42
    )
    assert centroids.shape == (4, 16)
    assigned = assign(df).toPandas()
    assert len(assigned) == len(pdf)
    assert assigned["cell"].between(0, 3).all()
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk(df, queries, k=5, n_cells=4, nprobe=4).toPandas()
    want = _np_topk(pdf, range(5), 5)
    hits = sum(
        len(set(got[got.query_id == q]["vec_id"]) & set(want[q])) for q in range(5)
    )
    assert hits / 25 == 1.0  # nprobe == n_cells probes everything → exact


def test_ivf_topk_index_reuse(vectors, monkeypatch):
    """A prebuilt ivf_index is reused verbatim across query batches: with
    index= passed, ivf_topk never retrains (ivf_index is not called), and
    two batches against one index match fresh-trained results."""
    df, pdf = vectors
    prebuilt = similarity.ivf_index(df, n_cells=4, seed=42)

    calls = {"n": 0}
    real_ivf_index = similarity.ivf_index

    def counting_index(*a, **kw):
        calls["n"] += 1
        return real_ivf_index(*a, **kw)

    monkeypatch.setattr(similarity, "ivf_index", counting_index)
    batches = []
    for lo, hi in ((0, 3), (3, 5)):
        q = df.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        batches.append(
            similarity.ivf_topk(
                df, q, k=5, n_cells=4, nprobe=4, index=prebuilt
            ).toPandas()
        )
    assert calls["n"] == 0, "index= must bypass per-call k-means training"
    monkeypatch.undo()

    fresh = similarity.ivf_topk(
        df,
        df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
        n_cells=4,
        nprobe=4,
    ).toPandas()
    got = (
        pd.concat(batches)
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    fresh = fresh.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert got["vec_id"].tolist() == fresh["vec_id"].tolist()


def test_ivf_topk_quantized_index_reuse(vectors):
    """ivf_topk_quantized threads index= through — trained on the SAME
    quantized representation it searches."""
    df, pdf = vectors
    qcorpus = similarity.quantize_embeddings(
        df, "embedding", out="__q", bits=8
    ).select("vec_id", F.col("__q").alias("embedding"))
    prebuilt = similarity.ivf_index(qcorpus, n_cells=4, seed=42)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk_quantized(
        df, queries, k=5, n_cells=4, nprobe=4, index=prebuilt
    ).toPandas()
    want = _np_topk(pdf, range(5), 5)
    hits = sum(
        len(set(got[got.query_id == q]["vec_id"]) & set(want[q]))
        for q in range(5)
    )
    assert hits / 25 >= 0.9


def test_semantic_dedup_keep_rule(spark):
    """Pinned-geometry SemDeDup: anchor centroids are ids 0/1 ([1,0,0] /
    [0,1,0]); cluster 0 holds {0, 2, 3} with pairwise sims ≥ τ and
    ascending-centroid-sim order (3, 2, 0) — so the EDGE example id 3
    survives and shadows both later members (id 0 drops to id 3 even
    though id 2, its other shadow, is itself dropped: upper-triangular
    rule). Cluster 1 likewise keeps the edge member id 4 over the anchor
    id 1."""
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.95, 0.31, 0.0]),
            (3, [0.9, 0.43, 0.0]),
            (4, [0.0, 0.9, 0.43]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = (
        similarity.semantic_dedup(df, n_clusters=2, threshold=0.9)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    assert out["cluster"].to_dict() == {0: 0, 1: 1, 2: 0, 3: 0, 4: 1}
    assert out["is_dup"].to_dict() == {
        0: True,
        1: True,
        2: True,
        3: False,
        4: False,
    }


def test_semantic_dedup_kmeans_mode(vectors):
    """Production mode: trained ivf_index centroids. Exact copies planted
    into the clustered fixture lose exactly one member per copy pair; the
    copy (higher id) drops when centroid sims tie (id tie-break)."""
    df, pdf = vectors
    copies = df.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = df.unionByName(copies)
    idx = similarity.ivf_index(corpus, n_cells=4, seed=42)
    # τ at 4dp: only the planted exact copies (sim 1.0) qualify — the
    # fixture's own within-cluster sims run right up past 0.995
    out = (
        similarity.semantic_dedup(
            corpus, threshold=0.9999, index=idx, round_dp=4
        )
        .toPandas()
        .set_index("vec_id")
    )
    assert len(out) == 105
    for orig in range(5):
        pair = out.loc[[orig, orig + 1000]]
        # identical vectors land in one cluster; exactly one survives, and
        # with tied centroid sims the lower id is the keeper
        assert pair["cluster"].nunique() == 1
        assert not pair.loc[orig, "is_dup"]
        assert pair.loc[orig + 1000, "is_dup"]
    assert int(out["is_dup"].sum()) == 5


def test_semantic_dedup_star_degrade(spark):
    """A viral (identical-vector) cluster past max_cluster degrades to the
    star join: every member except the first-in-order anchor drops, cost
    linear — never O(cluster²)."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])] + [
        (i, [0.0, 1.0]) for i in range(2, 32)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = (
        similarity.semantic_dedup(
            df, n_clusters=2, threshold=0.9, max_cluster=10
        )
        .toPandas()
        .set_index("vec_id")
    )
    kept = sorted(out[~out["is_dup"]].index)
    assert kept == [0, 1]  # id 1: tied csim everywhere → min-id anchor
    assert int(out["is_dup"].sum()) == 30


def test_semantic_dedup_nan_anchor_component(spark):
    """A NaN component in one of the n_clusters lowest-id embeddings (an
    ANCHOR in anchor mode) must degrade to NULL sims per the module's
    totality contract — not abort the job via an unparseable 'nan'
    centroid literal. Finite rows keep their normal assignment."""
    df = spark.createDataFrame(
        [
            (0, [float("nan"), 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.0, 0.99]),
            (3, [0.0, 0.98]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = (
        similarity.semantic_dedup(df, n_clusters=2, threshold=0.9)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    assert sorted(out.index) == [0, 1, 2, 3]  # totality: every row returns
    # the finite near-identical trio still dedups against centroid id 1
    assert out.loc[[1, 2, 3], "cluster"].tolist() == [1, 1, 1]
    assert int(out.loc[[1, 2, 3], "is_dup"].sum()) == 2


def test_score_buckets_ccnet_tiers(spark):
    """Tertile bands on a known score set: 9 rows 1..9 → exact tertile
    cuts land between grid values; NULL score stays NULL-labelled; the
    approx (production) mode agrees on well-separated data; label/cut
    arity is validated."""
    from punt_spark.dataops.textstats import score_buckets

    rows = [(i, float(i)) for i in range(1, 10)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, s double")
    out = (
        score_buckets(df, "s", exact=True)
        .toPandas()
        .set_index("doc_id")["bucket"]
    )
    # type-7 tertiles of 1..9: q33 ≈ 3.67, q67 ≈ 6.33
    assert [out[i] for i in range(1, 10)] == (
        ["tail"] * 3 + ["middle"] * 3 + ["head"] * 3
    )
    assert out[99] is None
    # approx (production) mode: cuts are dataset elements, not
    # interpolated — boundary rows may shift one band, but the labelling
    # must stay monotone in score and use all three tiers
    approx = (
        score_buckets(df, "s")
        .toPandas()
        .dropna()
        .sort_values("s")["bucket"]
        .tolist()
    )
    order = {"tail": 0, "middle": 1, "head": 2}
    assert [order[b] for b in approx] == sorted(order[b] for b in approx)
    assert set(approx) == {"tail", "middle", "head"}
    with pytest.raises(ValueError, match="labels"):
        score_buckets(df, "s", cuts=(0.5,), labels=("a", "b", "c"))


# --- dsir ----------------------------------------------------------------------------


def _dsir_py(raw_docs, target_docs, n_buckets=64, alpha=1.0, salt="dsir"):
    """Pure-Python DSIR reference: hashed {1,2}-gram occurrence counts →
    smoothed log-ratio per bucket → per-doc sum."""
    import hashlib
    import math

    def grams(text):
        toks = [t for t in text.lower().strip().split() if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        h = hashlib.md5((salt + g).encode()).hexdigest()
        return int(h[:8], 16) % n_buckets

    def counts(docs):
        c = [0] * n_buckets
        for _, text in docs:
            for g in grams(text):
                c[bucket(g)] += 1
        return c

    ct, cr = counts(target_docs), counts(raw_docs)
    t, r = sum(ct), sum(cr)
    lw = [
        math.log((ct[b] + alpha) / (t + alpha * n_buckets))
        - math.log((cr[b] + alpha) / (r + alpha * n_buckets))
        for b in range(n_buckets)
    ]
    return {
        did: sum(lw[bucket(g)] for g in grams(text))
        for did, text in raw_docs
    }


def test_dsir_weights_match_python(spark):
    from punt_spark.dataops import dsir

    target_docs = [(100 + i, "spark shuffle join broadcast agg") for i in range(3)]
    raw_docs = [
        (0, "spark shuffle join agg broadcast spark join"),
        (1, "cat dog bird fish cow"),
        (2, "spark broadcast join"),
        (3, "red green blue yellow purple orange"),
        (4, ""),
        (5, "one"),
    ]
    schema = "doc_id long, text string"
    raw = spark.createDataFrame(raw_docs, schema)
    target = spark.createDataFrame(target_docs, schema)
    got = (
        dsir.dsir_weights(raw, target, n_buckets=64)
        .toPandas()
        .set_index("doc_id")["logw"]
    )
    want = _dsir_py(raw_docs, target_docs, n_buckets=64)
    assert len(got) == 6  # empty/1-token docs still ranked
    for did, w in want.items():
        assert got[did] == pytest.approx(w, abs=1e-9), did
    # target-like candidates outscore off-distribution ones
    assert got[0] > got[1] and got[2] > got[3]
    assert got[4] == 0.0  # no grams → neutral weight, not a dropped row


def test_dsir_select_gumbel_topk(spark):
    """Selection is deterministic given the salts, ∝ softmax(logw): with
    strongly separated weights the target-like docs win; rerun yields the
    identical set (seeded md5 Gumbel, not RNG state)."""
    from punt_spark.dataops import dsir

    target_docs = [(100, "spark shuffle join broadcast agg partition")]
    raw_docs = [
        (i, "spark shuffle join broadcast agg partition") for i in range(5)
    ] + [(i, "cat dog bird fish cow horse") for i in range(5, 10)]
    schema = "doc_id long, text string"
    raw = spark.createDataFrame(raw_docs, schema)
    target = spark.createDataFrame(target_docs, schema)
    sel1 = dsir.dsir_select(raw, target, k=5, n_buckets=64).toPandas()
    sel2 = dsir.dsir_select(raw, target, k=5, n_buckets=64).toPandas()
    assert sorted(sel1["doc_id"]) == sorted(sel2["doc_id"])
    assert set(sel1["doc_id"]) == set(range(5))  # Gumbel can't bridge the gap


# --- textstats -----------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "Hello, world! 42 tokens?"), (1, "one two three")],
        "doc_id long, text string",
    )
    out = textstats.with_token_counts(df).toPandas().set_index("doc_id")
    assert out.loc[0, "n_ws_tokens"] == 4
    assert out.loc[1, "n_ws_tokens"] == 3
    # BPE-ish: Hello , world ! 42 tokens ? → 7
    assert out.loc[0, "n_bpe_tokens"] == 7


def test_quality_score_bounds(docs):
    out = textstats.with_quality(docs).toPandas()
    assert (out["quality_score"] >= 0).all() and (out["quality_score"] <= 1).all()
    # the long English sentences beat the 10-char fragment
    byid = out.set_index("doc_id")["quality_score"]
    assert byid[0] > byid[4]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house ing along"),
            (1, "der hund und ich singen schon wieder in der schule"),
            (2, "le chien de la maison est entré dans la question"),
            (3, "xxxx zzzz qqqq"),
        ],
        "doc_id long, text string",
    )
    out = textstats.with_lang_id(df).toPandas().set_index("doc_id")["lang_pred"]
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "other")],
        "doc_id long, text string",
    )
    out = textstats.with_fingerprint(df).toPandas().set_index("doc_id")
    assert out.loc[0, "fingerprint_md5"] == out.loc[1, "fingerprint_md5"]
    assert out.loc[0, "fingerprint_x64"] == out.loc[1, "fingerprint_x64"]
    assert out.loc[0, "fingerprint_md5"] != out.loc[2, "fingerprint_md5"]


def test_rolling_fingerprints(docs):
    out = textstats.rolling_fingerprints(docs, window_tokens=4).toPandas()
    row0 = out[out.doc_id == 0].iloc[0]
    n_tokens = len(DOCS[0][1].split())
    assert len(row0["rolling_fp"]) == n_tokens - 3


# --- corpus curation (composed pipeline) -------------------------------------------------


def test_validate_conversations(spark):
    from punt_spark.dataops.transcripts import validate_conversations

    rows = [
        ("ok", 0, "user", "hi"), ("ok", 1, "assistant", "hello"),
        ("dup", 0, "user", "a"), ("dup", 0, "assistant", "b"),
        ("gap", 0, "user", "a"), ("gap", 2, "assistant", "b"),
        ("alt", 0, "user", "a"), ("alt", 1, "user", "b"),
        ("empty", 0, "user", "  "), ("empty", 1, "assistant", "x"),
        ("late", 1, "user", "a"), ("late", 2, "assistant", "b"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {
        r["conv_id"]: r
        for r in validate_conversations(df.repartition(5)).collect()
    }
    assert out["ok"]["valid"] and out["ok"]["n_turns"] == 2
    assert out["dup"]["dup_turns"] == 1 and not out["dup"]["valid"]
    assert out["gap"]["gap_turns"] == 1 and not out["gap"]["valid"]
    assert out["alt"]["alternation_breaks"] == 1 and not out["alt"]["valid"]
    assert out["empty"]["empty_turns"] == 1 and not out["empty"]["valid"]
    assert not out["late"]["starts_at_zero"] and not out["late"]["valid"]
    # index-less mode (event streams): only order-based checks apply
    ev = validate_conversations(
        df, idx_col=None, order_cols=("turn_idx",)
    ).collect()
    assert {r["conv_id"]: r["valid"] for r in ev}["late"]  # no index checks
    # index-less with no ordering is a clear error, not a py4j crash
    with pytest.raises(ValueError, match="order_cols is required"):
        validate_conversations(df, idx_col=None)
    with pytest.raises(ValueError, match="order_cols is required"):
        validate_conversations(df, idx_col=None, order_cols=())


def test_chunk_documents(spark):
    from punt_spark.dataops.textstats import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "  ")], "doc_id long, text string"
    )
    out = chunk_documents(df, max_tokens=2).toPandas()
    by_doc = {
        k: g.sort_values("chunk_idx")["chunk_text"].tolist()
        for k, g in out.groupby("doc_id")
    }
    assert by_doc[1] == ["a b", "c d", "e"]
    assert by_doc[2] == ["x"]
    assert 3 not in by_doc  # empty doc → zero chunks
    # overlap: step = max_tokens - overlap; a trailing start fully inside
    # the previous chunk's overlap is dropped (adds no new tokens)
    ov = chunk_documents(df, max_tokens=3, overlap=1).toPandas()
    d1 = ov[ov.doc_id == 1].sort_values("chunk_idx")
    assert d1["chunk_text"].tolist() == ["a b c", "c d e"]
    assert d1["n_chunk_tokens"].tolist() == [3, 3]
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=3, overlap=3)
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(df, max_tokens=0)


def test_normalize_text(spark):
    from punt_spark.dataops.textstats import normalize_text

    messy = "\tA\x07B  mid\u200bdle\u00a0space\x01 end  "
    df = spark.createDataFrame(
        [(1, messy), (2, "plain text"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
    # BEL/SOH controls stripped, ZWSP removed (no space left behind),
    # NBSP + tab + runs collapse to single spaces, ends trimmed
    assert out[1] == "AB middle space end"
    assert out[2] == "plain text"
    assert out[3] is None
    low = normalize_text(df, lowercase=True).collect()
    assert {r["doc_id"]: r["norm_text"] for r in low}[1] == "ab middle space end"


def test_normalize_text_nfc(spark):
    """nfc=True composes decomposed Unicode (e + combining acute -> \u00e9)
    so byte-level dedup keys agree across crawl sources; default path
    leaves code points untouched (JVM-only, no Python hop)."""
    from punt_spark.dataops.textstats import normalize_text

    decomposed = "caf\u0065\u0301 menu"   # "cafe" + combining acute
    composed = "caf\u00e9 menu"
    df = spark.createDataFrame(
        [(0, decomposed), (1, composed), (2, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["norm_text"]
           for r in normalize_text(df, nfc=True).collect()}
    assert out[0] == out[1] == composed
    assert out[2] is None
    # default (nfc=False) stays byte-faithful: the two forms differ
    raw = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
    assert raw[0] != raw[1]


def test_curate_corpus_synthetic(spark):
    from punt_spark.dataops.curation import curate_corpus

    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy cat near the river bank today"),  # near-dup of 0
        (2, "completely different high quality document about spark partitions and shuffles"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (4, "x"),  # low quality (too short)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(docs, min_quality=0.5, near_dup_threshold=0.5)
    retained = {r["doc_id"] for r in out["retained"].select("doc_id").collect()}
    removed = {
        r["doc_id"]: r["reason"] for r in out["removed"].collect()
    }
    assert retained == {0, 2}
    assert removed[4] == "low_quality"
    assert removed[3] == "exact_dup"
    assert removed[1] == "near_dup"
    stats = {r["reason"]: r["n"] for r in out["stats"].collect()}
    assert stats["retained"] == 2
    # accounting is total: every doc is retained or removed exactly once
    assert sum(stats.values()) == len(rows)
    out["unpersist"]()


def test_curate_corpus_full_stages(spark):
    """All optional stages at once: repetition gate, decontamination,
    final PII redaction — total accounting still holds."""
    from punt_spark.dataops.curation import curate_corpus

    rows = [
        (0, "a normal high quality training document email me a@b.io and all these words differ"),
        (1, "spam spam spam spam spam spam spam spam spam spam spam spam"),  # repetition
        (2, "the hidden benchmark answer is exactly forty two okay plus extra training words here"),  # contaminated
        (3, "another clean and useful document with plenty of distinct informative words inside"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "the hidden benchmark answer is exactly forty two okay")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs, min_quality=0.3, max_repetition=0.5, benchmark=bench,
        near_dup_threshold=0.9, redact=True,
    )
    removed = {r["doc_id"]: r["reason"] for r in out["removed"].collect()}
    assert removed[1] == "repetition"
    assert removed[2] == "contaminated"
    ret = out["retained"].collect()
    assert {r["doc_id"] for r in ret} == {0, 3}
    # redaction is IN PLACE: the retained frame's text column is safe to
    # export directly
    red = {r["doc_id"]: r["text"] for r in ret}
    assert "<EMAIL>" in red[0] and "a@b.io" not in red[0]
    stats = {r["reason"]: r["n"] for r in out["stats"].collect()}
    assert sum(stats.values()) == len(rows)
    out["unpersist"]()


def test_dataops_on_real_documents_table(spark):
    """The full dataops surface runs on the driver's real documents table
    (shape check — oracles cover values in test_entry_oracle)."""
    from punt_spark.dataops import textstats
    from punt_spark.dataops.curation import curate_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    enriched = textstats.with_fingerprint(
        textstats.with_quality(textstats.with_token_counts(docs))
    )
    row = enriched.limit(1).collect()[0]
    assert row["n_ws_tokens"] > 0 and 0 <= row["quality_score"] <= 1
    out = curate_corpus(docs, min_quality=0.3, near_dup_threshold=0.8)
    stats = {r["reason"]: r["n"] for r in out["stats"].collect()}
    assert sum(stats.values()) == n
    assert stats.get("retained", 0) > 0
    out["unpersist"]()


def test_dup_clusters_transitive(spark):
    from punt_spark.dataops.dedup import dup_clusters, minhash_dedup_keep

    # chain: 10~11, 11~12 (10≁12 directly), plus isolated pair 20~21
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    # end-to-end: A≈B≈C near-dup chain keeps only A
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # ~0
        (2, "alpha beta gamma delta epsilon zeta eta theta mu lambda"),    # ~1, farther from 0
        (3, "completely different words here nothing shared with others at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {
        r["doc_id"]
        for r in minhash_dedup_keep(docs, threshold=0.5).select("doc_id").collect()
    }
    assert 3 in kept and 0 in kept
    assert kept & {1, 2} == set() or len(kept) <= 3  # chain collapsed


def test_stratified_sample_validates_rates(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, event_type string")
    from punt_spark.dataops.sampling import stratified_sample

    with pytest.raises(ValueError, match="rates must be in"):
        stratified_sample(docs, "doc_id", "event_type", {"a": 30})
    with pytest.raises(ValueError, match="rates must be in"):
        stratified_sample(docs, "doc_id", "event_type", {"a": 0.3}, default_rate=-1)


def test_cap_per_group(spark):
    from punt_spark.dataops.sampling import cap_per_group

    rows = [(i, "hot" if i < 20 else f"s{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_group(df, "source", "doc_id", cap=5).toPandas()
    counts = out.groupby("source").size()
    assert counts["hot"] == 5  # hot domain capped
    assert (counts.drop("hot") == 1).all()  # small domains untouched
    # deterministic: same survivors across runs and partitionings
    again = cap_per_group(df.repartition(7), "source", "doc_id", cap=5).toPandas()
    assert set(out["doc_id"]) == set(again["doc_id"])
    with pytest.raises(ValueError, match="cap must be"):
        cap_per_group(df, "source", "doc_id", cap=0)


def test_temperature_resample(spark):
    """α-temperature mixture resampling: deterministic md5-bucket keep
    decisions, rare sources up-weighted relative to dominant ones for
    α<1, α=1 degenerating to the natural mixture, and NULL sources kept
    via the sentinel key (not silently join-dropped)."""
    from punt_spark.dataops.sampling import temperature_resample

    rows = (
        [(i, "heavy") for i in range(800)]
        + [(1000 + i, "mid") for i in range(150)]
        + [(2000 + i, "rare") for i in range(40)]
        + [(3000 + i, None) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_resample(
        df, "source", "doc_id", alpha=0.5, target_frac=0.5
    ).toPandas()
    assert set(out.columns) == {"doc_id", "source"}
    kept = out.fillna({"source": "<null>"}).groupby("source").size()
    # α=0.5 flattens: rare sources keep a HIGHER fraction than heavy ones
    frac = {
        "heavy": kept.get("heavy", 0) / 800,
        "mid": kept.get("mid", 0) / 150,
        "rare": kept.get("rare", 0) / 40,
        "<null>": kept.get("<null>", 0) / 10,
    }
    assert frac["rare"] > frac["mid"] > frac["heavy"] > 0
    assert frac["<null>"] > 0  # NULL-source rows survive via the sentinel
    # overall volume lands near target_frac (md5 buckets are uniform)
    assert 0.35 < len(out) / 1000 < 0.65
    # deterministic and partitioning-independent
    again = temperature_resample(
        df.repartition(7), "source", "doc_id", alpha=0.5, target_frac=0.5
    ).toPandas()
    assert set(out["doc_id"]) == set(again["doc_id"])
    # α=1: natural mixture — every source keeps ≈ target_frac, and the
    # keep set is EXACTLY the md5-bucket prefix, independent of source
    # (target_frac=0.5 is binary-exact, so p_s == 0.5 with no float dust
    # at the bucket boundary)
    nat = temperature_resample(
        df, "source", "doc_id", alpha=1.0, target_frac=0.5
    ).toPandas()
    from punt_spark.dataops.sampling import hash_bucket

    expect = df.filter(hash_bucket("doc_id", "mix") < 5000).toPandas()
    assert set(nat["doc_id"]) == set(expect["doc_id"])
    with pytest.raises(ValueError, match="alpha"):
        temperature_resample(df, "source", "doc_id", alpha=1.5)
    with pytest.raises(ValueError, match="target_frac"):
        temperature_resample(df, "source", "doc_id", target_frac=0.0)


def test_mixture_stats(spark):
    from punt_spark.dataops.sampling import mixture_stats

    df = spark.createDataFrame(
        [(0, "en", "a", "one two three"), (1, "en", "a", "four five"),
         (2, "de", "b", "sechs"), (3, "de", "b", "   ")],
        "doc_id long, lang string, source string, text string",
    )
    out = {
        (r["lang"], r["source"]): r
        for r in mixture_stats(df, ["lang", "source"]).collect()
    }
    assert out[("en", "a")]["n_docs"] == 2
    assert out[("en", "a")]["n_tokens"] == 5
    assert out[("de", "b")]["n_tokens"] == 1  # whitespace-only doc = 0
    assert abs(out[("en", "a")]["token_share"] - 5 / 6) < 1e-12


def test_idf_score(spark):
    import math

    from punt_spark.dataops.textstats import with_idf_score

    df = spark.createDataFrame(
        [(0, "common common rare"), (1, "common also"), (2, "")],
        "doc_id long, text string",
    )
    # building the plan must launch NO Spark job: N used to be an eager
    # df.count() (a full corpus scan at plan-build time); it now rides the
    # main plan as a broadcast 1-row aggregate
    sc = spark.sparkContext
    sc.setJobGroup("idf-build-probe", "plan build must be lazy")
    try:
        scored = with_idf_score(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("idf-build-probe") == []
    out = {r["doc_id"]: r["idf_score"] for r in scored.collect()}
    # N=3; df(common)=2, df(rare)=1, df(also)=1
    assert abs(out[0] - (math.log(3 / 2) + math.log(3)) / 2) < 1e-12
    assert abs(out[1] - (math.log(3 / 2) + math.log(3)) / 2) < 1e-12
    assert out[2] == 0.0  # empty doc


def test_curate_corpus_source_cap(spark):
    from punt_spark.dataops.curation import curate_corpus

    rows = [
        (i, f"clean useful distinct document number {i} with informative words inside", "hot")
        for i in range(6)
    ] + [(10, "another perfectly fine document from a small source with words", "cold")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate_corpus(docs, min_quality=0.0, max_per_source=2)
    retained = out["retained"].toPandas()
    assert (retained.groupby("source").size()["hot"]) == 2
    removed = {r["doc_id"]: r["reason"] for r in out["removed"].collect()}
    assert list(removed.values()).count("source_cap") == 4
    stats = {r["reason"]: r["n"] for r in out["stats"].collect()}
    assert sum(stats.values()) == len(rows)  # accounting stays total
    out["unpersist"]()
    # cap < 1 raises (shared validation with cap_per_group) — a zero cap
    # must never silently drop the whole corpus
    with pytest.raises(ValueError, match="cap"):
        curate_corpus(docs, min_quality=0.0, max_per_source=0)


def test_curate_corpus_symmetric_injected_pairs(spark):
    """Injected near-dup pairs are normalized to (least, greatest): a
    SYMMETRIC pair list — both (a,b) and (b,a) — must still retain the
    lower id of the group, not remove both endpoints; self-pairs are
    ignored."""
    from punt_spark.dataops.curation import curate_corpus

    rows = [
        (0, "clean useful distinct document number zero with informative words"),
        (1, "clean useful distinct document number one with informative words"),
        (2, "completely different text about spark adaptive query execution"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 2)], "id_a long, id_b long"
    )
    out = curate_corpus(docs, min_quality=0.0, near_dup_pairs=pairs)
    retained = {r["doc_id"] for r in out["retained"].select("doc_id").collect()}
    assert retained == {0, 2}
    removed = {r["doc_id"]: r["reason"] for r in out["removed"].collect()}
    assert removed == {1: "near_dup"}
    out["unpersist"]()


def test_pack_sequences(spark):
    from punt_spark.dataops.packing import pack_sequences

    rows = [(i, " ".join(f"t{j}" for j in range(3 + i % 5))) for i in range(40)]
    rows.append((99, "   "))  # empty doc: 0 tokens
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, "doc_id", budget=10, shards=4).toPandas()
    assert len(out) == len(rows)
    # per shard, offsets reconstruct one contiguous token stream: sorting
    # by the packing order, each doc starts where the previous one ended
    import hashlib

    def order_key(doc_id):
        return (hashlib.md5(f"pack{doc_id}".encode()).hexdigest(), doc_id)

    for shard, grp in out.groupby("shard"):
        grp = grp.sort_values(by="doc_id", key=lambda s: s.map(order_key))
        stream_pos = 0
        for r in grp.itertuples():
            assert r.seq_id == f"{shard}/{stream_pos // 10}"
            assert r.seq_offset == stream_pos % 10
            stream_pos += r.n_tokens
    # deterministic under repartitioning
    again = pack_sequences(
        df.repartition(7), "doc_id", budget=10, shards=4
    ).toPandas()
    a = out.sort_values("doc_id")[["seq_id", "seq_offset"]].values.tolist()
    b = again.sort_values("doc_id")[["seq_id", "seq_offset"]].values.tolist()
    assert a == b
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "doc_id", budget=0)
    # an explicit tokens_col with a NULL count fails LOUDLY (silent NULL
    # seq_id/seq_offset rows were the failure mode)
    tdf = spark.createDataFrame(
        [(1, "a b", 2), (2, "c", None)],
        "doc_id long, text string, n_tok int",
    )
    ok = pack_sequences(
        tdf.filter("n_tok is not null"), "doc_id", budget=10, tokens_col="n_tok"
    )
    assert ok.count() == 1
    with pytest.raises(Exception, match="NULL 'n_tok' for id=2"):
        pack_sequences(tdf, "doc_id", budget=10, tokens_col="n_tok").collect()


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    budget=st.integers(1, 20),
    shards=st.integers(1, 5),
    toks=st.lists(st.integers(0, 50), min_size=1, max_size=25),
)
@settings(max_examples=8, deadline=None)
def test_pack_sequences_straddle_property(spark, budget, shards, toks):
    """Property-pin the cross-shard straddle invariant over arbitrary
    (budget, shards, token counts) — including docs LARGER than the
    budget: within every shard, sorted by the packing order, each doc
    starts exactly where the previous ended; seq_id/seq_offset are pure
    functions of that stream position; a doc with n_tokens > budget
    starts in sequence floor(start/budget) and straddles through
    floor((start+n-1)/budget) — by design, padding-free packing never
    splits or drops it; and the total stream length is conserved."""
    import hashlib

    from punt_spark.dataops.packing import pack_sequences

    rows = [(i, "ignored", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_tok long")
    out = pack_sequences(
        df, "doc_id", budget=budget, tokens_col="n_tok", shards=shards
    ).toPandas()
    assert len(out) == len(toks)
    assert out["n_tokens"].sum() == sum(toks)

    def order_key(i):
        return (hashlib.md5(f"pack{i}".encode()).hexdigest(), i)

    for shard, grp in out.groupby("shard"):
        grp = grp.sort_values(by="doc_id", key=lambda s: s.map(order_key))
        pos = 0
        for r in grp.itertuples():
            assert r.seq_id == f"{shard}/{pos // budget}"
            assert r.seq_offset == pos % budget
            if r.n_tokens > budget:
                # straddling doc: occupies every sequence from its start
                # through floor((start+n-1)/budget), all in this shard
                assert (pos + r.n_tokens - 1) // budget > pos // budget
            pos += r.n_tokens


def test_render_conversations(spark):
    from punt_spark.dataops.transcripts import render_conversations

    rows = [
        ("c1", 1, "assistant", "hi there"),
        ("c1", 0, "user", "hello"),
        ("c1", 2, "user", "bye"),
        ("c2", 0, "user", "solo"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {
        r["conv_id"]: r
        for r in render_conversations(df.repartition(5)).collect()
    }
    assert out["c1"]["text"] == "user: hello\nassistant: hi there\nuser: bye"
    assert out["c1"]["n_turns"] == 3
    assert out["c1"]["roles"] == ["assistant", "user"]
    assert out["c2"]["text"] == "user: solo"
    # NULL role/text render as '' instead of silently vanishing from the
    # document while n_turns still counts them; quote-bearing separators
    # are escaped, not injected into the SQL expr
    nrows = [("c3", 0, None, "orphan"), ("c3", 1, "user", None)]
    ndf = spark.createDataFrame(
        nrows, "conv_id string, turn_idx int, role string, text string"
    )
    nr = render_conversations(ndf, turn_sep="'\\x", role_sep="'; ").collect()[0]
    assert nr["text"] == "'; orphan'\\xuser'; "
    assert nr["n_turns"] == 2
    # rendered output feeds the document ops directly (dedup fingerprint)
    from punt_spark.dataops import textstats

    fp = textstats.with_fingerprint(
        render_conversations(df).withColumnRenamed("conv_id", "doc_id")
    )
    assert fp.select("fingerprint_md5").distinct().count() == 2


def test_curate_training_data_example(spark, tmp_path):
    """The shipped end-to-end example composes curate → split → pack and
    writes per-split packed parquet with audit + mixture side tables."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "curate_example",
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "examples", "curate_training_data.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "td")
    rc = mod.main(["--input", "/root/testdata/sf0.001", "--out", out])
    assert rc == 0
    packed = spark.read.parquet(_os.path.join(out, "packed"))
    assert set(packed.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }
    assert {"seq_id", "seq_offset", "n_tokens"} <= set(packed.columns)
    assert spark.read.parquet(_os.path.join(out, "mixture_stats")).count() > 0


def test_bigram_logprob(spark):
    import math

    from punt_spark.dataops.textstats import with_bigram_logprob

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    # plan build launches NO job (V used to be an eager distinct().count())
    sc = spark.sparkContext
    sc.setJobGroup("blp-build-probe", "plan build must be lazy")
    try:
        scored = with_bigram_logprob(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("blp-build-probe") == []
    out = {
        r["doc_id"]: r["bigram_logprob"]
        for r in scored.collect()
    }
    # corpus bigrams: doc0: (a,b),(b,a),(a,b); doc1: (a,b)
    # c(a b)=3, c(b a)=1; c1(a)=3, c1(b)=1; V = |{a,b,x}| = 3
    p_ab = math.log((3 + 1) / (3 + 3))
    p_ba = math.log((1 + 1) / (1 + 3))
    assert abs(out[0] - (2 * p_ab + p_ba) / 3) < 1e-12
    assert abs(out[1] - p_ab) < 1e-12
    assert out[2] == 0.0 and out[3] == 0.0  # <2 tokens


def _ref_bpe(word_cnt: dict, num_merges: int, min_pair: int = 2):
    """Pure-Python reference BPE trainer (classic algorithm, row-at-a-time)
    — the oracle train_bpe is pinned against."""
    state = {w: list(w) for w in word_cnt}
    merges = []
    for _ in range(num_merges):
        pc: dict = {}
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + word_cnt[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair:
            break
        merges.append((a, b))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges, state


def test_train_bpe_matches_reference(spark):
    from punt_spark.dataops.bpe import apply_bpe, train_bpe

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest",
        "newest newest widest widest widest",
        "low lower newest widest",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc: dict = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want, ref_state = _ref_bpe(wc, num_merges=8)
    got = train_bpe(df, num_merges=8)
    assert got == want and len(got) >= 4
    # encode/train consistency: applying the learned merges in rank order
    # reproduces each training word's final merge state (the invariant
    # BPE encoding relies on)
    enc = {
        r["text"]: r["bpe_tokens"]
        for r in apply_bpe(
            spark.createDataFrame([(w,) for w in wc], "text string"), got
        ).collect()
    }
    for w in wc:
        assert enc[w] == ref_state[w], w
    # determinism under repartitioning
    assert train_bpe(df.repartition(7), num_merges=8) == want


def test_token_frequencies(spark):
    from punt_spark.dataops.textstats import token_frequencies

    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a c"), (2, "  ")], "doc_id long, text string"
    )
    out = {r["token"]: (r["count"], r["doc_freq"])
           for r in token_frequencies(df).collect()}
    assert out == {"a": (3, 2), "b": (1, 1), "c": (1, 1)}


def test_dedup_ingest_loop_multi_batch(spark, tmp_path):
    """D32 production loop: 3 batches with overlapping dupes ingested
    through the persistent fingerprint index — cross-batch dupes dropped,
    within-batch dupes keep the min id, and the accepted corpus equals a
    one-shot dedup of the concatenated batches."""
    from punt_spark.dataops.ingest import DedupIngestor
    from punt_spark.sink import SnapshotTable

    ing = DedupIngestor(
        SnapshotTable(str(tmp_path / "corpus")),
        SnapshotTable(str(tmp_path / "fp_index")),
    )
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta")],
        "doc_id long, text string",
    )
    b3 = spark.createDataFrame(
        [(20, "epsilon zeta"), (21, "eta theta"), (22, "gamma delta")],
        "doc_id long, text string",
    )
    r1 = ing.ingest(b1, "b-001")
    r2 = ing.ingest(b2, "b-002")
    r3 = ing.ingest(b3, "b-003")
    assert (r1["accepted"], r2["accepted"], r3["accepted"]) == (2, 1, 1)
    corpus = {
        r["doc_id"] for r in ing.data.read(spark).select("doc_id").collect()
    }
    assert corpus == {1, 2, 11, 21}
    # re-delivery of a completed batch is a no-op (exactly-once)
    again = ing.ingest(b2, "b-002")
    assert again["skipped"] and ing.data.read(spark).count() == 4


def _neardup_ing(tmp_path, **kw):
    from punt_spark.dataops.ingest import NearDupIngestor
    from punt_spark.sink import SnapshotTable

    kw.setdefault("num_hashes", 8)
    kw.setdefault("bands", 4)
    kw.setdefault("threshold", 0.5)
    return NearDupIngestor(
        SnapshotTable(str(tmp_path / "nd_corpus")),
        SnapshotTable(str(tmp_path / "nd_index")),
        **kw,
    )


def test_neardup_ingest_loop_multi_batch(spark, tmp_path):
    """MinHash ingest loop: exact dup dropped within-batch (shadow rule),
    a one-word near-variant dropped cross-batch against the accepted
    index, short unshingleable docs always accepted, re-delivery
    exactly-once."""
    ing = _neardup_ing(tmp_path)
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today again"),
            (2, "the quick brown fox jumps over the lazy dog today again"),
            (3, "completely different content about databases and shuffles"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy cat today again"),
            (11, "fresh unique text with novel tokens nobody used before"),
            (12, "hi"),
        ],
        "doc_id long, text string",
    )
    r1 = ing.ingest(b1, "b-1")
    r2 = ing.ingest(b2, "b-2")
    assert (r1["accepted"], r2["accepted"]) == (2, 2)
    corpus = {
        r["doc_id"] for r in ing.data.read(spark).select("doc_id").collect()
    }
    assert corpus == {1, 3, 11, 12}
    assert ing.ingest(b2, "b-2")["skipped"]
    # the short doc contributed no index rows (nothing to near-match)
    idx_ids = {
        r["doc_id"] for r in ing.index.read(spark).select("doc_id").collect()
    }
    assert 12 not in idx_ids and {1, 3, 11} <= idx_ids


def test_neardup_ingest_crash_between_data_and_index(spark, tmp_path):
    """Same crash-window contract as the exact ingestor: a crash after
    the data commit but before the index append replays to the identical
    accepted set (the index cannot contain the batch's own bands)."""
    ing = _neardup_ing(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta iota"),
            (11, "unrelated corpus text with many other novel words here"),
        ],
        "doc_id long, text string",
    )
    assert ing.ingest(b1, "b-1")["accepted"] == 1

    real_commit = ing.index.commit

    def failing_commit(*a, **kw):
        raise RuntimeError("injected crash before index append")

    ing.index.commit = failing_commit
    with pytest.raises(RuntimeError):
        ing.ingest(b2, "b-2")
    ing.index.commit = real_commit
    assert ing.data.has_snapshot("b-2")
    assert not ing.index.has_snapshot("b-2")
    r = ing.ingest(b2, "b-2")
    assert r["skipped"] is False and r["accepted"] == 1
    corpus = {
        r["doc_id"] for r in ing.data.read(spark).select("doc_id").collect()
    }
    assert corpus == {1, 11}


def test_neardup_ingest_hot_band_star(spark, tmp_path):
    """History-side hot band key past max_band_fanout → star degrade:
    the index is hand-seeded with many entries sharing every band (same
    signature), and an incoming copy is still dropped via the anchor
    comparison — the hot path must not silently lose the match."""
    ing = _neardup_ing(tmp_path, max_band_fanout=2)
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame([(1, text)], "doc_id long, text string")
    assert ing.ingest(b1, "b-1")["accepted"] == 1
    # seed 4 more index rows with the SAME signature/bands (ids 2..5) —
    # fanout 5 > cap 2 on every band key of the incoming doc
    idx = ing.index.read(spark)
    extra = idx.crossJoin(
        spark.range(2, 6).select(F.col("id").alias("__nid"))
    ).select(
        "band_idx", "band_hash", F.col("__nid").alias("doc_id"), "sig"
    )
    ing.index.commit(extra, snapshot_id="seed", partition_cols=[])
    b2 = spark.createDataFrame([(10, text)], "doc_id long, text string")
    assert ing.ingest(b2, "b-2")["accepted"] == 0


def test_neardup_ingest_within_batch_viral_cap(spark, tmp_path):
    """A viral cluster arriving in ONE batch (the backlog-drain shape)
    past max_band_fanout takes the within-batch star path: exactly the
    min-id member survives, never O(c²) pairs."""
    ing = _neardup_ing(tmp_path, max_band_fanout=3)
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text) for i in range(10)] + [
        (100, "different words entirely for the unrelated control doc")
    ]
    b = spark.createDataFrame(rows, "doc_id long, text string")
    assert ing.ingest(b, "b-1")["accepted"] == 2
    corpus = {
        r["doc_id"] for r in ing.data.read(spark).select("doc_id").collect()
    }
    assert corpus == {0, 100}


def test_neardup_ingest_validation():
    from punt_spark.dataops.ingest import NearDupIngestor

    with pytest.raises(ValueError, match="divide"):
        NearDupIngestor(None, None, num_hashes=7, bands=4)
    with pytest.raises(ValueError, match="sig_mode"):
        NearDupIngestor(None, None, sig_mode="sha9")


def test_neardup_ingest_custom_id_col(spark, tmp_path):
    """A non-default id column (different name AND type) must work from
    the very first batch — the empty-history schema inherits the id
    column from the batch instead of hardcoding 'doc_id long'."""
    ing = _neardup_ing(tmp_path, id_col="msg_id")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [("m-1", text), ("m-2", "totally unrelated other words here okay")],
        "msg_id string, text string",
    )
    assert ing.ingest(b1, "b-1")["accepted"] == 2
    b2 = spark.createDataFrame(
        [("m-3", text + " kappa")], "msg_id string, text string"
    )
    assert ing.ingest(b2, "b-2")["accepted"] == 0


def test_neardup_ingest_lsh_config_guard(spark, tmp_path):
    """An index built under one LSH geometry must refuse an ingestor with
    another: the stored bands would never collide with the new geometry
    and every near-dup would be silently re-accepted. Same config across
    a restart keeps working; an EMPTY index adopts the new config."""
    from punt_spark.dataops.ingest import NearDupIngestor

    ing = _neardup_ing(tmp_path)
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame([(1, text)], "doc_id long, text string")
    ing.ingest(b1, "b-1")

    # restart with the SAME geometry → fine (cross-batch dedup fires)
    same = _neardup_ing(tmp_path)
    b2 = spark.createDataFrame([(2, text)], "doc_id long, text string")
    assert same.ingest(b2, "b-2")["accepted"] == 0

    # restart with a DIFFERENT geometry → hard error, not silent drift
    other = _neardup_ing(tmp_path, num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="LSH config mismatch"):
        other.ingest(b2, "b-3")

    # a fresh (snapshot-less) index adopts whatever config arrives
    fresh = NearDupIngestor(
        ing.data.__class__(str(tmp_path / "other_corpus")),
        ing.index.__class__(str(tmp_path / "other_index")),
        num_hashes=8,
        bands=4,
        threshold=0.5,
    )
    fresh._check_index_compat(b2)
    refit = NearDupIngestor(
        fresh.data,
        fresh.index,
        num_hashes=16,
        bands=8,
        threshold=0.5,
    )
    assert refit.ingest(b2, "b-1")["accepted"] == 1


def test_ingest_stream_rejects_conflicting_args(tmp_path):
    """text_col/id_col/broadcast_hints configure the DEFAULT ingestor;
    silently ignoring them next to an explicit ingestor would dedup on
    the wrong column."""
    from punt_spark.dataops.ingest import ingest_stream

    ing = _neardup_ing(tmp_path)
    with pytest.raises(ValueError, match="explicit ingestor"):
        ingest_stream(
            None,
            "in",
            ing.data,
            ing.index,
            "ck",
            text_col="body",
            ingestor=ing,
        )


def test_md5_minhash_signatures_pinned(spark):
    """The exploded-aggregate formulation must produce exactly the
    per-permutation min of md5('j' + US + shingle) — pinned against a
    pure-Python replay so the shape can never drift from the DuckDB
    oracle's formula."""
    import hashlib

    from punt_spark.dataops.dedup import md5_minhash_signatures

    text = "one two three four five"
    toks = text.split()
    shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    expected = [
        min(
            hashlib.md5(f"{j}\x1f{s}".encode()).hexdigest()
            for s in shingles
        )
        for j in range(4)
    ]
    df = spark.createDataFrame(
        [(1, text), (2, "too short")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["sig"]
        for r in md5_minhash_signatures(df).collect()
    }
    assert rows == {1: expected}  # doc 2 has no shingles → excluded


def test_dedup_ingest_crash_between_data_and_index(spark, tmp_path):
    """Crash AFTER the data commit but BEFORE the index append: the retry
    must neither lose the batch (self-dedup against its own fingerprints)
    nor double-drop; the final state matches the no-crash run exactly."""
    from punt_spark.dataops.ingest import DedupIngestor
    from punt_spark.sink import SnapshotTable

    ing = DedupIngestor(
        SnapshotTable(str(tmp_path / "corpus")),
        SnapshotTable(str(tmp_path / "fp_index")),
    )
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta"), (12, "epsilon zeta")],
        "doc_id long, text string",
    )
    assert ing.ingest(b1, "b-001")["accepted"] == 2

    # inject the crash: index.commit raises once, after data committed
    real_commit = ing.index.commit
    calls = {"n": 0}

    def failing_commit(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("injected crash before index append")

    ing.index.commit = failing_commit
    try:
        ing.ingest(b2, "b-002")
    except RuntimeError:
        pass
    ing.index.commit = real_commit
    assert calls["n"] == 1
    # data snapshot landed, index marker did not → batch is NOT done
    assert ing.data.has_snapshot("b-002")
    assert not ing.index.has_snapshot("b-002")

    # retry: same accepted set, no loss (11 survives), no double-drop
    r = ing.ingest(b2, "b-002")
    assert r["skipped"] is False and r["accepted"] == 1
    corpus = {
        r["doc_id"] for r in ing.data.read(spark).select("doc_id").collect()
    }
    assert corpus == {1, 2, 11}
    # index now covers every accepted doc: a later dup of 11 is dropped
    b3 = spark.createDataFrame(
        [(30, "epsilon zeta")], "doc_id long, text string"
    )
    assert ing.ingest(b3, "b-003")["accepted"] == 0


def test_quantize_codes_are_narrow(vectors):
    """The advertised 4× shrink must be real on the wire: int8 codes are
    array<tinyint> (1 byte/element), 16-bit codes array<smallint> — not
    bigint arrays larger than the float input they compress."""
    from pyspark.sql.types import ByteType, ShortType

    df, _ = vectors
    q8 = similarity.quantize_embeddings(df, out="q")
    assert q8.schema["q"].dataType.elementType == ByteType()
    q12 = similarity.quantize_embeddings(df, out="q", bits=12)
    assert q12.schema["q"].dataType.elementType == ShortType()


def test_ivf_topk_quantized_recall(vectors):
    """D8+D28 composition: IVF probing over int8 codes — recall@5 ≥ 0.9
    vs exact float search with nprobe=2 of 4 cells, while scanning
    tinyint codes instead of float64 vectors inside each probed cell."""
    df, pdf = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivf_topk_quantized(
        df, queries, k=5, n_cells=4, nprobe=2
    ).toPandas()
    want = _np_topk(pdf, range(5), 5)
    hits = sum(
        len(set(got[got.query_id == q]["vec_id"]) & set(want[q]))
        for q in range(5)
    )
    assert hits / 25 >= 0.9


def test_ingest_stream_neardup(spark, tmp_path):
    """The streaming daemon with the MinHash engine swapped in
    (ingest_stream(ingestor=NearDupIngestor(...))): a cross-drain NEAR
    variant (one word changed) is dropped via the persistent band index;
    novel text passes."""
    import os as _os
    import time as _time

    from punt_spark.dataops.ingest import ingest_stream

    src = str(tmp_path / "nd_docs_in")
    _os.makedirs(src)

    def write_file(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(_os.path.join(src, name))

    ing = _neardup_ing(tmp_path)
    ck = str(tmp_path / "nd_ckpt")

    write_file(
        "f1",
        [(1, "the quick brown fox jumps over the lazy dog today again")],
    )
    ingest_stream(spark, src + "/*", ing.data, ing.index, ck, ingestor=ing)
    _time.sleep(1.1)
    write_file(
        "f2",
        [
            (10, "the quick brown fox jumps over the lazy cat today again"),
            (11, "fresh unique text with novel tokens nobody used before"),
        ],
    )
    ingest_stream(spark, src + "/*", ing.data, ing.index, ck, ingestor=ing)
    assert {
        r["doc_id"] for r in ing.data.read(spark).collect()
    } == {1, 11}


def test_ingest_stream_continuous_dedup(spark, tmp_path):
    """Streaming ingest daemon (readStream -> foreachBatch ->
    DedupIngestor): two drains over a growing directory — cross-drain
    dupes are dropped via the persistent fingerprint index, and the
    checkpoint prevents re-reading already-consumed files (re-draining
    with no new files is a no-op)."""
    import os as _os
    import time as _time

    from punt_spark.dataops.ingest import ingest_stream
    from punt_spark.sink import SnapshotTable

    src = str(tmp_path / "docs_in")
    _os.makedirs(src)

    def write_file(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(_os.path.join(src, name))

    data = SnapshotTable(str(tmp_path / "corpus"))
    index = SnapshotTable(str(tmp_path / "fp_index"))
    ck = str(tmp_path / "ckpt")

    write_file("f1", [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")])
    ingest_stream(spark, src + "/*", data, index, ck)
    assert {r["doc_id"] for r in data.read(spark).collect()} == {1, 2}

    _time.sleep(1.1)  # file source orders by mod time
    write_file("f2", [(10, "alpha beta"), (11, "epsilon zeta")])
    ingest_stream(spark, src + "/*", data, index, ck)
    corpus = {r["doc_id"] for r in data.read(spark).collect()}
    assert corpus == {1, 2, 11}  # 10 deduped against drain-1's index

    # third drain with nothing new: checkpoint says no files -> no-op
    ingest_stream(spark, src + "/*", data, index, ck)
    assert {r["doc_id"] for r in data.read(spark).collect()} == corpus
    # index holds exactly the accepted fingerprints (one per survivor)
    assert index.read(spark).count() == 3


@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet="abcdefg  ​\t",
                min_size=0,
                max_size=40,
            ),
            st.sampled_from(["sA", "sB"]),
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=3),
)
@settings(max_examples=6, deadline=None)
def test_curate_corpus_total_accounting_property(corpus_rows, cap):
    """Invariant over arbitrary corpora (messy unicode text, tiny caps):
    every input doc appears EXACTLY once across retained ∪ removed, with
    a recognized reason — no doc is lost or double-attributed regardless
    of which optional stages fire."""
    from punt_spark.dataops.curation import curate_corpus
    from punt_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    rows = [(i, t, s) for i, (t, s) in enumerate(corpus_rows)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(999, "aaa bbb ccc ddd eee shared benchmark phrase here")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs,
        min_quality=0.3,
        max_repetition=0.9,
        benchmark=bench,
        decontam_shingle_n=3,
        near_dup_threshold=0.5,
        max_per_source=cap,
    )
    try:
        retained = [r["doc_id"] for r in out["retained"].select("doc_id").collect()]
        removed = [(r["doc_id"], r["reason"]) for r in out["removed"].collect()]
        all_ids = sorted(retained + [d for d, _ in removed])
        assert all_ids == [r[0] for r in rows], (retained, removed)
        valid = {
            "low_quality", "repetition", "lang", "contaminated",
            "exact_dup", "near_dup", "source_cap",
        }
        assert {r for _, r in removed} <= valid
        # the cap truly holds on the retained frame
        from collections import Counter

        per_src = Counter(
            r["source"] for r in out["retained"].select("source").collect()
        )
        assert all(v <= cap for v in per_src.values()), per_src
    finally:
        out["unpersist"]()


def test_trim_repeated_spans_matches_python(spark):
    """Cross-doc repeated-span removal vs a pure-Python reference: hot
    4-grams (>= 2 distinct docs) cover tokens [p, p+3]; covered tokens
    drop, unique content survives verbatim; doc with no hot grams
    round-trips modulo whitespace normalization."""
    from punt_spark.dataops.dedup import repeated_ngrams, trim_repeated_spans

    rows = [
        (0, "LICENSE apache two point oh all rights reserved unique alpha one"),
        (1, "LICENSE apache two point oh all rights reserved unique beta two"),
        (2, "totally original content with no shared boilerplate anywhere"),
        (3, "tail overlap case all rights reserved unique gamma three"),
        (4, ""),
    ]
    n, min_docs = 4, 2

    def py_reference():
        toks = {i: [t for t in txt.lower().strip().split() if t] for i, txt in rows}
        grams = {
            i: {
                (p, " ".join(tk[p:p + n]))
                for p in range(len(tk) - n + 1)
            }
            for i, tk in toks.items()
        }
        from collections import Counter

        df_count = Counter()
        for i, gs in grams.items():
            for g in {g for _, g in gs}:
                df_count[g] += 1
        hot = {g for g, c in df_count.items() if c >= min_docs}
        out = {}
        for i, tk in toks.items():
            covered = set()
            for p, g in grams[i]:
                if g in hot:
                    covered.update(range(p, p + n))
            kept = [t for j, t in enumerate(tk) if j not in covered]
            out[i] = (" ".join(kept), len(tk) - len(kept))
        return out, hot

    want, want_hot = py_reference()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_hot = {r["gram"] for r in repeated_ngrams(df, n=n, min_docs=min_docs).collect()}
    assert got_hot == want_hot
    got = {
        r["doc_id"]: (r["trimmed_text"], r["n_trimmed_tokens"])
        for r in trim_repeated_spans(df, n=n, min_docs=min_docs).collect()
    }
    assert got == want


def test_cosine_degenerate_vectors_never_crash_or_outrank(spark):
    """Zero-norm embeddings (failed embeds/padding) and NaN components
    must neither abort the job (ANSI DIVIDE_BY_ZERO) nor outrank real
    matches (NaN sorts first under desc): both map to NULL sim and drop
    out of top-k."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # zero norm
        (3, [float("nan"), 1.0, 0.0, 0.0]),  # NaN component
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    got = similarity.cosine_topk(df, q, k=2).toPandas()
    assert list(got.sort_values("rank")["vec_id"]) == [0, 1]
    # zero-norm QUERY also survives: its sims are all NULL -> no rows
    qz = spark.createDataFrame(
        [(9, [0.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    assert similarity.cosine_topk(df, qz, k=2).count() == 0


def test_ivf_topk_empty_query_set(spark):
    """An empty query frame returns an empty result with the shared
    (query_id, vec_id, sim, rank) contract — not a np.stack crash."""
    rows = [(i, [float(i), 1.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(df, q, k=3, n_cells=2)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "sim", "rank"}


def test_token_counts_empty_text_is_zero(spark):
    """split('') yields [''] — the phantom token must not count:
    empty/whitespace docs report 0 ws tokens, consistent with bpe."""
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
           for r in textstats.with_token_counts(df).collect()}
    assert got == {0: (0, 0), 1: (0, 0), 2: (2, 2)}


def test_pack_sequences_tied_ids_do_not_overlap(spark):
    """Duplicate ids tie on the full window ordering key; the ROWS frame
    must still give them non-overlapping cumulative offsets (a RANGE
    frame peer-summed ties and double-booked the budget)."""
    from punt_spark.dataops.packing import pack_sequences

    rows = [(7, "a b c d e"), (7, "x y z w v u t"), (8, "k l m")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, "doc_id", budget=100, shards=1).toPandas()
    spans = sorted(
        (int(r.seq_offset), int(r.seq_offset + r.n_tokens))
        for r in out.itertuples()
    )
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 <= s2, f"overlapping packed spans {spans}"
    assert spans[-1][1] == 5 + 7 + 3  # offsets partition the full stream


def test_gopher_rules_signals_and_pass(spark):
    from punt_spark.dataops.textstats import gopher_rules

    rows = [
        # passes all (with min_words=5): 8 words, has 'the' and 'and'
        (0, "the cat and dog walked over green hills"),
        # too few words
        (1, "the and"),
        # no required stopwords
        (2, "cats dogs walk over green hills very quickly"),
        # symbol-heavy: 3 symbols / 8 words > 0.1
        (3, "the cat # and dog ... walked # quickly"),
        # alpha fraction low: 5 of 8 words numeric
        (4, "the 12 34 56 and 78 90 cat"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(df, min_words=5, max_words=100).collect()
    }
    assert got[0]["n_words"] == 8
    assert got[0]["n_stop_types"] == 2  # the, and
    assert got[0]["alpha_frac"] == 1.0
    assert got[0]["gopher_pass"]
    assert not got[1]["words_ok"] and not got[1]["gopher_pass"]
    assert got[2]["n_stop_types"] == 0 and not got[2]["stop_ok"]
    # doc 3: symbols '#','...','#' = 3 over 9 whitespace words (symbol
    # tokens ARE words under the whitespace split) = 0.3333
    assert got[3]["symbol_ratio"] == pytest.approx(round(3 / 9, 4))
    assert not got[3]["symbol_ok"]
    assert got[4]["alpha_frac"] == pytest.approx(round(3 / 8, 4))
    assert not got[4]["alpha_ok"]
    # empty text: zero words, all ratios 0, fails word rule, no crash
    assert got[5]["n_words"] == 0 and not got[5]["gopher_pass"]
    # canonical defaults exposed: Gopher's published stopword list
    from punt_spark.dataops.textstats import GOPHER_STOPWORDS

    assert "that" in GOPHER_STOPWORDS and len(GOPHER_STOPWORDS) == 8


def test_cluster_winners_and_keep_best(spark):
    from punt_spark.dataops.dedup import (
        cluster_winners,
        dup_clusters,
        minhash_dedup_keep_best,
    )

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21)], "id_a long, id_b long"
    )
    clusters = dup_clusters(pairs)
    scored = spark.createDataFrame(
        # cluster {10,11,12}: 11 has the top score; cluster {20,21}: tie
        # score -> min id (20) must win deterministically
        [(10, 5.0), (11, 9.0), (12, 7.0), (20, 3.0), (21, 3.0)],
        "doc_id long, s double",
    )
    got = {
        r["cluster_id"]: r.asDict()
        for r in cluster_winners(clusters, scored, score_col="s").collect()
    }
    assert got[10]["keep_id"] == 11 and got[10]["n_members"] == 3
    assert got[10]["best_score"] == 9.0
    assert got[20]["keep_id"] == 20 and got[20]["n_members"] == 2

    # end-to-end: near-dup chain keeps the LONGEST member, not the min id;
    # the unrelated singleton always survives
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa xx"),
        (2, "totally unrelated words that share nothing with the others"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    )
    kept = {
        r["doc_id"]
        for r in minhash_dedup_keep_best(
            docs, score_col="n_chars", threshold=0.5
        ).collect()
    }
    assert kept == {1, 2}


def test_dedup_boilerplate_turns(spark):
    import datetime as dt

    from punt_spark.dataops.transcripts import (
        boilerplate_turn_stats,
        dedup_boilerplate_turns,
    )

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        # 'hello' appears in three convs; the EARLIEST ts is turn 7 (not
        # the min id) — stream order wins over id order
        (7, t0 + 0 * s, "c1", "hello"),
        (3, t0 + 5 * s, "c2", "hello"),
        (9, t0 + 9 * s, "c3", "hello"),
        # tied ts: min id (4) is the deterministic tie-break
        (8, t0 + 2 * s, "c1", "run tool"),
        (4, t0 + 2 * s, "c2", "run tool"),
        # unique text survives untouched
        (5, t0 + 3 * s, "c1", "unique answer"),
    ]
    df = spark.createDataFrame(
        rows, "turn_id long, ts timestamp, conv_id string, text string"
    )
    kept = {
        r["turn_id"] for r in dedup_boilerplate_turns(df).collect()
    }
    assert kept == {7, 4, 5}

    stats = {
        r["keep_turn_id"]: r.asDict()
        for r in boilerplate_turn_stats(df).collect()
    }
    assert stats[7]["n_copies"] == 3 and stats[7]["n_convs"] == 3
    assert stats[4]["n_copies"] == 2 and stats[4]["n_convs"] == 2
    assert stats[5]["n_copies"] == 1


def test_contamination_scores(spark):
    from punt_spark.dataops.dedup import contamination_scores

    corpus = spark.createDataFrame(
        [
            # 6 words -> 2 distinct 5-grams, one of them in the benchmark
            (0, "alpha beta gamma delta epsilon zeta"),
            # fully clean
            (1, "one two three four five six"),
            # too short to shingle: survives with 0 / 0.0
            (2, "tiny doc"),
            # exact benchmark copy: frac 1.0
            (3, "alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in contamination_scores(corpus, bench).collect()
    }
    assert len(got) == 4  # total over the corpus, short doc included
    assert got[0]["n_shingles"] == 2 and got[0]["n_contaminated"] == 1
    assert got[0]["contamination_frac"] == pytest.approx(0.5)
    assert got[1]["n_contaminated"] == 0
    assert got[1]["contamination_frac"] == 0.0
    assert got[2]["n_shingles"] == 0 and got[2]["contamination_frac"] == 0.0
    assert got[3]["contamination_frac"] == 1.0


def test_dup_source_matrix(spark):
    from punt_spark.dataops.dedup import dup_source_matrix

    docs = spark.createDataFrame(
        [(1, "web"), (2, "web"), (3, "books"), (4, "books"), (5, "code")],
        "doc_id long, source string",
    )
    # (1,3) and (4,2) are the SAME unordered (books, web) cell; (1,2) is
    # the within-source diagonal
    pairs = spark.createDataFrame(
        [(1, 3), (4, 2), (1, 2), (3, 5)], "id_a long, id_b long"
    )
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in dup_source_matrix(pairs, docs).collect()
    }
    assert got == {
        ("books", "web"): 2,
        ("web", "web"): 1,
        ("books", "code"): 1,
    }


def test_gopher_rules_property(spark):
    """Property: gopher_rules' signals equal a pure-Python twin on
    arbitrary ASCII corpora (ASCII by contract — same Java-vs-Python \\s
    note as test_simhash16_property), and gopher_pass is exactly the
    conjunction of the rule flags."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from punt_spark.dataops.textstats import gopher_rules

    def r4(x):
        # Spark round(): BigDecimal HALF_UP over the double's shortest
        # decimal repr — mirror exactly, not with banker's round()
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    stop = ("the", "a")

    def py_gopher(t):
        ws = [w for w in re.split(r"\s+", t.strip()) if w != ""]
        n = len(ws)
        nonws = len(re.sub(r"\s+", "", t))
        nsym = len(re.findall(r"(#|\.\.\.)", t))
        nalpha = sum(1 for w in ws if re.search("[A-Za-z]", w))
        low = {w.lower() for w in ws}
        nstop = sum(1 for s in stop if s in low)
        return {
            "n_words": n,
            "mean_word_len": r4(nonws / n) if n else 0.0,
            "symbol_ratio": r4(nsym / n) if n else 0.0,
            "alpha_frac": r4(nalpha / n) if n else 0.0,
            "n_stop_types": nstop,
        }

    ascii_text = st.text(
        alphabet=st.sampled_from(
            list("abcdefghijk the a ... # 0123456789 .,!-")
        ),
        min_size=0,
        max_size=80,
    )

    @settings(max_examples=5, deadline=None)
    @given(st.lists(ascii_text, min_size=1, max_size=6))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = {
            r["doc_id"]: r.asDict()
            for r in gopher_rules(
                df, min_words=3, max_words=20, stopwords=stop
            ).collect()
        }
        for i, t in enumerate(texts):
            exp = py_gopher(t)
            got = rows[i]
            for k, v in exp.items():
                assert got[k] == v, (k, repr(t), got[k], v)
            flags = [
                got["words_ok"], got["mean_word_len_ok"], got["symbol_ok"],
                got["alpha_ok"], got["stop_ok"],
            ]
            assert got["gopher_pass"] == all(flags), repr(t)

    check()


def test_ingest_admission_filter(spark, tmp_path):
    """Filter-at-ingest: quality gating runs at the door of each batch,
    rejected docs are neither committed nor indexed (a later duplicate
    of a rejected doc is re-judged on its own text, and a later
    duplicate of an ACCEPTED doc is still deduped), and a filter that
    reshapes the schema is a hard error."""
    from punt_spark.dataops.ingest import DedupIngestor, ingest_stream
    from punt_spark.sink import SnapshotTable

    ing = DedupIngestor(
        SnapshotTable(str(tmp_path / "corpus")),
        SnapshotTable(str(tmp_path / "fp_index")),
        admission_filter=lambda df: df.filter(F.length("text") >= 10),
    )
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "tiny"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    r1 = ing.ingest(b1, "b-001")
    assert r1["accepted"] == 1  # doc 2 rejected, doc 3 deduped vs 1
    # duplicate of the REJECTED doc: not in the index, so it reaches the
    # filter — and is rejected on its own text, not via dedup
    b2 = spark.createDataFrame(
        [(10, "tiny"), (11, "alpha beta gamma"), (12, "delta epsilon zz")],
        "doc_id long, text string",
    )
    r2 = ing.ingest(b2, "b-002")
    assert r2["accepted"] == 1  # 10 rejected, 11 deduped, 12 accepted
    corpus = {
        r["doc_id"] for r in ing.data.read(spark).select("doc_id").collect()
    }
    assert corpus == {1, 12}
    # index holds exactly the accepted corpus's fingerprints
    assert ing.index.read(spark).count() == 2

    bad = DedupIngestor(
        SnapshotTable(str(tmp_path / "c2")),
        SnapshotTable(str(tmp_path / "i2")),
        admission_filter=lambda df: df.drop("text"),
    )
    with pytest.raises(ValueError, match="preserve the batch schema"):
        bad.ingest(b1, "b-001")

    # ingest_stream: admission_filter configures the DEFAULT ingestor
    # only — combining it with an explicit ingestor is rejected
    with pytest.raises(ValueError, match="admission_filter"):
        ingest_stream(
            spark,
            str(tmp_path / "in"),
            ing.data,
            ing.index,
            str(tmp_path / "ckpt"),
            admission_filter=lambda df: df,
            ingestor=ing,
        )


def test_gopher_repetition(spark):
    """Gopher Table A1 repetition signals vs a pure-Python twin:
    overlap-counting top-gram fractions (can exceed 1 on degenerate
    fully-repeated text, matching public implementations), position-
    UNION duplicate coverage (overlapping duplicates counted once), and
    empty/1-token totality."""
    from punt_spark.dataops.textstats import gopher_repetition

    def py_signals(t, top_ns=(2, 3, 4), dup_ns=(5, 6)):
        toks = t.lower().split()
        L = [len(x) for x in toks]
        total = sum(L)
        out = {}
        for n in top_ns:
            grams = [
                " ".join(toks[i : i + n])
                for i in range(len(toks) - n + 1)
            ]
            if not grams or not total:
                out[f"top_{n}gram_char_frac"] = 0.0
                continue
            # max on (count, gram string length) — the engine tie-break
            cnt, ln = max(
                (grams.count(g), len(g)) for g in grams
            )
            out[f"top_{n}gram_char_frac"] = round(
                cnt * (ln - (n - 1)) / total, 4
            )
        for n in dup_ns:
            grams = [
                " ".join(toks[i : i + n])
                for i in range(len(toks) - n + 1)
            ]
            if not grams or not total:
                out[f"dup_{n}gram_char_frac"] = 0.0
                continue
            dup_starts = [
                i for i, g in enumerate(grams) if grams.count(g) >= 2
            ]
            covered = {
                j for i in dup_starts for j in range(i, i + n)
            }
            out[f"dup_{n}gram_char_frac"] = round(
                sum(L[j] for j in covered) / total, 4
            )
        return out

    rows = [
        (0, "spam spam spam spam spam spam"),
        (1, "a b c d e f g h i j"),
        (2, "one two three four five one two three four five tail"),
        (3, "x y x y x y q r s t u v w"),
        (4, ""),
        (5, "solo"),
        (6, "p q r s t p q r s t p q r s t"),  # overlapping dup 5-grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition(df, dup_ns=(5, 6)).collect()
    }
    for i, t in rows:
        exp = py_signals(t)
        for k, v in exp.items():
            assert got[i][k] == pytest.approx(v), (i, k, got[i][k], v)
    # degenerate text: overlapping top-gram occurrences push past 1.0
    assert got[0]["top_2gram_char_frac"] > 1.0
    # doc 6: every position covered by a duplicated 5-gram exactly once
    assert got[6]["dup_5gram_char_frac"] == 1.0
    assert got[4]["repetition_pass"] and got[5]["repetition_pass"]


def test_gopher_repetition_sort_branch_matches_count(spark):
    """The O(G log G) sorted-runs branch (docs past sort_cutover) must
    emit bit-identical signals to the O(G²) count branch — planted on
    long docs ABOVE the cutover (the oracle fixtures never cross it) in
    all three plan modes: count-only (sort_cutover=None), sort-only
    (sort_cutover=0), and the default split."""
    import random

    from punt_spark.dataops.textstats import gopher_repetition

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]  # small vocab → real duplicates
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(n)))
        for i, n in enumerate((150, 200, 129, 300, 50, 400))
    ] + [(9, None)]  # NULL text must survive every mode
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(top_ns=(2, 3), dup_ns=(2, 5), dup_thresholds={2: 0.5, 5: 0.3})

    def run(cutover):
        return {
            r["doc_id"]: tuple(
                r[c] for c in sorted(r.asDict()) if c.startswith(("top_", "dup_", "repetition"))
            )
            for r in gopher_repetition(df, sort_cutover=cutover, **kw).collect()
        }

    count_only = run(None)
    sort_only = run(0)
    split = run(128)
    assert count_only == sort_only == split
    assert len(count_only) == len(rows)  # no row lost/duplicated by the split


def test_bigram_logprob_train_df(spark):
    """CCNet reference-LM mode: counts/vocab from train_df, unseen
    bigrams and unseen unigrams take the smoothing floor (left joins)
    instead of being dropped from the average."""
    import math

    from punt_spark.dataops.textstats import with_bigram_logprob

    train = spark.createDataFrame(
        [(100, "a b a c")], "doc_id long, text string"
    )  # c12: (a,b)=1,(b,a)=1,(a,c)=1; c1: a=2,b=1; V=3
    raw = spark.createDataFrame(
        [
            (1, "a b z"),  # seen (a,b) + unseen (b,z) with seen w1
            (2, "z q"),    # fully unseen incl. w1
            (3, "solo"),   # < 2 tokens -> 0.0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bigram_logprob"]
        for r in with_bigram_logprob(raw, train_df=train).collect()
    }
    exp1 = (math.log((1 + 1) / (2 + 3)) + math.log((0 + 1) / (1 + 3))) / 2
    exp2 = math.log((0 + 1) / (0 + 3))
    assert got[1] == pytest.approx(exp1)
    assert got[2] == pytest.approx(exp2)
    assert got[3] == 0.0
