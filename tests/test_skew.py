"""Skew-hardening evidence (SURVEY.md §4): measured per-task balance under
planted pathological skew — a viral template sitting exactly at the LSH
``max_bucket`` boundary, and a hot conversation owning most of a write.

These tests assert BALANCE RATIOS (max/mean rows per task partition), the
sandbox-measurable proxy for task-time skew: every row of these plans costs
the same work, so rows-per-task tracks task time.
"""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from punt_spark.dataops import dedup
from punt_spark.sink import salted_write_layout


def _partition_balance(df) -> tuple[int, float, int]:
    """(max, mean, n_nonempty) rows per partition of df as computed —
    spark_partition_id() is evaluated map-side on the frame's own tasks
    (single linear use; never branched — see build notes)."""
    rows = (
        df.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in rows]
    return max(counts), sum(counts) / len(counts), len(counts)


@contextmanager
def _conf_scope(spark, confs: dict[str, str]):
    """Set session confs for the block, then restore them. conf.get(k, None)
    is None for confs never explicitly set — restoring those means UNSET,
    not skip (a skipped restore would leak the toy thresholds into the
    shared session fixture for every later test)."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_band_join_hot_bucket_at_cap_boundary(spark):
    """One viral template with EXACTLY max_bucket members (the largest
    bucket the cap lets through → O(max_bucket²) pairs on a single join
    key) plus background docs. With AQE skew-join split active the hot
    bucket's pair production is carved across tasks: max/mean rows per
    task ≤ 3. Buckets one over the cap are dropped entirely (companion
    assertion) — the two guards compose: the cap bounds the worst bucket,
    AQE splits the worst survivor."""
    cap = 200
    viral = [(i, "buy cheap widgets now best price free shipping today only")
             for i in range(cap)]
    normal = [
        (1000 + i,
         f"unique document number {i} about topic{i} with distinct words "
         f"alpha{i} beta{i} gamma{i}")
        for i in range(300)
    ]
    docs = spark.createDataFrame(viral + normal, "doc_id long, text string")
    sig = dedup.minhash_signatures(docs, num_hashes=8)

    # bands=1 → the viral template is ONE bucket = one join key. The
    # banded frame is checkpointed (production: it arrives off a scan /
    # wide shuffle) and the bucket-size prune rides a BROADCAST semi-join
    # — the realistic plan, since the surviving-bucket key set is tiny.
    banded = dedup._banded(sig, "doc_id", bands=1).localCheckpoint()
    bucket_counts = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("__n")
    )
    ok = bucket_counts.filter(F.col("__n") <= cap).drop("__n")
    pruned = banded.join(F.broadcast(ok), ["band_idx", "band_hash"], "left_semi")

    confs = {
        # force the sort-merge path for the band self-join (at real scale
        # it IS SMJ — a toy broadcast would bypass skew handling); the
        # bucket prune above keeps its explicit broadcast hint
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # scale AQE's skew thresholds down to toy data so the split
        # actually triggers (defaults: 256 MB / 64 MB); the detector sees
        # shuffle INPUT bytes — the hot bucket is ~3 KB of band keys that
        # EXPLODE into 19,900 pairs inside the join task
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    }
    with _conf_scope(spark, confs):
        pairs = dedup._bucket_join(pruned, "doc_id")
        mx, mean, n_parts = _partition_balance(pairs)
        total = pairs.count()
    # the boundary bucket alone contributes C(200,2) = 19,900 pairs
    assert total >= cap * (cap - 1) // 2
    assert n_parts >= 3, "skew split should spread the hot key over tasks"
    assert mx / mean <= 3.0, (
        f"hot-bucket task imbalance {mx}/{mean:.0f} = {mx / mean:.2f} > 3"
    )

    # one doc OVER the cap → the bucket is dropped, candidates collapse
    over = spark.createDataFrame(
        viral + [(cap, viral[0][1])], "doc_id long, text string"
    )
    sig_over = dedup.minhash_signatures(over, num_hashes=8)
    assert dedup.lsh_candidate_pairs(sig_over, bands=1, max_bucket=cap).count() == 0


@pytest.mark.parametrize("hot_frac", [0.7])
def test_salted_write_layout_hot_conversation(spark, hot_frac):
    """A 70%-hot conv_id (the Zipf head called out in SURVEY.md §4) must
    not pile its (route_key, ts_day) cell into one write task: the
    row-level salt spreads it across salt_buckets tasks. Asserts the
    measured max/mean rows-per-task bound ≤ 3.2 (the figure recorded in
    BENCH/BASELINE.md) and that no task carries more than ~2× the hot
    conversation's fair share.

    The layout's exchange is sized by AQE from map-output bytes, so at
    session defaults a 40k-row frame plans no wider than the session's
    task slots (asserted last). The balance assertions run in a conf scope
    that scales AQE's target partition down to toy data — 16 initial
    partitions, a 1 KB target, no coalescing toward parallelism or a
    minimum size — so each salted partition stays its own task, as a hot
    cell's salted partitions larger than the target do at scale."""
    n = 40_000
    n_hot = int(n * hot_frac)
    rows = [
        ("conv-hot" if i < n_hot else f"conv-{i % 97}", i, "r1",
         f"2017-03-{10 + (i % 2):02d}")
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, route_key string, ts_day string"
    )
    confs = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    }
    with _conf_scope(spark, confs):
        out = salted_write_layout(df, salt_buckets=8)
        mx, mean, n_parts = _partition_balance(out)
    assert n_parts >= 8
    ratio = mx / mean
    assert ratio <= 3.2, f"salted layout imbalance {ratio:.2f} > 3.2"
    # the hot conversation's rows are genuinely split: its fair share per
    # salt bucket is n_hot/salt_buckets; no task may hold ~all of it
    assert mx <= 2 * (n_hot / 8) + (n - n_hot)
    # at session defaults the small frame's write is not fanned out wider
    # than the session's task slots
    at_defaults = salted_write_layout(df, salt_buckets=8)
    assert at_defaults.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
