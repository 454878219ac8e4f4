"""r11 wave tests: the sample-to-driver BPE trainer (VERDICT r10 #5 —
the production-scale training path) and the capped-join determinism
guard (ADVICE r10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.operators import intervals as iv
from time_series_data_trimmer_spark.operators import text as tx
from time_series_data_trimmer_spark.queries_fam import load_registry


def _docs(spark):
    rows = [
        (1, "the cat sat on the mat", "a"),
        (2, "the cat ran to the mat", "a"),
        (3, "a dog sat on a log", "b"),
        (4, "the cat sat on the log", "b"),
        (5, "cats and dogs sat", "a"),
        (6, None, "a"),
        (7, "the cat sat on the mat again and the cat sat", "b"),
        (8, "mat the on sat cat the", "a"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_local_trainer_matches_distributed(spark):
    """On the SAME input, the pure-Python trainer must return the
    byte-identical merge table as the distributed per-round trainer —
    same pair counts, same (count desc, lhs, rhs) tie-break, same
    leftmost-non-overlapping rewrite between rounds."""
    docs = _docs(spark)
    dist = tx.bpe_train_merges(docs, rounds=4)
    local = tx.bpe_train_merges_local(docs, rounds=4)
    assert local == dist


def test_local_trainer_sample_is_deterministic_subset(spark):
    """The md5-coin sample is a pure function of (seed, doc_id):
    training twice gives the identical table, and the sampled table
    equals distributed training on the explicitly pre-filtered set."""
    from time_series_data_trimmer_spark.operators.sampling import hash_sample

    docs = _docs(spark)
    a = tx.bpe_train_merges_local(
        docs, rounds=3, sample_rate=0.5, sample_seed="s11"
    )
    b = tx.bpe_train_merges_local(
        docs, rounds=3, sample_rate=0.5, sample_seed="s11"
    )
    assert a == b
    sampled = hash_sample(
        docs.filter(F.col("text").isNotNull()), 0.5, "doc_id", "s11"
    )
    assert a == tx.bpe_train_merges(sampled, rounds=3)


def test_local_trainer_token_bound_enforced(spark):
    """The bounded-collect contract: a sample larger than
    max_sample_tokens raises before any driver materialization."""
    docs = _docs(spark)
    with pytest.raises(ValueError, match="max_sample_tokens"):
        tx.bpe_train_merges_local(docs, rounds=2, max_sample_tokens=3)


def test_sample_trained_table_encodes_full_corpus(spark):
    """End-to-end shape of the production contract: sample-train, then
    encode EVERY document (including never-sampled ones) with the
    learned table via the ranked kernel; raw counts preserved, encoded
    counts never exceed raw."""
    docs = _docs(spark)
    merges = tx.bpe_train_merges_local(
        docs, rounds=3, sample_rate=0.5, sample_seed="s11"
    )
    enc = tx.bpe_encode_auto(docs, merges)
    rows = {r["doc_id"]: r for r in enc.collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 7, 8}  # null text dropped
    for r in rows.values():
        assert 0 < len(r["bpe_tokens"]) <= r["n_tokens_raw"]


def test_auto_bucket_cap_is_p99_order_statistic(spark):
    """auto_bucket_cap returns the exact k-th smallest per-bucket
    occupancy (k = ceil(pct·n)), floored: 99 buckets at occupancy 20
    + 1 bucket at 5000 → p99 = 20 (the outlier is invisible to the
    order statistic), floored to 16 only when below."""
    B = 1000
    rows = [
        # 99 buckets, 20 point-intervals each
        (b * 100 + i, 0, b * B + 1, b * B + 2)
        for b in range(99)
        for i in range(20)
    ] + [
        # one hot bucket with 5000
        (1_000_000 + i, 0, 99 * B + 1, 99 * B + 2)
        for i in range(5000)
    ]
    ivl = _ivl_frame(spark, rows)
    assert iv.auto_bucket_cap(ivl, B, pct=0.99, floor_cap=16) == 20
    # floor engages when the statistic is tiny
    small = _ivl_frame(spark, [(1, 0, 10, 20), (2, 0, 3000, 3100)])
    assert iv.auto_bucket_cap(small, B, pct=0.99, floor_cap=16) == 16


def _ivl_frame(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, session_idx long, start_us long, end_us long"
    )


def test_waterfill_allocation_properties(spark):
    """Max-min fairness invariants of the water-fill allocation, on a
    hand-checkable fixture: sources below the water level keep their
    full availability, capped sources all get the same level, the
    total never exceeds the budget, and a budget >= total funds
    everyone uncapped."""
    REGISTRY = load_registry()

    fn, _ = REGISTRY["mix_waterfill_token_budget"]

    import os
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    b = rows[0]["budget_tokens"]
    total_alloc = sum(r["allocated_tokens"] for r in rows)
    assert total_alloc <= b
    levels = {r["allocated_tokens"] for r in rows if r["capped"]}
    assert len(levels) <= 1  # all capped sources share the water level
    for r in rows:
        if not r["capped"]:
            assert r["allocated_tokens"] == r["avail_tokens"]
        else:
            assert r["allocated_tokens"] <= r["avail_tokens"]
    # residual after flooring is < number of capped sources
    n_capped = sum(1 for r in rows if r["capped"])
    if n_capped:
        assert b - total_alloc < n_capped


def test_capped_join_requires_tiebreak_cols(spark):
    """ADVICE r10: per_bucket_cap without cap_order_cols would make
    the keep set partition-order-dependent — the API now refuses."""
    ivl = spark.createDataFrame(
        [(1, 0, 100, 200)],
        "user_id long, session_idx long, start_us long, end_us long",
    )
    with pytest.raises(ValueError, match="cap_order_cols"):
        iv.overlap_join(ivl, ivl, bucket_us=1000, per_bucket_cap=4)
