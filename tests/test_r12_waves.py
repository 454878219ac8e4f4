"""r12 wave invariants: probe-dispatched dedup, incremental BPE
trainer equivalence, water-fill integer exactness."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import time_series_data_trimmer_spark.operators.dedup as dd
import time_series_data_trimmer_spark.operators.text as tx
from time_series_data_trimmer_spark.queries_fam import load_registry


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (4, "pack my box with five dozen liquor jugs"),
        (6, "pack my box with five dozen liquor jugs"),
        (8, "sphinx of black quartz judge my vow"),
        (10, "completely different text with unique words here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_density_decision_is_integer_exact(docs):
    dec = dd.posting_density_decision(docs, envelope=(64, 1))
    assert dec["method"] == "ppjoin"
    # re-derive the forecast by hand from the gram posting lists
    toks = docs.select(
        "doc_id", F.explode(dd.word_shingles(F.col("text"))).alias("g")
    )
    dfs = [
        r["df"]
        for r in toks.groupBy("g").agg(F.count(F.lit(1)).alias("df")).collect()
    ]
    assert dec["n_postings"] == sum(dfs)
    assert dec["candidate_upper_bound"] == sum(d * (d - 1) // 2 for d in dfs)
    # the tightened envelope must flip the decision via the SAME ints
    tight = dd.posting_density_decision(docs, envelope=(0, 1))
    assert tight["method"] == "lsh_first"
    assert tight["n_postings"] == dec["n_postings"]
    assert tight["candidate_upper_bound"] == dec["candidate_upper_bound"]


def test_auto_pairs_exact_arm_matches_brute_force(docs):
    pairs, dec = dd.dedup_auto_pairs(docs, min_jaccard=0.5, envelope=(64, 1))
    assert dec["method"] == "ppjoin"
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (4, 6) in got  # exact duplicate pair
    assert (0, 2) in got  # 1-word-off near-dup at tau=0.5
    assert all(a < b for a, b in got)


def test_auto_pairs_lsh_arm_is_subset_of_exact(docs):
    exact, _ = dd.dedup_auto_pairs(docs, min_jaccard=0.5, envelope=(64, 1))
    lsh, dec = dd.dedup_auto_pairs(docs, min_jaccard=0.5, envelope=(0, 1))
    assert dec["method"] == "lsh_first"
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    l = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    # LSH verifies exactly on its candidates: no false positives, and
    # the identical-text pair shares every band so it can never be lost
    assert l <= e
    assert (4, 6) in l
    # jaccard values on shared pairs are the same exact ratio
    ej = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    lj = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh.collect()}
    for k in lj:
        assert lj[k] == ej[k]


def test_bpe_incremental_trainer_matches_full_recount(spark):
    """The r12 incremental pair-count maintenance must be
    merge-for-merge identical to the distributed trainer (which still
    recounts via Spark aggregation) — counts AND tie-breaks."""
    rows = [
        (1, "a b a b a b c"),
        (2, "a b c d a b"),
        (3, "x y x y x y x y"),
        (4, "c d c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    local = tx.bpe_train_merges_local(df, rounds=6)
    dist = tx.bpe_train_merges(df, rounds=6)
    assert local == dist
    assert len(local) == 6


def test_waterfill_budget_integer_div(spark):
    """Budget must be sum(avail) div 2 exactly (ADVICE r11 #3): odd
    totals truncate, never round."""
    REGISTRY = load_registry()

    fn, _ = REGISTRY["mix_waterfill_token_budget"]
    out = fn(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["avail_tokens"] for r in out)
    assert all(r["budget_tokens"] == total // 2 for r in out)
    alloc = sum(r["allocated_tokens"] for r in out)
    assert alloc <= total // 2


def test_chapman_estimator_closed_form(spark):
    """Chapman N-hat on a constructed two-source overlap: 6 and 4
    distinct contents sharing 2 -> (7*5/3) - 1."""
    rows = []
    for i in range(6):
        rows.append((i, f"text {i}", "a"))
    for i in range(4, 8):
        rows.append((100 + i, f"text {i}", "b"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.mode("overwrite").parquet("/tmp/tsdt_chapman/documents.parquet")
    REGISTRY = load_registry()

    fn, _ = REGISTRY["stats_chapman_source_overlap"]
    out = {(r["src_a"], r["src_b"]): r for r in fn(spark, "/tmp/tsdt_chapman").collect()}
    r = out[("a", "b")]
    assert (r["n_a"], r["n_b"], r["n_shared"]) == (6, 4, 2)
    assert r["n_union_observed"] == 8
    assert abs(r["chapman_total_est"] - (7 * 5 / 3 - 1)) < 1e-6


def test_group_kfold_never_straddles(spark):
    REGISTRY = load_registry()
    from time_series_data_trimmer_spark.operators.sampling import hash_u32
    from time_series_data_trimmer_spark.queries import _events
    import pyspark.sql.functions as FF

    ev = _events(spark, "/root/testdata/sf0.001").filter(
        FF.col("value").isNotNull()
    )
    folds = ev.select(
        "user_id", (hash_u32(FF.col("user_id"), "tsdt|kfold") % 5).alias("f")
    )
    straddlers = (
        folds.groupBy("user_id")
        .agg(FF.countDistinct("f").alias("nf"))
        .filter(FF.col("nf") > 1)
        .count()
    )
    assert straddlers == 0


def test_dp_quantile_map_is_true_median_bin(spark):
    """With epsilon-weights monotone in rank error, the MAP bin must be
    the bin whose below-count is closest to n/2 (exact integer argmax,
    bin-index tie-break)."""
    REGISTRY = load_registry()

    fn, _ = REGISTRY["privacy_dp_quantile_utility"]
    out = fn(spark, "/root/testdata/sf0.001").collect()
    assert out
    for r in out:
        assert 0 <= r["map_bin"] < 64
        assert 0.0 < r["map_probability"] <= 1.0
        assert r["map_rank_error_x2"] >= 0


def test_removed_vs_kept_reconciles_with_exact_groups(spark):
    """kept docs per source must sum to the number of distinct content
    groups overall (each group keeps exactly one doc)."""
    REGISTRY = load_registry()
    import duckdb

    fn, _ = REGISTRY["dedup_removed_vs_kept_profile"]
    out = fn(spark, "/root/testdata/sf0.001").collect()
    kept = sum(r["n_docs"] for r in out if r["fate"] == "kept")
    truth = duckdb.sql(
        "SELECT count(DISTINCT md5(coalesce(text, '<null>'))) FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert kept == truth


def _naive_bpe_merges(corpora, rounds):
    """The pre-r12 full-recount trainer, kept as the property-test
    reference: recount every adjacent pair each round, same
    (count desc, lhs, rhs) tie-break, same leftmost rewrite."""
    import time_series_data_trimmer_spark.operators.text as _tx

    corpora = [list(t) for t in corpora]
    merges = []
    for r in range(1, rounds + 1):
        counts = {}
        for toks in corpora:
            for p in zip(toks, toks[1:]):
                counts[p] = counts.get(p, 0) + 1
        if not counts:
            break
        (A, B), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, A, B, int(cnt)))
        corpora = [_tx._apply_rules_py(t, [(A, B)]) for t in corpora]
    return merges


def test_bpe_incremental_equals_naive_recount_property(spark):
    """Property: the r12 incremental pair-count maintenance is
    merge-for-merge identical (counts AND tie-breaks) to the naive
    full recount on randomized small corpora — including adversarial
    shapes (runs of one token, overlapping pairs, empty docs)."""
    from hypothesis import given, settings, strategies as st

    tok = st.sampled_from(list("abcd"))
    doc = st.lists(tok, min_size=0, max_size=12)
    corpus = st.lists(doc, min_size=1, max_size=6)

    @settings(max_examples=25, deadline=None)
    @given(corpus=corpus, rounds=st.integers(min_value=1, max_value=8))
    def check(corpus, rounds):
        rows = [(i, " ".join(d)) for i, d in enumerate(corpus)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        import time_series_data_trimmer_spark.operators.text as _tx

        got = _tx.bpe_train_merges_local(df, rounds=rounds)
        # the trainer tokenizes via _norm_tokens; reproduce its view of
        # the corpus for the naive reference
        toks = [
            list(r["__toks"])
            for r in df.filter(df.text.isNotNull())
            .select(_tx._norm_tokens("text").alias("__toks"))
            .collect()
        ]
        assert got == _naive_bpe_merges(toks, rounds)

    check()
