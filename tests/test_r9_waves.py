"""r9 wave tests: merge-count-scalable BPE application
(`text.bpe_encode_ranked`, VERDICT r8 #2) — exact token-level
equivalence with the fold encoder, constant plan depth in |merges|,
and the skip-set's chained-merge correctness.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from time_series_data_trimmer_spark.operators import text as tx
from time_series_data_trimmer_spark.queries_fam import load_registry

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _toks(df):
    return {r["doc_id"]: list(r["bpe_tokens"]) for r in df.collect()}


def test_ranked_leftmost_nonoverlapping(spark):
    """'a a a' with merge (a,a): first two merge, third survives —
    identical to `_merge_fold`'s (arr, carry) contract."""
    df = _docs(spark, [(1, "a a a"), (2, "a a a a")])
    out = _toks(tx.bpe_encode_ranked(df, [("a", "a")]))
    assert out[1] == ["a a", "a"]
    assert out[2] == ["a a", "a a"]


def test_ranked_training_order_and_chained_merges(spark):
    """Rule k sees rule j<k's output — including when a rule's lhs
    token EXISTS ONLY as a previous merge's product (the skip-set must
    admit tokens created mid-encode, not just raw ones)."""
    df = _docs(spark, [(1, "a b c"), (2, "b c a")])
    out = _toks(tx.bpe_encode_ranked(df, [("a", "b"), ("a b", "c")]))
    assert out[1] == ["a b c"]
    assert out[2] == ["b", "c", "a"]


def test_ranked_identical_to_fold_encoder_on_corpus(spark):
    """Token-for-token identity with `bpe_encode` on the real sf0.001
    documents under the trained 5-round table — the two encoders are
    the same tokenizer, one flat-plan and one fold-per-rule."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = tx.bpe_train_merges(docs, rounds=5)
    fold = _toks(tx.bpe_encode(docs, merges))
    ranked = _toks(tx.bpe_encode_ranked(docs, merges))
    assert fold == ranked and len(ranked) > 0


def test_ranked_plan_depth_constant_in_merge_count(spark):
    """The scalability contract: the analyzed plan is ONE MapInPandas
    stage whose size does not grow with the merge table — 500 rules
    produce the same plan shape as 5 (the fold encoder's depth is
    linear: one projection per rule plus a localCheckpoint every 16)."""
    df = _docs(spark, [(1, "x y z w " * 8)])
    small = [("x", "y")] * 1
    big = [(f"t{i}", f"u{i}") for i in range(500)]
    p_small = tx.bpe_encode_ranked(df, small)._jdf.queryExecution().analyzed().toString()
    p_big = tx.bpe_encode_ranked(df, big)._jdf.queryExecution().analyzed().toString()
    assert p_small.count("MapInPandas") == 1
    assert p_big.count("MapInPandas") == 1
    # rules travel as a broadcast list, never as plan expressions
    assert abs(len(p_big) - len(p_small)) < 200


def test_ranked_inert_rules_leave_corpus_untouched(spark):
    """A 300-rule table where nothing applies returns the raw
    normalized tokens (the production regime the skip set optimizes:
    most rules never fire on a given document)."""
    df = _docs(spark, [(7, "Hello, World! 42")])
    rules = [(f"qq{i}", f"zz{i}") for i in range(300)]
    out = tx.bpe_encode_ranked(df, rules).collect()[0]
    assert list(out["bpe_tokens"]) == ["hello", "world", "42"]
    assert out["n_tokens_raw"] == 3


# ---------------------------------------------------------------------------
# r9 wave 2: exact k-core (graph.kcore_exact, VERDICT r8 #5)
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_kcore_exact_peels_chain_past_three_rounds(spark):
    """A 12-vertex chain under k=2 sheds only its two endpoints per
    round: after 3 rounds the fixed-round BOUND still holds 6 vertices,
    but the true 2-core is EMPTY — kcore_exact must keep peeling to the
    fixpoint (>3 rounds, n_rounds reported) while kcore_bound provably
    hasn't converged."""
    from time_series_data_trimmer_spark.operators import graph as gr

    chain = _edges(spark, [(i, i + 1) for i in range(11)])
    bound = {r["k"]: r for r in gr.kcore_bound(chain, ks=(2,), rounds=3).collect()}
    exact = {r["k"]: r for r in gr.kcore_exact(chain, ks=(2,)).collect()}
    assert bound[2]["n_edges"] > 0  # the screen's loose survivor set
    assert exact[2]["n_edges"] == 0 and exact[2]["n_vertices"] == 0
    assert exact[2]["n_rounds"] > 3


def test_kcore_exact_matches_bound_on_converged_graph(spark):
    """On a graph whose peel converges within 3 rounds (a clique plus
    one pendant vertex), the exact form and the bound agree — the
    bound is tight whenever the cascade is shallow."""
    from time_series_data_trimmer_spark.operators import graph as gr

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    g = _edges(spark, k4 + [(3, 99)])
    bound = {r["k"]: r for r in gr.kcore_bound(g, ks=(2, 3)).collect()}
    exact = {r["k"]: r for r in gr.kcore_exact(g, ks=(2, 3)).collect()}
    for k in (2, 3):
        assert (bound[k]["n_vertices"], bound[k]["n_edges"]) == (
            exact[k]["n_vertices"], exact[k]["n_edges"],
        )
    assert exact[3]["n_vertices"] == 4  # pendant peeled, clique survives


def test_kcore_exact_raises_past_cap(spark):
    """The convergence contract: a cap too small for the cascade depth
    raises instead of silently returning a bound."""
    import pytest as _pytest

    from time_series_data_trimmer_spark.operators import graph as gr

    chain = _edges(spark, [(i, i + 1) for i in range(11)])
    with _pytest.raises(RuntimeError, match="fixed point"):
        gr.kcore_exact(chain, ks=(2,), max_rounds=2)


def _py_peel(pairs, k, max_rounds=16):
    """Per-k reference peel in plain Python, with the convergence rule
    of `kcore_exact`: (n_vertices, n_edges, n_rounds)."""
    e = set(pairs)
    for r in range(1, max_rounds + 1):
        deg = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        nxt = {(a, b) for a, b in e if deg[a] >= k and deg[b] >= k}
        if len(nxt) == len(e) or not nxt:
            return len({v for ab in nxt for v in ab}), len(nxt), r
        e = nxt
    raise AssertionError("reference peel did not converge")


# a 12-vertex chain (k=2 peels it one layer per round) plus a K5 (a
# 4-core): the ks reach their fixpoints in different rounds
_CHAIN_K5 = [(i, i + 1) for i in range(11)] + [
    (a, b) for a in range(20, 25) for b in range(a + 1, 25)
]


def test_kcore_exact_fused_rounds_match_per_k_peel(spark):
    """All ks peel in one loop; each k's n_rounds is still the round of
    its own fixpoint, as a separate per-k peel finds it."""
    from time_series_data_trimmer_spark.operators import graph as gr

    got = {
        r["k"]: (r["n_vertices"], r["n_edges"], r["n_rounds"])
        for r in gr.kcore_exact(_edges(spark, _CHAIN_K5), ks=(2, 3, 4, 5)).collect()
    }
    want = {k: _py_peel(_CHAIN_K5, k) for k in (2, 3, 4, 5)}
    assert got == want
    assert len({r for _, _, r in want.values()}) > 1  # rounds differ by k


def test_kcore_exact_cap_error_names_open_k(spark):
    """At a cap between the ks' fixpoint rounds, the error names only
    the k that had not converged."""
    import pytest as _pytest

    from time_series_data_trimmer_spark.operators import graph as gr

    with _pytest.raises(RuntimeError, match="fixed point") as err:
        gr.kcore_exact(_edges(spark, _CHAIN_K5), ks=(2, 3, 4), max_rounds=3)
    assert "kcore_exact(k=2)" in str(err.value)


def test_checkpoint_observed_counts_equal_count(spark, monkeypatch):
    """The convergence probe: the observed aggregates equal count() on
    the returned frame, and the frame is checkpointed eagerly (a lazy
    checkpoint would leave the observation at 0)."""
    from time_series_data_trimmer_spark.operators.probe import checkpoint_observed

    df = spark.range(200).select((F.col("id") % 3).alias("k")).groupBy("k", F.col("k") * 7).count()
    eager_args = []
    real = type(df).localCheckpoint

    def spy(self, eager=True, *args, **kwargs):
        eager_args.append(eager)
        return real(self, eager, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    out, got = checkpoint_observed(
        df.select("k"), n=F.count(F.lit(1)), n0=F.count_if(F.col("k") == 0)
    )
    assert eager_args == [True]
    assert got == {"n": out.count(), "n0": out.filter(F.col("k") == 0).count()}
    assert got["n"] == 3


# ---------------------------------------------------------------------------
# r9 wave 3: real-token budget passthrough (VERDICT r8 #6)
# ---------------------------------------------------------------------------


def test_token_budget_respects_n_tokens_col(spark):
    """`token_budget_per_stratum(n_tokens_col=...)` budgets on the
    provided REAL counts, not the chars/4 estimate: with real counts
    10× the estimate, the kept set shrinks accordingly and
    n_tokens/cum_tokens carry the real numbers."""
    from time_series_data_trimmer_spark.operators import sampling as sp

    rows = [(i, "src", "word " * 40, 100) for i in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, real_nt long"
    )
    est = sp.token_budget_per_stratum(df, 300)
    real = sp.token_budget_per_stratum(df, 300, n_tokens_col="real_nt")
    # estimate path: ~40-token docs, 7 fit in 300; real path: 100-token
    # docs, exactly 3 fit
    assert real.count() == 3
    assert est.count() > real.count()
    got = real.select("n_tokens", "cum_tokens").orderBy("cum_tokens").collect()
    assert [r["n_tokens"] for r in got] == [100, 100, 100]
    assert got[-1]["cum_tokens"] == 300


def test_token_budget_default_path_unchanged(spark):
    """Omitting n_tokens_col keeps the r4 estimate semantics byte-
    for-byte (regression guard on the signature change)."""
    from time_series_data_trimmer_spark.operators import sampling as sp

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sp.token_budget_per_stratum(docs, 600).select(
        "doc_id", "n_tokens", "cum_tokens"
    )
    b = sp.token_budget_per_stratum(docs, 600, n_tokens_col=None).select(
        "doc_id", "n_tokens", "cum_tokens"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# r9 wave 4: invariant 18 at every stateful start point (VERDICT r8 #4)
# ---------------------------------------------------------------------------


def test_derived_state_partitions_formula(spark):
    """ceil(rows/25k), floor 4, capped at session width — and the
    derivation reads only parquet footer metadata (free at any scale)."""
    from time_series_data_trimmer_spark.streaming import stream_ops as so

    assert so._auto_state_partitions(spark, 1_000) == 4
    assert so._auto_state_partitions(spark, 100_000) == 4  # local[4] cap
    d = so._derived_state_partitions(
        spark, "/root/testdata/sf0.001/events.parquet"
    )
    assert d == 4


def test_streaming_ops_restore_session_width(spark):
    """Every stateful start point pins its own state-partition count
    and restores the session conf afterwards (co-resident batch
    queries keep the session width)."""
    from time_series_data_trimmer_spark.streaming import stream_ops as so

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = so.stream_kmv_distinct(
        spark, "/root/testdata/sf0.001/events.parquet"
    )
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------------------------------------------
# r9 wave 5: recall-curve suite (one exact truth, every forfeit curve)
# ---------------------------------------------------------------------------


def test_recall_suite_reconciles_with_standalone_curves(spark):
    """The suite's LSH and MRL sections share the standalones' exact
    conventions (probes vec_id<8, self excluded, same truth), so the
    numbers must be IDENTICAL row-for-row; the IVF section differs by
    design (8 probes vs 5, self excluded vs kept) and is value-checked
    by its own oracle instead."""
    REGISTRY = load_registry()

    sf = SF_DIR
    suite = {
        (r["section"], r["k"]): r
        for r in REGISTRY["sim_recall_suite"][0](spark, sf).collect()
    }
    lsh = {
        r["n_bits"]: r
        for r in REGISTRY["emb_lsh_recall_by_bits"][0](spark, sf).collect()
    }
    for b, row in lsh.items():
        s = suite[("lsh_bits", b)]
        assert s["recall_at_10"] == row["recall_at_10"]
        assert s["n_candidates"] == row["n_candidates"]
    mrl = {
        r["prefix_dims"]: r
        for r in REGISTRY["emb_matryoshka_recall_by_dim"][0](
            spark, sf
        ).collect()
    }
    for d, row in mrl.items():
        s = suite[("mrl_dim", d)]
        assert s["n_hits"] == row["n_hits"]
        assert s["recall_at_10"] == row["recall_at_10"]
    # structural invariants: identity row + monotone curves
    assert suite[("mrl_dim", 64)]["recall_at_10"] == 1.0
    lsh_rs = [suite[("lsh_bits", b)]["recall_at_10"] for b in (6, 8, 10)]
    assert lsh_rs == sorted(lsh_rs, reverse=True)
    ivf_rs = [suite[("ivf_nprobe", n)]["recall_at_10"] for n in (1, 2, 4)]
    assert ivf_rs == sorted(ivf_rs)


# ---------------------------------------------------------------------------
# r9 wave 6: local clustering, t-closeness, ECE
# ---------------------------------------------------------------------------


def test_local_clustering_closed_forms(spark):
    """K3: every vertex cc=1. Star S4: center deg=4 cc=0, leaves
    deg=1 cc=0. K4 minus one edge: the two opposite vertices see
    their 2 neighbors connected (cc=1), the others 2/3."""
    from time_series_data_trimmer_spark.operators import graph as gr

    k3 = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    out = {r["v"]: r for r in gr.local_clustering(k3).collect()}
    assert all(out[v]["cc"] == 1.0 and out[v]["n_triangles"] == 1 for v in (1, 2, 3))

    star = _edges(spark, [(0, i) for i in (1, 2, 3, 4)])
    out = {r["v"]: r for r in gr.local_clustering(star).collect()}
    assert out[0]["deg"] == 4 and out[0]["cc"] == 0.0
    assert all(out[i]["cc"] == 0.0 for i in (1, 2, 3, 4))

    k4m = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)])  # no 3-4
    out = {r["v"]: r for r in gr.local_clustering(k4m).collect()}
    assert out[3]["cc"] == 1.0 and out[4]["cc"] == 1.0
    assert out[1]["cc"] == round(2 * 2 / (3 * 2), 6)
    assert out[2]["cc"] == round(2 * 2 / (3 * 2), 6)


def test_clustering_bucket_rollup_reconciles_with_triangle_count(spark):
    """Σ per-vertex triangle credits = 3 × global triangle count on
    the same graph (each triangle credits its three corners)."""
    REGISTRY = load_registry()

    rollup = REGISTRY["graph_clustering_by_degree"][0](spark, SF_DIR)
    tri = REGISTRY["graph_triangle_count_cooc"][0](spark, SF_DIR)
    got = rollup.agg({"sum_vertex_triangles": "sum"}).collect()[0][0]
    want = tri.collect()[0]["n_triangles"]
    assert got == 3 * want


def test_ece_is_bounded_by_max_gap_and_auc_population(spark):
    """ECE (weighted mean bin gap) can never exceed the max bin gap,
    and the eval family scores one population: ECE's n_docs equals
    AUC's n_pos + n_neg."""
    REGISTRY = load_registry()

    e = REGISTRY["eval_ece_binned"][0](spark, SF_DIR).collect()[0]
    assert 0.0 <= e["ece"] <= e["max_gap"] + 1e-9 <= 1.0 + 1e-9
    a = REGISTRY["eval_auc_binned"][0](spark, SF_DIR).collect()[0]
    assert e["n_docs"] == a["n_pos"] + a["n_neg"]


def test_t_closeness_single_class_is_close(spark):
    """If every document belongs to ONE (lang, source) class, the
    class distribution IS the global distribution: t = 0 exactly."""
    docs = spark.createDataFrame(
        [(i, "en", "web", "some text here " * (3 + i % 5)) for i in range(40)],
        "doc_id long, lang string, source string, text string",
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    REGISTRY = load_registry()
    out = REGISTRY["privacy_t_closeness_audit"][0](spark, d).collect()
    assert len(out) == 1
    assert out[0]["risk_class"] == "t<0.1 close"
    assert out[0]["max_t"] == 0.0


# ---------------------------------------------------------------------------
# r9 wave 7: split-leakage audit
# ---------------------------------------------------------------------------


def test_split_leakage_flags_planted_cross_split_neardup(spark):
    """Two near-identical documents whose ids hash into different
    splits must surface as a crosses_split pair; a corpus of unique
    documents yields no candidate pairs at all."""
    import hashlib

    REGISTRY = load_registry()

    def split_of(doc_id: int) -> str:
        h = int(hashlib.md5(f"tsdt|split|{doc_id}".encode()).hexdigest()[:8], 16)
        if h < int(0.1 * (1 << 32)):
            return "test"
        if h < 2 * int(0.1 * (1 << 32)):
            return "val"
        return "train"

    test_id = next(i for i in range(1000) if split_of(i) == "test")
    train_id = next(i for i in range(1000) if split_of(i) == "train")
    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(test_id, "en", "web", dup), (train_id, "en", "web", dup)] + [
        (10_000 + i, "en", "web", f"totally unique document number {i} "
         f"with its own words {i * 7} {i * 13} {i * 29}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    import os, tempfile
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["mix_split_leakage_audit"][0](spark, d).collect()
    cells = {(r["split_a"], r["split_b"]): r for r in out}
    assert ("test", "train") in cells
    leak = cells[("test", "train")]
    assert leak["crosses_split"] == 1 and leak["n_pairs"] >= 1


def test_sharded_pack_respects_n_tokens_col(spark):
    """All three layout stages now share the real-count hook: the
    sharded packer on a real-count column produces offsets consistent
    with those counts, and omitting the hook reproduces the estimate
    path byte-for-byte."""
    from time_series_data_trimmer_spark.operators import sampling as sp

    rows = [(i, "s" + str(i % 2), "w " * 10, 7) for i in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, real_nt long"
    )
    real = sp.sequence_pack_offsets_sharded(
        df, seq_len=16, n_tokens_col="real_nt"
    ).collect()
    assert all(r["n_tokens"] == 7 for r in real)
    assert sorted(r["tok_end"] for r in real)[-1] == 7 * 12  # contiguous
    a = sp.sequence_pack_offsets_sharded(df, seq_len=16).collect()
    b = sp.sequence_pack_offsets_sharded(
        df, seq_len=16, n_tokens_col=None
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# r9 wave 8: MMR diversification fold
# ---------------------------------------------------------------------------


def test_mmr_first_pick_is_top_rel_and_diversity_reorders(spark):
    """Step 1 has an empty selected set, so MMR's first pick is the
    relevance top-1; with two near-identical high-rel candidates and
    one distinct lower-rel candidate, the distinct one must outrank
    the redundant near-copy at lambda=0.5."""
    from time_series_data_trimmer_spark.operators import similarity as sim

    rows = [
        # query 1: cand 10 (rel .9, v=[1,0]), cand 11 (rel .89, v=[1,0.01] ~ same),
        # cand 12 (rel .5, v=[0,1] orthogonal)
        (1, 10, 0.90, [1.0, 0.0]),
        (1, 11, 0.89, [1.0, 0.01]),
        (1, 12, 0.50, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "qid long, vec_id long, rel double, embedding array<double>"
    )
    out = {
        r["mmr_rank"]: r["vec_id"]
        for r in sim.mmr_diversify(
            df, k=3, lam=0.5, query_col="qid", rel_col="rel"
        ).collect()
    }
    assert out[1] == 10          # pure relevance first
    assert out[2] == 12          # orthogonal beats the near-copy
    assert out[3] == 11


def test_mmr_lambda_one_is_pure_relevance_order(spark):
    """lambda=1 disables the diversity term: MMR order == rel order
    (ties by id)."""
    from time_series_data_trimmer_spark.operators import similarity as sim

    rows = [
        (1, i, 1.0 - 0.1 * i, [float(i), 1.0]) for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "qid long, vec_id long, rel double, embedding array<double>"
    )
    out = [
        r["vec_id"]
        for r in sim.mmr_diversify(
            df, k=5, lam=1.0, query_col="qid", rel_col="rel"
        ).orderBy("mmr_rank").collect()
    ]
    assert out == [0, 1, 2, 3, 4]


# ---------------------------------------------------------------------------
# r9 wave 10: Brier decomposition + WOE encoding
# ---------------------------------------------------------------------------


def test_brier_murphy_identity_and_eval_family_population(spark):
    """The binned Murphy identity brier = REL − RES + UNC holds by
    construction; the decomposition scores the same population as
    ECE/AUC."""
    REGISTRY = load_registry()

    b = REGISTRY["eval_brier_decomposition"][0](spark, SF_DIR).collect()[0]
    assert abs(
        b["brier_binned"]
        - (b["reliability"] - b["resolution"] + b["uncertainty"])
    ) < 2e-6
    assert 0.0 <= b["uncertainty"] <= 0.25 + 1e-9  # p(1-p) max at 0.5
    e = REGISTRY["eval_ece_binned"][0](spark, SF_DIR).collect()[0]
    assert b["n_docs"] == e["n_docs"]


def test_woe_signs_and_iv_nonnegative(spark):
    """A category enriched in positives gets WOE > 0, one enriched in
    negatives WOE < 0, and every IV term is ≥ 0 (it is (ps−ns)·ln(ps/ns),
    a product of same-sign factors)."""
    REGISTRY = load_registry()
    import os, tempfile

    good = (
        "the cat and the dog sat on the mat of the house and it is that "
        "good to see the sun in the sky when the day starts " * 3
    )  # english markers + stopwords + sane token stats pass the C4 gate
    bad = "x"  # degenerate docs fail
    rows = (
        [(i, "en", "rich", good) for i in range(20)]
        + [(100 + i, "en", "poor", bad) for i in range(20)]
        + [(200 + i, "en", "mixed", good if i % 2 else bad) for i in range(20)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["source"]: r for r in REGISTRY["feature_woe_encoding"][0](spark, d).collect()}
    # sanity: the gate must actually separate the two corpora
    assert out["rich"]["n_pos"] > 0 and out["poor"]["n_pos"] == 0
    assert out["rich"]["woe"] > 0 > out["poor"]["woe"]
    assert all(r["iv_term"] >= -1e-9 for r in out.values())


# ---------------------------------------------------------------------------
# r9 wave 11: RAKE keywords
# ---------------------------------------------------------------------------


def test_rake_scores_closed_form(spark):
    """'the red apple and green apple of spain': candidates
    {red apple}, {green apple}, {spain}. freq(apple)=2, deg(apple)=4
    → score 2; red/green freq 1 deg 2 → 2; spain 1/1 → 1. Phrase
    scores: red apple = green apple = 4, spain = 1; top-1 breaks the
    tie alphabetically → 'green apple'."""
    from time_series_data_trimmer_spark.operators import text as tx

    df = spark.createDataFrame(
        [(1, "the red apple and green apple of spain")],
        "doc_id long, text string",
    )
    cand = {r["phrase"]: r for r in tx.rake_keywords(df).collect()}
    assert set(cand) == {"red apple", "green apple", "spain"}
    assert cand["red apple"]["score"] == 4.0
    assert cand["green apple"]["score"] == 4.0
    assert cand["spain"]["score"] == 1.0
    assert cand["red apple"]["n_words"] == 2


def test_rake_phrase_cap_and_stopword_boundaries(spark):
    """Runs longer than RAKE_MAX_PHRASE are dropped; stopwords never
    appear inside a candidate."""
    from time_series_data_trimmer_spark.operators import text as tx

    long_run = " ".join(f"w{i}" for i in range(tx.RAKE_MAX_PHRASE + 1))
    df = spark.createDataFrame(
        [(1, f"{long_run} and small cat")], "doc_id long, text string"
    )
    cand = [r["phrase"] for r in tx.rake_keywords(df).collect()]
    assert cand == ["small cat"]
    assert all(w not in tx.RAKE_STOPWORDS for p in cand for w in p.split())


# ---------------------------------------------------------------------------
# r9 wave 12: Jaccard links + dedup-aware epochs
# ---------------------------------------------------------------------------


def test_dedup_aware_epochs_discounts_planted_duplicates(spark):
    """A source made of 4 identical docs gets effective_tokens =
    raw/4 (each doc weighted 1/cluster_size); a source of unique docs
    keeps discount 1.0."""
    REGISTRY = load_registry()
    import os, tempfile

    dup = "the same boilerplate paragraph repeated across mirror sites " * 4
    rows = [(i, "en", "mirror", dup) for i in range(4)] + [
        (100 + i, "en", "organic",
         f"unique article {i} about topic {i * 17} with words {i * 31} "
         f"and more distinct content {i * 53}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {
        r["source"]: r
        for r in REGISTRY["mix_dedup_aware_epochs"][0](spark, d).collect()
    }
    assert out["organic"]["dup_discount"] == 1.0
    assert abs(out["mirror"]["dup_discount"] - 0.25) < 1e-6
    assert abs(
        out["mirror"]["effective_tokens"] - out["mirror"]["raw_tokens"] / 4
    ) < 1e-3


def test_jaccard_links_bounds_and_nonadjacency(spark):
    """Jaccard scores live in (0, 1]; returned pairs are non-adjacent
    by construction and fully ordered."""
    REGISTRY = load_registry()

    out = REGISTRY["graph_jaccard_links"][0](spark, SF_DIR).collect()
    assert len(out) > 0
    assert all(0.0 < r["jaccard"] <= 1.0 for r in out)
    js = [r["jaccard"] for r in out]
    assert js == sorted(js, reverse=True)


def test_confusion_at_threshold_counts_and_rates_consistent(spark):
    """The confusion row's derived rates recompute exactly from its
    own counts, and the counts cover every scored document."""
    REGISTRY = load_registry()

    r = REGISTRY["eval_confusion_at_threshold"][0](spark, SF_DIR).collect()[0]
    tp, fp, fn, tn = r["tp"], r["fp"], r["fn"], r["tn"]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_scored = tx.hashed_linear_score(docs).count()
    assert tp + fp + fn + tn == n_scored
    if tp + fp:
        assert abs(r["prec"] - tp / (tp + fp)) < 1e-6
    if tp + fn:
        assert abs(r["recall"] - tp / (tp + fn)) < 1e-6
    assert 0.0 <= r["accuracy"] <= 1.0
    if r["mcc"] is not None:
        assert -1.0 <= r["mcc"] <= 1.0


def test_bh_fdr_planted_drift_discovered_null_not(spark):
    """A type whose second time-half shifts by +10 is a discovery; a
    stationary type is not; and the BH q-values dominate the raw
    p-values (the step-up's monotonicity contract)."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(400):
        ts = t0 + datetime.timedelta(minutes=i)
        shift = 10.0 if i >= 200 else 0.0
        rows.append((eid, ts, 1, "drifty", (i % 17) / 17.0 + shift, None))
        eid += 1
        rows.append((eid, ts, 2, "steady", (i % 23) / 23.0, None))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        r["event_type"]: r
        for r in REGISTRY["stats_bh_fdr_ks_by_type"][0](spark, d).collect()
    }
    assert out["drifty"]["discovery"] == 1
    assert out["steady"]["discovery"] == 0
    for r in out.values():
        assert 0.0 <= r["p_value"] <= 1.0
        assert r["q_value"] >= r["p_value"] - 1e-12
        assert r["q_value"] <= 1.0


def test_doremi_step_weights_normalize_and_upweight_hard_domains(spark):
    """EG invariants straight from the output: weights form a
    distribution, and weight/share ratios are strictly monotone in
    excess loss (harder-than-mixture domains get upweighted)."""
    REGISTRY = load_registry()

    rows = REGISTRY["mix_doremi_step"][0](spark, SF_DIR).collect()
    assert len(rows) > 1
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    assert all(r["weight"] > 0 for r in rows)
    by_excess = sorted(rows, key=lambda r: r["excess"])
    ratios = [r["weight"] / r["share"] for r in by_excess]
    assert all(a <= b + 1e-9 for a, b in zip(ratios, ratios[1:]))
    pos = [r for r in rows if r["excess"] > 0]
    neg = [r for r in rows if r["excess"] < 0]
    if pos and neg:
        assert min(r["weight"] / r["share"] for r in pos) > max(
            r["weight"] / r["share"] for r in neg
        )


def test_hampel_replaces_planted_spike_keeps_clean_points(spark):
    """A lone 100.0 spike in a flat series is flagged and replaced by
    the local median; every clean point passes through untouched."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        v = 100.0 if i == 20 else 5.0 + (i % 3) * 0.01
        rows.append((i, t0 + datetime.timedelta(seconds=i), 1, "a", v, None))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {
        r["event_id"]: r
        for r in REGISTRY["ts_hampel_filter"][0](spark, d).collect()
    }
    assert out[20]["is_outlier"] == 1
    assert abs(out[20]["filtered"] - out[20]["med"]) < 1e-9
    assert out[20]["filtered"] < 6.0
    clean = [r for i, r in out.items() if abs(i - 20) > 3]
    assert all(r["is_outlier"] == 0 for r in clean)
    assert len(out) == 40


def test_centroid_shift_identical_halves_cosine_one(spark):
    """Vectors duplicated across parity halves give centroid cosine
    exactly 1 and l2 shift 0 for every label."""
    REGISTRY = load_registry()
    import os
    import tempfile

    rows = []
    for k in range(6):
        vec = [float((k * 7 + j) % 5) / 4.0 + 0.1 for j in range(8)]
        rows.append((2 * k, vec, k % 2))      # even half
        rows.append((2 * k + 1, vec, k % 2))  # odd half, same vector
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tempfile.mkdtemp()
    emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = REGISTRY["emb_centroid_shift_by_label"][0](spark, d).collect()
    assert len(out) == 2
    for r in out:
        assert abs(r["centroid_cosine"] - 1.0) < 1e-6
        assert abs(r["l2_shift"]) < 1e-6
        assert r["n_a"] == r["n_b"]


def test_hits_authority_is_distribution_and_favors_hub_heavy_type(spark):
    """Authority scores form a distribution over types, and a type
    engaged only by multi-type (hub) users outranks a type with the
    same raw count from single-type users."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # hubs 1-5 touch hubbed + popular; loners 10-19 touch lonely only
    for u in range(1, 6):
        for t in ("hubbed", "popular"):
            for _ in range(4):
                rows.append((eid, t0, u, t, 1.0, None))
                eid += 1
    for u in range(10, 20):
        for _ in range(2):
            rows.append((eid, t0, u, "lonely", 1.0, None))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["event_type"]: r for r in REGISTRY["graph_hits_scores"][0](spark, d).collect()}
    assert abs(sum(r["authority"] for r in out.values()) - 1.0) < 1e-4
    assert out["hubbed"]["authority"] > out["lonely"]["authority"]
    assert out["hubbed"]["n_users"] == 5


def test_prf_expansion_retrieves_doc_without_original_terms(spark):
    """The recall contract: a document containing ONLY the expansion
    term (no original query term) is absent from plain BM25 results
    but present after PRF expansion."""
    rows = []
    # 5 strong matches: original terms + a distinctive co-term
    for i in range(5):
        rows.append((i, "spark window join quasar " + f"alpha{i} beta{i}"))
    # the target: shares only the co-term
    rows.append((100, "quasar telemetry " + "filler " * 5))
    # diluting corpus: common words, no query terms
    for i in range(40):
        rows.append((200 + i, "the quick brown fox jumps over lazy dog " * 2))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {r["doc_id"] for r in tx.bm25_topk(docs, ["spark", "window", "join"], k=20).collect()}
    prf = tx.bm25_prf_topk(
        docs, ["spark", "window", "join"], k=20, fb_docs=5, fb_terms=3, beta=0.5
    )
    got = {r["doc_id"]: r for r in prf.collect()}
    assert 100 not in plain
    assert 100 in got
    scores = [r["score"] for r in sorted(got.values(), key=lambda r: (-r["score"], r["doc_id"]))]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    # originals still dominate: every seed doc outranks the expansion-only doc
    for i in range(5):
        assert got[i]["score"] > got[100]["score"]


def test_cramers_v_perfect_association_is_one_independence_near_zero(spark):
    """type_x_hod V == 1 when every type owns one hour exclusively;
    an independent uniform grid gives V == 0."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)  # midnight UTC
    rows = []
    eid = 0
    # perfect: type 'a' only hour 0, 'b' only hour 1 (same weekday)
    for i in range(20):
        rows.append((eid, t0 + datetime.timedelta(minutes=i), 1, "a", 1.0, None)); eid += 1
        rows.append((eid, t0 + datetime.timedelta(hours=1, minutes=i), 2, "b", 1.0, None)); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["pair"]: r for r in REGISTRY["stats_cramers_v_pairs"][0](spark, d).collect()}
    assert abs(out["type_x_hod"]["cramers_v"] - 1.0) < 1e-6
    assert out["type_x_hod"]["dof"] == 1
    assert out["type_x_hod"]["n"] == 40
    # one weekday only -> hod_x_dow and type_x_dow are degenerate (c=1):
    # dof 0 and a NULL-guarded V instead of a divide-by-zero
    assert out["hod_x_dow"]["dof"] == 0
    assert out["hod_x_dow"]["cramers_v"] is None


def test_fd_audit_key_holds_multivalued_violates(spark):
    """o_orderkey->o_custkey holds (it is a key); the planted
    multi-sourced FDs report their true violation counts."""
    REGISTRY = load_registry()

    out = {r["fd"]: r for r in REGISTRY["dq_functional_dependency"][0](spark, SF_DIR).collect()}
    assert out["orders.o_orderkey->o_custkey"]["holds"] == 1
    assert out["orders.o_orderkey->o_custkey"]["n_violating"] == 0
    assert out["lineitem.l_partkey->l_suppkey"]["holds"] == 0
    assert out["lineitem.l_partkey->l_suppkey"]["violation_rate"] > 0.5
    for r in out.values():
        assert 0.0 <= r["violation_rate"] <= 1.0


def test_chi2_zero_cells_contribute_expected_mass(spark):
    """r9 zero-cell fix: a type completely absent from an hour now
    contributes (0−E)²/E — perfect 2×2 association yields chi2 = n
    and the residual drill-down emits the missing cells with negative
    residuals."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(20):
        rows.append((eid, t0 + datetime.timedelta(minutes=i), 1, "a", 1.0, None)); eid += 1
        rows.append((eid, t0 + datetime.timedelta(hours=1, minutes=i), 2, "b", 1.0, None)); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    parent = REGISTRY["stats_chi2_type_vs_hour"][0](spark, d).collect()[0]
    assert abs(parent["chi2"] - parent["n"]) < 1e-6  # phi = 1
    cells = REGISTRY["stats_chi2_residuals"][0](spark, d).collect()
    assert len(cells) == 4  # full 2x2 grid, zero cells included
    zero = [c for c in cells if c["obs"] == 0]
    assert len(zero) == 2
    assert all(c["std_residual"] < 0 for c in zero)


def test_lift_gains_monotone_and_reconciles_with_confusion(spark):
    """Gains curve invariants: cum_share and cum_gains are monotone
    walking DOWN the score bands, the bottom row captures everything
    (gains=1, lift=1 at 100% share), and totals reconcile with the
    confusion matrix's positive count."""
    REGISTRY = load_registry()

    rows = sorted(
        REGISTRY["eval_lift_gains_decile"][0](spark, SF_DIR).collect(),
        key=lambda r: -r["bin"],
    )
    assert rows
    shares = [r["cum_share"] for r in rows]
    gains = [r["cum_gains"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(shares, shares[1:]))
    assert all(a <= b + 1e-9 for a, b in zip(gains, gains[1:]))
    assert abs(shares[-1] - 1.0) < 1e-6
    assert abs(gains[-1] - 1.0) < 1e-6
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-6
    conf = REGISTRY["eval_confusion_at_threshold"][0](spark, SF_DIR).collect()[0]
    n_pos = conf["tp"] + conf["fn"]
    assert sum(r["n_pass"] for r in rows) == n_pos


def test_personalized_pagerank_mass_stays_near_seeds(spark):
    """Two disconnected triangles; seeds in triangle A: every A-member
    (seed or not) outranks every B-member, and B gets zero mass (no
    teleport ever lands there)."""
    from time_series_data_trimmer_spark.operators import graph as gr

    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    rows = [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["ppr"] for r in gr.personalized_pagerank(edges, seeds).collect()}
    assert set(out) == {1, 2, 3, 10, 11, 12}
    assert min(out[n] for n in (1, 2, 3)) > max(out[n] for n in (10, 11, 12))
    assert all(out[n] == 0.0 for n in (10, 11, 12))
    assert out[1] > out[2]  # the seed keeps the restart mass
    assert abs(sum(out.values()) - 1.0) < 1e-3  # stochastic up to rounding


def test_dp_report_sensitivity_and_publishability(spark):
    """User-level sensitivity is the max per-user contribution, the
    looser epsilon is never MORE publishable, and rel_err recomputes
    from its own columns."""
    REGISTRY = load_registry()

    rows = REGISTRY["privacy_dp_count_report"][0](spark, SF_DIR).collect()
    assert rows
    by_type = {}
    for r in rows:
        assert abs(r["rel_err"] - (r["sensitivity"] / r["epsilon"]) / r["n"]) < 1e-5
        assert r["sensitivity"] >= 1
        assert r["n"] >= r["n_users"]
        by_type.setdefault(r["event_type"], {})[r["epsilon"]] = r["publishable"]
    for flags in by_type.values():
        assert flags[0.1] <= flags[1.0]


def _cusum_replica(values, mu0=100.0, kappa=5.0, h=500.0):
    off = int(round((mu0 + kappa) * 10000))
    hs = int(round(h * 10000))
    cum = fl = maxs = alerts = 0
    for v in values:
        import math
        cum += int(math.floor(v * 10000.0 + 0.5)) - off
        fl = min(fl, cum)
        s = cum - min(0, fl)
        maxs = max(maxs, s)
        alerts += 1 if s > hs else 0
    return maxs / 10000.0, alerts, (cum - min(0, fl)) / 10000.0


def test_stream_cusum_state_carries_across_triggers(spark):
    """Two files, one trigger each (maxFilesPerTrigger=1): the final
    state equals the pure-Python sequential replica over the full
    ordered series — the cross-batch recurrence is exact."""
    from time_series_data_trimmer_spark.streaming.stream_ops import stream_cusum_alert
    import datetime
    import os
    import tempfile
    import time

    t0 = datetime.datetime(2024, 1, 1)
    vals = [100.0 + (i % 7) for i in range(60)] + [300.0] * 15 + [100.0] * 25
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), 1, "a", v, None)
        for i, v in enumerate(vals)
    ]
    d = tempfile.mkdtemp()
    pdir = os.path.join(d, "events.parquet")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    spark.createDataFrame(rows[:50], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(pdir)
    time.sleep(1.1)  # second file strictly newer: in-order arrival
    spark.createDataFrame(rows[50:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(pdir)
    out = stream_cusum_alert(spark, pdir, max_files_per_trigger=1)
    rows_out = out.collect()
    final = max(
        (r for r in rows_out if r["event_type"] == "a"),
        key=lambda r: r["n_obs"],
    )
    exp_max, exp_alerts, exp_now = _cusum_replica(vals)
    assert final["n_obs"] == len(vals)
    assert abs(final["max_cusum"] - exp_max) < 1e-9
    assert final["n_alerts"] == exp_alerts
    assert abs(final["cusum_now"] - exp_now) < 1e-9
    assert exp_alerts > 0  # the planted +200 shift actually fires
    # more than one emission proves more than one trigger ran
    assert len([r for r in rows_out if r["event_type"] == "a"]) >= 2


def test_hashing_collision_monotone_in_width(spark):
    """More hash bits never increase collisions; bucket counts bound
    by both vocab size and table size."""
    REGISTRY = load_registry()

    rows = {r["k_bits"]: r for r in REGISTRY["feature_hashing_collision_report"][0](spark, SF_DIR).collect()}
    assert set(rows) == {12, 16, 20}
    n = {r["n_tokens"] for r in rows.values()}
    assert len(n) == 1  # same vocab at every width
    for k, r in rows.items():
        assert r["buckets_used"] <= min(r["n_tokens"], 2 ** k)
        assert r["n_collided"] == r["n_tokens"] - r["buckets_used"]
    assert rows[12]["n_collided"] >= rows[16]["n_collided"] >= rows[20]["n_collided"]


def test_volume_anomaly_flags_planted_burst_day(spark):
    """29 calm days + one 12x day: exactly the burst day flags."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(30):
        n = 240 if day == 17 else 20 + (day % 3)
        for i in range(n):
            rows.append(
                (eid, t0 + datetime.timedelta(days=day, seconds=i), 1, "a", 1.0, None)
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = REGISTRY["dq_volume_anomaly_daily"][0](spark, d).collect()
    assert len(out) == 30
    flagged = [r for r in out if r["anomaly"] == 1]
    assert len(flagged) == 1
    assert flagged[0]["n_rows"] == 240
    assert flagged[0]["robust_z"] > 3.5


def test_kcenter_picks_are_diverse_and_radius_shrinks(spark):
    """Farthest-point invariants: 8 distinct picks, the covering
    radius (dist2 at selection) is non-increasing, and on a planted
    3-cluster set the first 3 picks hit 3 different clusters."""
    REGISTRY = load_registry()
    import os
    import tempfile

    out = REGISTRY["sample_kcenter_coreset"][0](spark, SF_DIR).collect()
    assert len(out) == 8
    assert len({r["vec_id"] for r in out}) == 8
    radii = [r["dist2_to_set"] for r in sorted(out, key=lambda r: r["round"])][1:]
    assert all(a >= b - 1e-9 for a, b in zip(radii, radii[1:]))

    # planted: 3 tight clusters far apart -> first 3 picks cover all 3
    rows = []
    centers = [0.0, 100.0, 200.0]
    vid = 0
    for ci, c in enumerate(centers):
        for j in range(5):
            rows.append((vid, [c + j * 0.01] * 4, ci))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tempfile.mkdtemp()
    emb.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    got = sorted(
        REGISTRY["sample_kcenter_coreset"][0](spark, d).collect(),
        key=lambda r: r["round"],
    )
    first3_clusters = {r["vec_id"] // 5 for r in got[:3]}
    assert first3_clusters == {0, 1, 2}


def test_basket_lift_planted_perfect_pair_tops(spark):
    """Parts 1 and 2 always co-occur in their 4 baskets and nowhere
    else -> they top the lift ranking; a pair seen twice (< min
    support 3) is excluded."""
    REGISTRY = load_registry()
    import os
    import tempfile

    rows = []
    lid = 0
    # 4 baskets of the perfect pair
    for o in range(4):
        for pk in (1, 2):
            rows.append((100 + o, lid, pk)); lid += 1
    # 2 baskets of a sub-support pair
    for o in range(2):
        for pk in (7, 8):
            rows.append((200 + o, lid, pk)); lid += 1
    # 30 noise baskets sharing common part 50 with rotating partners
    for o in range(30):
        rows.append((300 + o, lid, 50)); lid += 1
        rows.append((300 + o, lid, 60 + o % 6)); lid += 1
    li = spark.createDataFrame(rows, "l_orderkey long, l_lineno long, l_partkey long")
    d = tempfile.mkdtemp()
    li.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    out = REGISTRY["orders_basket_lift_pairs"][0](spark, d).collect()
    assert out
    top = out[0]
    assert (top["part_a"], top["part_b"]) == (1, 2)
    assert top["n_pair"] == 4
    assert top["conf_a_b"] == 1.0 and top["conf_b_a"] == 1.0
    assert not any({r["part_a"], r["part_b"]} == {7, 8} for r in out)
    for r in out:
        assert r["n_pair"] >= 3


def test_markov_stationary_absorbing_type_takes_mass(spark):
    """A chain where every user drifts a->b->c and stays on c: the
    stationary estimate puts the most mass on c and both columns form
    distributions."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(20):
        seq = ["a", "b"] + ["c"] * 8
        for i, et in enumerate(seq):
            rows.append((eid, t0 + datetime.timedelta(seconds=i), u, et, 1.0, None))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["event_type"]: r for r in REGISTRY["markov_stationary_dist"][0](spark, d).collect()}
    assert set(out) == {"a", "b", "c"}
    assert abs(sum(r["stationary_p"] for r in out.values()) - 1.0) < 1e-4
    assert abs(sum(r["empirical_p"] for r in out.values()) - 1.0) < 1e-4
    assert out["c"]["stationary_p"] > out["a"]["stationary_p"]
    assert out["c"]["stationary_p"] > out["b"]["stationary_p"]
    assert out["c"]["delta"] > 0  # chain pulls mass toward the absorbing type


def test_lp_modularity_two_cliques_high_q(spark):
    """Two 5-cliques joined by one bridge: LP recovers the two
    communities and Q lands near the two-community optimum (~0.4);
    the planted structure also pins n_communities and intra fraction."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # clique A: users 1-5 share one overlapping hour; clique B: 11-15
    for u in range(1, 6):
        rows.append((eid, t0, u, "x", 1.0, None)); eid += 1
        rows.append((eid, t0 + datetime.timedelta(minutes=20), u, "x", 1.0, None)); eid += 1
    for u in range(11, 16):
        rows.append((eid, t0 + datetime.timedelta(hours=5), u, "x", 1.0, None)); eid += 1
        rows.append((eid, t0 + datetime.timedelta(hours=5, minutes=20), u, "x", 1.0, None)); eid += 1
    # bridge: user 5 also active in B's hour (one cross edge set)
    rows.append((eid, t0 + datetime.timedelta(hours=5, minutes=10), 5, "x", 1.0, None)); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    r = REGISTRY["graph_lp_modularity"][0](spark, d).collect()[0]
    assert r["n_nodes"] == 10
    assert r["n_communities"] == 2
    # the bridge user sees 5 B-neighbors vs 4 A-neighbors and defects
    assert r["largest_comm"] == 6
    # Q of the 4/6 split is 0.2752 (the 5/5 optimum would be ~0.41) —
    # still far above the random-graph 0
    assert 0.2 < r["modularity_q"] < 0.45
    assert r["intra_edge_frac"] > 0.7


def test_holt_backtest_columns_reconcile(spark):
    """MASE ratio recomputes from its own MAEs and the win rate is a
    proper fraction; the eval count is bounded by the corpus."""
    REGISTRY = load_registry()

    r = REGISTRY["ts_holt_backtest_mase"][0](spark, SF_DIR).collect()[0]
    assert r["n_evals"] > 0
    assert abs(r["mase_vs_naive"] - r["mae_model"] / r["mae_naive"]) < 1e-4
    assert 0.0 <= r["win_rate"] <= 1.0
    assert r["mae_model"] >= 0 and r["mae_naive"] > 0


def test_srm_clean_hash_passes_broken_assignment_flags(spark):
    """The md5 assignment over sequential user ids shows no SRM; a
    deliberately broken assignment (every user to bucket 0) flags."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    out = {r["scheme"]: r for r in REGISTRY["dq_srm_check"][0](spark, SF_DIR).collect()}
    assert set(out) == {"ab_2way", "uniform_10way"}
    assert out["ab_2way"]["srm_flag"] == 0
    assert out["uniform_10way"]["srm_flag"] == 0
    # broken: 200 users all with ids ≡ same md5 parity is impractical to
    # plant; instead verify the chi2 math flags a 90/10 count split
    na, nb = 180, 20
    exp = (na + nb) / 2
    chi2 = (na - exp) ** 2 / exp + (nb - exp) ** 2 / exp
    assert chi2 > 3.841  # the statistic the query computes would flag


def test_interleave_schedule_prefix_stays_on_mix(spark):
    """Smooth-WRR contract: every prefix of the schedule keeps each
    source's realized slot count within 2 slots of its target share
    (virtual-time EDF bound at arbitrary prefixes) — the property IID
    sampling lacks (O(sqrt n) wander); steps are 1..N with no gaps."""
    REGISTRY = load_registry()
    import os
    import tempfile

    rows = []
    did = 0
    for src, ndocs, nwords in (("big", 30, 40), ("mid", 15, 20), ("small", 5, 8)):
        for i in range(ndocs):
            rows.append((did, " ".join(["w"] * nwords), "en", src)); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = sorted(
        REGISTRY["mix_interleave_schedule"][0](spark, d).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in out] == list(range(1, len(out) + 1))
    # shares from token mass: big/mid/small docs*words proportional
    tok = {"big": 30 * 40, "mid": 15 * 20, "small": 5 * 8}
    tt = sum(tok.values())
    seen = {k: 0 for k in tok}
    for r in out:
        seen[r["source"]] += 1
        n = r["step"]
        for k in tok:
            assert abs(seen[k] - n * tok[k] / tt) <= 2.0 + 1e-9


def test_family_agreement_counts_reconcile(spark):
    """n_union = n_minhash + n_simhash − n_both, and both similarity
    ratios live in [0,1]."""
    REGISTRY = load_registry()

    r = REGISTRY["dedup_family_agreement"][0](spark, SF_DIR).collect()[0]
    assert r["n_union"] == r["n_minhash"] + r["n_simhash"] - r["n_both"]
    if r["overlap_jaccard"] is not None:
        assert 0.0 <= r["overlap_jaccard"] <= 1.0
        assert r["overlap_jaccard"] <= (r["dice"] or 0) + 1e-9  # J <= D always


def test_qi_risk_monotone_in_dimensions(spark):
    """Adding QI attributes can only shrink equivalence classes:
    group count rises, min_k falls, risk share rises (weakly)."""
    REGISTRY = load_registry()

    out = {r["qi_set"]: r for r in REGISTRY["privacy_qi_risk_sweep"][0](spark, SF_DIR).collect()}
    a, b, c = out["type"], out["type+hour"], out["type+hour+dow"]
    assert a["n_rows"] == b["n_rows"] == c["n_rows"]
    assert a["n_groups"] <= b["n_groups"] <= c["n_groups"]
    assert a["min_k"] >= b["min_k"] >= c["min_k"]
    assert a["risk_share"] <= b["risk_share"] + 1e-9 <= c["risk_share"] + 2e-9


def test_tost_identical_halves_equivalent_shifted_not(spark):
    """A stationary type affirms equivalence; a type whose second
    half shifts by 5x the margin does not."""
    REGISTRY = load_registry()
    import datetime
    import os
    import tempfile

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(400):
        ts = t0 + datetime.timedelta(minutes=i)
        rows.append((eid, ts, 1, "steady", 10.0 + (i % 11) / 11.0, None)); eid += 1
        shift = 5.0 if i >= 200 else 0.0
        rows.append((eid, ts, 2, "shifted", 10.0 + (i % 11) / 11.0 + shift, None)); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["event_type"]: r for r in REGISTRY["stats_tost_equivalence_by_type"][0](spark, d).collect()}
    assert out["steady"]["equivalent"] == 1
    assert out["shifted"]["equivalent"] == 0
    assert out["shifted"]["mean_diff"] > out["shifted"]["margin"]


def test_f1_sweep_best_flag_is_argmax_and_counts_reconcile(spark):
    """Exactly one best row; it attains the max F1; every row's
    tp+fn equals the positive total."""
    REGISTRY = load_registry()

    rows = REGISTRY["eval_f1_threshold_sweep"][0](spark, SF_DIR).collect()
    assert rows
    best = [r for r in rows if r["is_best"] == 1]
    assert len(best) == 1
    mf = max(r["f1"] for r in rows)
    assert abs(best[0]["f1"] - mf) < 1e-12
    pos = {r["tp"] + r["fn"] for r in rows}
    assert len(pos) == 1


def test_kmv_error_curve_tightens_and_saturates(spark):
    """Mean |rel err| is non-increasing in k, and once k exceeds a
    source's true vocabulary the sketch is exact (n_kept < k branch)."""
    REGISTRY = load_registry()

    rows = REGISTRY["sketch_kmv_error_vs_k"][0](spark, SF_DIR).collect()
    by_k = {}
    for r in rows:
        by_k.setdefault(r["k"], []).append(r)
    ks = sorted(by_k)
    means = [sum(abs(r["rel_err"]) for r in by_k[k]) / len(by_k[k]) for k in ks]
    assert means == sorted(means, reverse=True) or means[0] >= means[-1]
    for r in rows:
        if r["n_kept"] < r["k"]:
            assert r["rel_err"] == 0.0
            assert r["est_distinct"] == r["exact_distinct"]


def test_vocab_coverage_walk_reaches_one(spark):
    """Walking bands from the top, coverage is monotone and the last
    row covers the whole corpus mass and vocabulary."""
    REGISTRY = load_registry()

    rows = sorted(
        REGISTRY["text_vocab_coverage_by_freq_band"][0](spark, SF_DIR).collect(),
        key=lambda r: -r["band"],
    )
    assert rows
    cov = [r["coverage_from_top"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(cov, cov[1:]))
    assert abs(cov[-1] - 1.0) < 1e-6
    assert rows[-1]["vocab_from_top"] == sum(r["n_types"] for r in rows)
    for r in rows:
        assert r["min_freq"] == 2 ** r["band"]
