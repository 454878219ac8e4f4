"""Tests for recipe compiler, dedup, similarity, and text operators."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from time_series_data_trimmer_spark.operators import dedup as dd
from time_series_data_trimmer_spark.operators import similarity as sim
from time_series_data_trimmer_spark.operators import text as tx
from time_series_data_trimmer_spark.plans.recipe import (
    ExpressionError,
    apply_recipe,
    derived_channel,
    validate_expression,
)
from time_series_data_trimmer_spark.queries_fam import load_registry


# -- recipe / plugin compiler ------------------------------------------------


def _trial_df(spark):
    rows = [("t1", float(i), float(i * 2), 10.0 + i) for i in range(10)]
    return spark.createDataFrame(rows, "trial_id string, normalized_time double, a double, b double")


def test_validate_expression_allows_columns_and_math():
    validate_expression("abs(a) + sqrt(b) * 2", ["a", "b"])


@pytest.mark.parametrize(
    "expr", ["import_os()", "a; drop table x", "c + 1", "a -- comment"]
)
def test_validate_expression_rejects(expr):
    with pytest.raises(ExpressionError):
        validate_expression(expr, ["a", "b"])


def test_derived_channel(spark):
    df = _trial_df(spark)
    out = derived_channel(df, "c", "a + b").toPandas()
    np.testing.assert_allclose(out["c"], out["a"] + out["b"])


def test_apply_recipe_chains_lazily(spark):
    df = _trial_df(spark)
    recipe = {
        "operations": [
            {"description": "filter", "params": {"channels": ["a"], "filter_type": "absolute"}},
            {"description": "filter", "params": {"channels": ["a"], "filter_type": "moving_average",
                                                  "window": 3, "preset": "ui-leftover"}},
            {"description": "plugin:gs", "params": {}},
        ]
    }
    plugins = {"gs": {"operations": [{"type": "derived", "name": "a_twice", "expr": "a * 2"}]}}
    out = apply_recipe(df, recipe, plugins=plugins, sample_rate=1.0)
    pdf = out.toPandas().sort_values("normalized_time")
    want_a = pd.Series([float(i * 2) for i in range(10)]).rolling(3, center=True, min_periods=1).mean()
    np.testing.assert_allclose(pdf["a"], want_a)
    np.testing.assert_allclose(pdf["a_twice"], pdf["a"] * 2)


# -- dedup -------------------------------------------------------------------


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),       # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),       # near dup
        (3, "completely different text about spark engines here"),
        (4, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    docs = _docs(spark)
    groups = dd.exact_dedup_groups(docs).toPandas()
    assert groups["dup_count"].sum() == 5
    assert (groups["dup_count"] > 1).sum() == 1
    survivors = dd.exact_dedup(docs).toPandas()
    assert sorted(survivors["doc_id"]) == [0, 2, 3, 4]


def test_minhash_identical_docs_always_pair(spark):
    pairs = dd.minhash_lsh_pairs(_docs(spark)).toPandas()
    assert (0, 1) in set(zip(pairs["id_a"], pairs["id_b"]))


def test_minhash_jaccard_estimate_bounds(spark):
    docs = _docs(spark)
    pairs = dd.minhash_lsh_pairs(docs)
    est = dd.minhash_jaccard_estimate(docs, pairs).toPandas()
    ident = est[(est.id_a == 0) & (est.id_b == 1)]
    if len(ident):
        assert float(ident["jaccard_est"].iloc[0]) == 1.0


def test_ngram_jaccard_exact(spark):
    out = dd.ngram_jaccard_pairs(_docs(spark), min_jaccard=0.5).toPandas()
    ident = out[(out.id_a == 0) & (out.id_b == 1)]
    assert len(ident) == 1 and float(ident["jaccard"].iloc[0]) == 1.0


def test_simhash_identical_zero_distance(spark):
    fp = dd.simhash(_docs(spark))
    pairs = dd.simhash_pairs(fp, max_hamming=3).toPandas()
    ident = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert len(ident) == 1 and int(ident["hamming"].iloc[0]) == 0


# -- similarity --------------------------------------------------------------


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.7, 0.7, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    out = sim.brute_force_topk(_vecs(spark), [1.0, 0.0, 0.0], k=3).toPandas()
    assert list(out["vec_id"]) == [0, 1, 3]
    np.testing.assert_allclose(out["cosine"].iloc[:2], [1.0, 1.0])


def test_pairwise_topk_excludes_self(spark):
    vecs = _vecs(spark)
    out = sim.pairwise_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2).toPandas()
    assert 0 not in set(out["neighbor_id"])
    assert list(out.sort_values("rank")["neighbor_id"]) == [1, 3]


def test_lsh_topk_finds_identical(spark):
    out = sim.lsh_topk(_vecs(spark), [1.0, 0.0, 0.0], k=3, bits=4).toPandas()
    assert 1 in set(out["vec_id"])  # identical vector shares every hyperplane side


def test_decimal_cosine_matches_numpy(spark):
    out = sim.decimal_cosine_vs_query(_vecs(spark), [0.7, 0.7, 0.0]).toPandas()
    got = dict(zip(out["vec_id"], out["cosine"]))
    q = np.array([0.7, 0.7, 0.0])
    for vid, v in [(0, [1, 0, 0]), (2, [0, 1, 0]), (4, [-1, 0, 0])]:
        v = np.array(v, dtype=float)
        want = v @ q / (np.linalg.norm(v) * np.linalg.norm(q))
        assert abs(got[vid] - want) < 1e-6


# -- text --------------------------------------------------------------------


def test_language_id(spark):
    rows = [
        (0, "the cat and the dog sat in that house and it is warm"),
        (1, "der hund und die katze das ist nicht ein problem mit"),
        (2, "le chat est dans la maison et les oiseaux dans un arbre"),
        (3, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.language_id(df).toPandas().set_index("doc_id")["lang_pred"]
    assert out[0] == "en" and out[1] == "de" and out[2] == "fr" and out[3] == "und"


def test_token_count_and_bpe(spark):
    df = spark.createDataFrame([(0, "a bb ccc"), (1, ""), (2, "  ")], "doc_id long, text string")
    out = df.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n"),
        tx.bpe_ish_token_estimate(F.col("text")).alias("bpe"),
    ).toPandas().set_index("doc_id")
    assert out.loc[0, "n"] == 3 and out.loc[1, "n"] == 0 and out.loc[2, "n"] == 0
    assert out.loc[0, "bpe"] >= 3


def test_quality_score_range(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog " * 10), (1, "1,2,3!!!")],
        "doc_id long, text string",
    )
    out = tx.quality_score(df).toPandas().set_index("doc_id")["quality"]
    assert 0.0 <= out[1] < out[0] <= 1.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello,   World!"), (1, "hello world"), (2, "different")],
        "doc_id long, text string",
    )
    out = tx.fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    assert out[0] == out[1] != out[2]


def test_ivf_topk_recall(spark):
    # clustered synthetic vectors: IVF with enough probes must find the
    # same top neighbors as brute force
    import numpy as np

    rng = np.random.RandomState(21)
    rows = []
    for c in range(4):
        center = rng.randn(8) * 5
        for i in range(25):
            v = center + rng.randn(8) * 0.3
            rows.append((c * 25 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qvec = [float(x) for x in rows[3][1]]

    exact = sim.brute_force_topk(df, qvec, k=5).toPandas()
    approx = sim.ivf_topk(df, qvec, k=5, n_centroids=8, nprobe=4).toPandas()
    # the query's own cluster is always probed → top hit identical
    assert approx["vec_id"].iloc[0] == exact["vec_id"].iloc[0]
    assert len(set(approx["vec_id"]) & set(exact["vec_id"])) >= 3

    full = sim.ivf_topk(df, qvec, k=5, n_centroids=8, nprobe=8).toPandas()
    assert list(full["vec_id"]) == list(exact["vec_id"])  # nprobe=all → exact


def test_ivf_assign_partitions_all_vectors(spark):
    import numpy as np

    rng = np.random.RandomState(2)
    rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = sim.ivf_centroids(df, n_centroids=5)
    assert len(cents) == 5
    assigned = sim.ivf_assign(df, cents).toPandas()
    assert len(assigned) == 40
    assert assigned["centroid_id"].between(0, 4).all()


def test_connected_components_chain_triangle_singleton(spark):
    import pandas as pd

    from time_series_data_trimmer_spark.operators.dedup import connected_components

    # chain 1-2-3-4, triangle 10-11-12, singleton 20
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
            columns=["id_a", "id_b"],
        )
    )
    ids = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11, 12, 20]}))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, all_ids=ids).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_dedup_cluster_survivors_keep_min_per_cluster(spark):
    import pandas as pd

    from time_series_data_trimmer_spark.operators.dedup import dedup_cluster_survivors

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 7, 9], "text": ["a", "a2", "a3", "b", "c"]}
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3)], columns=["id_a", "id_b"])
    )
    kept = sorted(r["doc_id"] for r in dedup_cluster_survivors(docs, pairs).collect())
    assert kept == [1, 7, 9]


def test_redact_behavior(spark):
    import pandas as pd

    from time_series_data_trimmer_spark.operators.text import redact_documents

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "contact jane.doe+spam@example.co.uk for details",
                    "see https://example.com/a?b=1#c and also http://x.io",
                    "call +1 (555) 123-4567 today",
                    "clean text stays untouched",
                ],
            }
        )
    )
    got = {r["doc_id"]: r["text_redacted"] for r in redact_documents(docs).collect()}
    assert got[1] == "contact <EMAIL> for details"
    assert got[2] == "see <URL> and also <URL>"
    assert got[3] == "call <NUM> today"
    assert got[4] == "clean text stays untouched"


def test_token_percentiles_and_dup_rate(spark):
    import pandas as pd

    from time_series_data_trimmer_spark.operators.text import (
        dup_rate_by_source,
        token_percentiles,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "lang": ["en"] * 6,
                "source": ["a", "a", "a", "b", "b", "b"],
                "text": ["w " * n for n in (1, 2, 3, 4, 5, 6)],
            }
        )
    )
    p = token_percentiles(docs).collect()[0]
    assert p["n_docs"] == 6 and p["p50"] == 3.5  # exact interpolated median
    d = {r["source"]: r for r in dup_rate_by_source(docs).collect()}
    assert d["a"]["n_distinct"] == 3 and d["a"]["dup_rate"] == 0.0


def test_connected_components_long_chain_converges(spark):
    # pointer-jumping makes rounds O(log n): a 200-node path graph
    # (diameter 199) must converge well inside max_iter=20 — plain
    # neighbor propagation would need 199 rounds and exit silently wrong
    import pandas as pd

    from time_series_data_trimmer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(199)], columns=["id_a", "id_b"])
    )
    got = connected_components(pairs).collect()
    assert len(got) == 200
    assert all(r["cluster_id"] == 0 for r in got)


# ---------------------------------------------------------------------------
# r5: chunking + quantization operators
# ---------------------------------------------------------------------------


def test_chunk_documents_windows_and_tail(spark):
    from time_series_data_trimmer_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(50))), (2, "a b"), (3, None), (4, "   ")],
        "doc_id int, text string",
    )
    out = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 50 tokens, stride 24 → chunks at 0 (32 toks) and 24 (26
    # toks, reaches the end) — NO redundant third sliver at 48
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in c1] == [32, 26]
    assert c1[0]["chunk_text"].split(" ")[0] == "t0"
    assert c1[1]["chunk_text"].split(" ")[0] == "t24"  # overlap of 8
    assert c1[1]["chunk_text"].split(" ")[-1] == "t49"  # tail covered
    # doc 2: one short chunk; NULL and whitespace-only texts: no chunks
    assert [r["chunk_text"] for r in by_doc[2]] == ["a b"]
    assert 3 not in by_doc and 4 not in by_doc


def test_quantization_roundtrip_error_bound(spark):
    from time_series_data_trimmer_spark.operators.similarity import (
        quantization_report,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rep = quantization_report(emb)
    rows = rep.collect()
    assert len(rows) == emb.count()
    for r in rows:
        # max reconstruction error of 256-level quantization is bounded
        # by scale/2 (+ float32 representation slack)
        assert r["max_abs_err"] <= r["q_scale"] * 0.5 + 1e-6, r
        assert 0 <= r["q_sum"] <= 255 * r["n_dims"]


def test_quantization_constant_vector_is_exact(spark):
    from time_series_data_trimmer_spark.operators.similarity import (
        quantization_report,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [0.0, 1.0, 0.25, 0.75])],
        "vec_id long, embedding array<float>",
    )
    q = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert q[1]["qvec"] == [0] * 8 and q[1]["q_scale"] == 1.0
    assert q[2]["qvec"][0] == 0 and q[2]["qvec"][1] == 255
    rep = {r["vec_id"]: r for r in quantization_report(df).collect()}
    assert rep[1]["max_abs_err"] == 0.0


def test_decontaminate_flags_verbatim_overlap_only(spark):
    from time_series_data_trimmer_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains heldout 4-grams
            (2, "one two three four five six"),          # disjoint vocabulary
            (3, None),                                    # NULL text: never flagged
        ],
        "doc_id int, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r["n_shared_grams"] for r in decontaminate(train, heldout, n=4).collect()}
    # train doc 1 shares the 2 distinct 4-grams of the heldout doc
    assert out == {1: 2}


def test_chunk_documents_coverage_properties(spark):
    """Invariants across sizes: every token is covered, consecutive
    chunks overlap by exactly `overlap` (except a shorter tail), and no
    chunk is fully contained in its predecessor."""
    from time_series_data_trimmer_spark.operators.text import chunk_documents

    sizes = [1, 7, 24, 25, 31, 32, 33, 48, 56, 57, 80, 200]
    docs = spark.createDataFrame(
        [(n, " ".join(f"w{i}" for i in range(n))) for n in sizes],
        "doc_id int, text string",
    )
    out = chunk_documents(docs, chunk_tokens=32, overlap=8)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    stride = 24
    for n in sizes:
        cs = sorted(by_doc[n], key=lambda r: r["chunk_id"])
        covered = set()
        prev_end = None
        for c in cs:
            start = c["chunk_id"] * stride
            toks = c["chunk_text"].split(" ")
            assert toks == [f"w{i}" for i in range(start, start + c["n_tokens"])]
            end = start + c["n_tokens"]
            if prev_end is not None:
                assert end > prev_end  # never contained in predecessor
            prev_end = end
            covered |= set(range(start, end))
        assert covered == set(range(n)), f"n={n}"
        # stop-at-end rule: at most one chunk reaches the document end
        assert sum(1 for c in cs if c["chunk_id"] * stride + c["n_tokens"] == n) == 1


def test_collapse_repeat_tokens_semantics(spark):
    from time_series_data_trimmer_spark.operators.text import collapse_repeat_tokens

    df = spark.createDataFrame(
        [
            (1, "the the the cat sat sat"),
            (2, "a b a b"),      # non-consecutive repeats stay
            (3, "x"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: (r["cleaned"], r["n_removed"]) for r in collapse_repeat_tokens(df).collect()}
    assert out[1] == ("the cat sat", 3)
    assert out[2] == ("a b a b", 0)
    assert out[3] == ("x", 0)
    assert out[4] == (None, None)


def test_spearman_matches_pure_python(spark):
    """The doubled-rank Spearman must equal a straightforward
    tie-averaged-rank Pearson computed in pure Python on the same
    sf0.001 slice."""
    from collections import defaultdict
    import math

    from pyspark.sql import functions as F
    REGISTRY = load_registry()

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r["spearman_rho"]
        for r in REGISTRY["stats_spearman_value_vs_hour"][0](spark, sf).collect()
    }

    df = spark.read.parquet(f"{sf}/events.parquet")
    rows = df.select(
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("xv"),
        F.expr(
            "(unix_micros(cast(ts as timestamp)) div 3600000000) % 24"
        ).alias("yv"),
    ).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append((r["xv"], r["yv"]))

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            r = (i + 1 + j) / 2.0  # average of ranks i+1..j
            for t in range(i, j):
                ranks[order[t]] = r
            i = j
        return ranks

    for et, pairs in groups.items():
        xs, ys = zip(*pairs)
        rx, ry = avg_ranks(list(xs)), avg_ranks(list(ys))
        n = len(rx)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        rho = (n * sxy - sx * sy) / math.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        assert abs(got[et] - rho) < 1e-5, (et, got[et], rho)
