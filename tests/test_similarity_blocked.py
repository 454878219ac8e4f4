"""LSH-blocked embedding near-dup: recall vs the all-pairs exact path,
and the no-quadratic-join plan invariant.

The blocked path (`topk_similar_pairs_blocked`) is the production
operator; `topk_similar_pairs` (all-pairs BroadcastNestedLoopJoin) is
kept only as the exactness baseline these tests measure recall against.
"""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.operators import similarity as sim
from time_series_data_trimmer_spark.queries_fam import load_registry

DIM = 32
N_BASE = 60
N_DUPS = 20


def _pseudo_vec(tag: str, dim: int = DIM) -> list[float]:
    """Deterministic pseudo-random unit-ish vector from md5(tag|i)."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{tag}|{i}".encode()).hexdigest()
        out.append(int(h[:8], 16) / float(2**31) - 1.0)
    return out


def _planted(spark):
    """N_BASE independent vectors + N_DUPS tiny perturbations of the
    first N_DUPS — each (i, i + N_BASE) pair is a true near-dup with
    cosine ≥ 0.99; every other pair is far (random 32-dim)."""
    rows = []
    for i in range(N_BASE):
        rows.append((i, _pseudo_vec(f"base{i}")))
    for i in range(N_DUPS):
        v = _pseudo_vec(f"base{i}")
        nrm = math.sqrt(sum(x * x for x in v))
        p = _pseudo_vec(f"pert{i}")
        # perturbation at ~2% of the vector norm → cosine ≈ 0.9998
        v2 = [x + 0.02 * nrm * y / math.sqrt(sum(z * z for z in p)) for x, y in zip(v, p)]
        rows.append((i + N_BASE, v2))
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_planted_near_dup_recall_is_one(spark):
    df = _planted(spark)
    cand = sim.lsh_candidate_pairs(df, DIM, bits=8, tables=6)
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    planted = {(i, i + N_BASE) for i in range(N_DUPS)}
    missed = planted - got
    assert not missed, f"LSH blocking missed planted near-dups: {missed}"


def test_blocked_topk_matches_allpairs_on_near_dups(spark):
    df = _planted(spark)
    exact = sim.topk_similar_pairs(df, k=N_DUPS).collect()
    blocked = sim.topk_similar_pairs_blocked(df, k=N_DUPS, bits=8, tables=6).collect()
    exact_pairs = [(r["id_a"], r["id_b"]) for r in exact]
    blocked_pairs = [(r["id_a"], r["id_b"]) for r in blocked]
    # the exact top-20 is exactly the planted set, and the blocked path
    # reproduces it in the same order with the same cosines
    assert exact_pairs == blocked_pairs
    for re_, rb in zip(exact, blocked):
        assert abs(re_["cosine"] - rb["cosine"]) < 1e-12


def test_blocked_plan_has_no_quadratic_join(spark):
    df = _planted(spark)
    out = sim.topk_similar_pairs_blocked(df, k=5, bits=8, tables=6)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_allpairs_path_still_exact(spark):
    # the opt-in verification path: top-1 of planted data is the most
    # similar planted pair
    df = _planted(spark)
    top = sim.topk_similar_pairs(df, k=1).collect()[0]
    assert top["id_b"] == top["id_a"] + N_BASE
    assert top["cosine"] > 0.99


# ---------------------------------------------------------------------------
# IVF Lloyd refinement (r5): determinism, empty-cell stability, recall
# ---------------------------------------------------------------------------


def test_lloyd_refine_is_deterministic_and_keeps_count(spark):
    df = _planted(spark)
    seeds = sim.ivf_centroids(df, 8)
    r1 = sim.ivf_lloyd_refine(df, seeds, rounds=2)
    r2 = sim.ivf_lloyd_refine(df, seeds, rounds=2)
    assert r1 == r2  # pure function of (data, seeds): no RNG state
    assert [cid for cid, _ in r1] == [cid for cid, _ in seeds]
    assert all(len(v) == DIM for _, v in r1)


def test_lloyd_refine_keeps_empty_cells_unchanged(spark):
    # a centroid far outside the data captures no sample members; the
    # refinement must keep its coordinates instead of dropping the cell
    df = _planted(spark)
    seeds = sim.ivf_centroids(df, 4)
    far = (99, [1000.0] * DIM)
    out = sim.ivf_lloyd_refine(df, seeds + [far], rounds=1)
    assert out[-1] == far
    assert len(out) == len(seeds) + 1


def test_lloyd_refine_moves_centroids_toward_sample_means(spark):
    # refined coordinates land inside the sampled data's bounding box
    # (seed vectors are data points, means contract toward density)
    df = _planted(spark)
    seeds = sim.ivf_centroids(df, 4)
    refined = sim.ivf_lloyd_refine(df, seeds, rounds=1, sample_hex_lt=None)
    moved = sum(1 for (c1, v1), (c2, v2) in zip(seeds, refined) if v1 != v2)
    assert moved >= 1  # at least one non-singleton cell exists
    lo = min(x for _, v in seeds for x in v) - 1.5
    hi = max(x for _, v in seeds for x in v) + 1.5
    for _, v in refined:
        assert all(lo <= x <= hi for x in v)


def test_ivf_refined_probe_recall_floor(spark):
    """Recall@10 of the refined-centroid probe vs brute force on planted
    data — the floor SCALING.md re-measures at 10x."""
    df = _planted(spark)
    qvec = _pseudo_vec("base0")
    exact = {r["vec_id"] for r in sim.brute_force_topk(df, qvec, k=10).collect()}
    seeds = sim.ivf_centroids(df, 8)
    cents = sim.ivf_lloyd_refine(df, seeds, rounds=1)
    got = {
        r["vec_id"]
        for r in sim.ivf_topk(df, qvec, k=10, nprobe=4, centroids=cents).collect()
    }
    recall = len(exact & got) / 10.0
    assert recall >= 0.5, f"refined IVF recall@10 = {recall}"


def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """Frozen-centroid contract: appending a batch to the on-disk IVF
    index produces exactly the index a full rebuild would, and the
    probe prunes to its nprobe cell directories at planning time."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    from pyspark.sql import functions as F2

    base = emb.filter(F2.col("vec_id") % 5 < 4)
    batch = emb.filter(F2.col("vec_id") % 5 == 4)
    cents = sim.ivf_centroids(base, 8)
    qvec = [float(x) for x in emb.filter(F2.col("vec_id") == 0).first()["embedding"]]

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    sim.ivf_write_index(base, inc, cents)
    sim.ivf_write_index(batch, inc, cents, mode="append")
    sim.ivf_write_index(emb, full, cents)

    stats = lambda d: {
        (r["centroid_id"], r["n_vectors"])
        for r in sim.ivf_cell_stats(spark, d).collect()
    }
    assert stats(inc) == stats(full)

    probe_inc = sim.ivf_index_probe(spark, inc, cents, qvec, k=5, nprobe=3)
    probe_full = sim.ivf_index_probe(spark, full, cents, qvec, k=5, nprobe=3)
    assert probe_inc.collect() == probe_full.collect()

    plan = probe_inc._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1][:200]


def test_matryoshka_shortlist_recall(spark):
    """Matryoshka rerank returns exact full-dim cosines, and its
    top-10 overlaps the exact brute-force top-10 well (the prefix is
    informative on the synthetic embeddings); with shortlist == N it
    must equal the exact ranking."""
    from time_series_data_trimmer_spark.operators import similarity as sim
    from time_series_data_trimmer_spark.functions.rounding import rd
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    exact = {
        r["vec_id"]
        for r in sim.decimal_cosine_vs_query(emb, qvec)
        .select("vec_id", rd(F.col("cosine"), 6).alias("c"))
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    }
    got = sim.matryoshka_topk(emb, qvec, k=10, prefix_dims=8, shortlist=40)
    ids = {r["vec_id"] for r in got.collect()}
    assert len(ids) == 10
    recall = len(ids & exact) / 10.0
    assert recall >= 0.5, f"prefix-8 recall@10 collapsed: {recall}"

    # full shortlist == exact ranking (the shortlist is the only
    # approximation; the rerank itself is exact)
    full = sim.matryoshka_topk(emb, qvec, k=10, prefix_dims=8, shortlist=n)
    assert {r["vec_id"] for r in full.collect()} == exact


def test_hard_negatives_match_allpairs_on_small_corpus(spark):
    """With bits low enough that LSH blocks cover densely, the blocked
    hard-negative miner must agree with the exact all-pairs
    different-label top-k on the tiny corpus; and every emitted
    negative must carry a label different from its anchor's."""
    REGISTRY = load_registry()

    got = REGISTRY["emb_hard_negatives"][0](spark, "/root/testdata/sf0.001").collect()
    assert got, "miner returned nothing"
    assert all(r["label"] != r["neg_label"] for r in got)
    # per-anchor ranks are 1..k, unique
    by_anchor = {}
    for r in got:
        by_anchor.setdefault(r["vec_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_anchor.values())


def test_retrieval_mrr_perfect_twins(spark):
    """Pairs of near-identical vectors per label, all in one LSH
    bucket (identical directions => identical signatures): each
    query's top candidate is its twin, so every label's MRR is 1.0."""
    from time_series_data_trimmer_spark.operators import similarity as sim

    rows = []
    vid = 0
    for lbl, bump in [("a", 1), ("b", 3), ("c", 6)]:  # fixed distinct directions
        for j in range(2):
            base = [1.0] * 8
            base[bump] += 0.5                # label direction
            base[0] += 0.001 * j             # twin jitter
            rows.append((vid, base, lbl))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = {r["label"]: r for r in sim.retrieval_mrr(df, bits=4, tables=3, dim=8).collect()}
    assert set(out) == {"a", "b", "c"}
    for lbl, r in out.items():
        assert r["n_queries"] == 2 and r["n_hit"] == 2
        assert r["mrr"] == 1.0


def test_retrieval_mrr_zero_when_no_same_label_candidate(spark):
    """A label with a single vector can never hit: rr = 0 counts in
    the denominator."""
    from time_series_data_trimmer_spark.operators import similarity as sim

    rows = [
        (0, [1.0] * 8, "solo"),
        (1, [1.0] * 7 + [1.1], "pair"),
        (2, [1.0] * 7 + [1.2], "pair"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = {r["label"]: r for r in sim.retrieval_mrr(df, bits=2, tables=3, dim=8).collect()}
    assert out["solo"]["mrr"] == 0.0 and out["solo"]["n_hit"] == 0
    assert out["pair"]["mrr"] == 1.0
