"""r10 wave tests: the per-bucket interval cap on the overlap join
(VERDICT r9 #6 — the skewed-concurrency guard), its forfeit
accounting, and the BPE encoder dispatch (VERDICT r9 #2)."""

from __future__ import annotations

import pyspark.sql.functions as F

from time_series_data_trimmer_spark.operators import intervals as iv
from time_series_data_trimmer_spark.operators import text as tx
from time_series_data_trimmer_spark.queries_fam import load_registry

HOUR = 3_600_000_000


def _ivl(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, session_idx long, start_us long, end_us long"
    )


def _hot_hour(spark, n_hot=120, n_cold=8):
    """One hot bucket: n_hot users co-running inside hour 10, plus
    n_cold isolated users one per later hour (no cross-overlap)."""
    rows = [
        # all inside [10h + 60s, 10h + 3000s + i] — pairwise overlapping
        (i, 0, 10 * HOUR + 60_000_000, 10 * HOUR + 3_000_000_000 + i)
        for i in range(n_hot)
    ] + [
        (1000 + j, 0, (20 + 2 * j) * HOUR + 1, (20 + 2 * j) * HOUR + 100)
        for j in range(n_cold)
    ]
    return _ivl(spark, rows)


def test_capped_overlap_bounds_hot_bucket(spark):
    """120 co-running sessions in one bucket: uncapped emits
    C(120,2) = 7140 pairs; cap 16 emits exactly C(16,2) = 120 —
    quadratic term absorbed linearly. Cold singletons unaffected."""
    ivl = _hot_hour(spark)
    base = dict(
        bucket_us=HOUR, per_bucket_cap=16,
        cap_order_cols=["user_id", "session_idx"],
    )
    pairs = (
        iv.overlap_join(ivl, ivl, **base)
        .filter(F.col("user_id_a") < F.col("user_id_b"))
        .count()
    )
    assert pairs == 16 * 15 // 2
    uncapped = (
        iv.overlap_join(ivl, ivl, bucket_us=HOUR)
        .filter(F.col("user_id_a") < F.col("user_id_b"))
        .count()
    )
    assert uncapped == 120 * 119 // 2


def test_cap_keep_set_is_deterministic_rank(spark):
    """The kept side is the FIRST cap intervals by (start, end,
    order_cols) — users 0..15 here (identical starts, end breaks by
    +i, so ascending user order); forfeited users never pair."""
    ivl = _hot_hour(spark, n_hot=40, n_cold=0)
    kept_pairs = iv.overlap_join(
        ivl, ivl, bucket_us=HOUR, per_bucket_cap=16,
        cap_order_cols=["user_id", "session_idx"],
    ).filter(F.col("user_id_a") < F.col("user_id_b"))
    users = {
        u
        for r in kept_pairs.select("user_id_a", "user_id_b").collect()
        for u in (r["user_id_a"], r["user_id_b"])
    }
    assert users == set(range(16))


def test_bucket_cap_report_accounts_forfeits(spark):
    """Per-bucket accounting: hot bucket forfeits n_hot - cap rows,
    cold buckets forfeit zero; totals reconcile."""
    ivl = _hot_hour(spark, n_hot=120, n_cold=8)
    rep = {
        r["bucket"]: r
        for r in iv.bucket_cap_report(ivl, HOUR, 16).collect()
    }
    hot = rep[10]
    assert hot["n_rows"] == 120
    assert hot["n_kept"] == 16
    assert hot["n_forfeited"] == 104
    cold = [r for b, r in rep.items() if b != 10]
    assert len(cold) == 8
    assert all(r["n_rows"] == 1 and r["n_forfeited"] == 0 for r in cold)
    assert sum(r["n_kept"] + r["n_forfeited"] for r in rep.values()) == sum(
        r["n_rows"] for r in rep.values()
    )


def test_cap_none_is_identity(spark):
    """Default (no cap) emits the identical pair set as before r10 —
    the 352 green queries riding overlap_join are untouched."""
    ivl = _hot_hour(spark, n_hot=10, n_cold=3)
    a = iv.overlap_join(ivl, ivl, bucket_us=HOUR)
    b = iv.overlap_join(
        ivl, ivl, bucket_us=HOUR, per_bucket_cap=None,
    )
    ra = sorted(map(tuple, a.select("user_id_a", "user_id_b").collect()))
    rb = sorted(map(tuple, b.select("user_id_a", "user_id_b").collect()))
    assert ra == rb


def test_bpe_encode_auto_dispatch(spark):
    """At/below the crossover the dispatcher returns the fold plan
    (no Arrow exchange in the plan); above it, the mapInPandas kernel.
    Token output identical either way."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "b c b c a a")],
        "doc_id long, text string",
    )
    rules = [("a", "b"), ("b", "c"), ("c", "d")]
    lo = tx.bpe_encode_auto(df, rules, crossover=8)
    hi = tx.bpe_encode_auto(df, rules, crossover=2)
    assert "mapinpandas" not in lo._jdf.queryExecution().toString().lower()
    assert "mapinpandas" in hi._jdf.queryExecution().toString().lower()
    tl = {r["doc_id"]: list(r["bpe_tokens"]) for r in lo.collect()}
    th = {r["doc_id"]: list(r["bpe_tokens"]) for r in hi.collect()}
    assert tl == th


# ---------------------------------------------------------------------------
# ADVICE r9 fixes, pinned
# ---------------------------------------------------------------------------


def test_ppr_ranks_dangling_nodes_and_guards_empty_seeds(spark):
    """Directed edges a->b, b->c, c has no out-edges: c must appear in
    the output with nonzero rank (dst-only nodes were formerly
    dropped); an unmatched seed set must fail at execution with the
    named message (in-plan assert — an eager guard would run the
    vertex build twice per call), not divide by zero into NULLs."""
    import pytest as _pytest

    from time_series_data_trimmer_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0)], "src string, dst string, weight double"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["ppr"] for r in personalized_pagerank(edges, seeds).collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["c"] > 0.0  # a -> b -> c proximity mass arrives
    bad = spark.createDataFrame([("zz",)], "node string")
    with _pytest.raises(Exception, match="no seed matches"):
        personalized_pagerank(edges, bad).collect()


def test_bm25_prf_duplicate_terms_no_double_count(spark):
    """Duplicate query terms must not fan out the round-2 weighted
    join: scores with ['data', 'data'] == scores with ['data']."""
    from time_series_data_trimmer_spark.operators.text import bm25_prf_topk

    docs = spark.createDataFrame(
        [
            (1, "data table join data spark"),
            (2, "data window filter value"),
            (3, "table scan fast slow"),
            (4, "spark join data table batch"),
        ],
        "doc_id long, text string",
    )
    one = {(r["doc_id"], r["score"]) for r in bm25_prf_topk(docs, ["data"]).collect()}
    dup = {
        (r["doc_id"], r["score"])
        for r in bm25_prf_topk(docs, ["data", "data"]).collect()
    }
    assert one == dup


def test_interleave_prefix_mix_with_dominant_source(spark, tmp_path):
    """A source with share > 1/|sources| (the regime the r9 pool
    truncation missed): every prefix of the schedule stays within one
    slot of the target mix — the SWRR guarantee the query documents."""
    import os

    REGISTRY = load_registry()

    # shares ~ [0.625, 0.25, 0.125]: src0 dominant
    rows = []
    did = 0
    for src, reps in (("s0", 50), ("s1", 20), ("s2", 10)):
        for _ in range(reps):
            rows.append((did, "tok " * 4, "en", src))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    d = str(tmp_path / "ilv")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    sched = (
        REGISTRY["mix_interleave_schedule"][0](spark, d)
        .orderBy("step")
        .collect()
    )
    n = len(sched)
    assert n == 120  # every slot filled — the tail the old pool missed
    shares = {"s0": 50 / 80, "s1": 20 / 80, "s2": 10 / 80}
    counts = {k: 0 for k in shares}
    for i, r in enumerate(sched, start=1):
        counts[r["source"]] += 1
        for s, sh in shares.items():
            assert abs(counts[s] - i * sh) <= 1.0 + 1e-9, (
                f"prefix {i}: {s} count {counts[s]} vs target {i * sh:.2f}"
            )


def test_tost_negative_variance_clamp(spark, tmp_path):
    """A near-constant event-type slice whose 6-dp-rounded moment sums
    make the sample variance slightly negative must yield se=0 /
    equivalent=0 (NaN-free) — the clamp the r9 draft lacked."""
    import datetime
    import os

    REGISTRY = load_registry()

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(minutes=i),
            i % 3,
            "const",
            0.0012,
            None,
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path / "tost")
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = REGISTRY["stats_tost_equivalence_by_type"][0](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    import math

    for c in ("mean_diff", "se", "margin"):
        assert r[c] is not None and not math.isnan(r[c]), (c, r[c])
    assert r["se"] == 0.0
    assert r["equivalent"] == 0


def test_capped_overlap_property_random(spark):
    """Randomized cross-check (md5-seeded, deterministic): the capped
    overlap join's pair set equals a pure-Python reference of the same
    spec — fan to buckets, rank (start, end, user, session) per
    bucket, keep `cap`, emit overlapping kept pairs in their first
    overlap bucket only."""
    import hashlib

    B = 100  # small bucket so intervals span several

    def h(i, j):
        return int(hashlib.md5(f"capprop|{i}|{j}".encode()).hexdigest()[:8], 16)

    for case in range(4):
        rows = []
        n = 18 + case * 7
        for i in range(n):
            start = h(case, i) % 400
            dur = h(case, i + 1000) % 250
            rows.append((i, 0, start, start + dur))
        cap = 2 + case

        # pure-Python reference
        fan = {}
        for uid, sx, s, e in rows:
            for b in range(s // B, e // B + 1):
                fan.setdefault(b, []).append((s, e, uid, sx))
        kept = {
            b: sorted(v)[:cap] for b, v in fan.items()
        }
        expect = set()
        for b, members in kept.items():
            for x in members:
                for y in members:
                    sa, ea, ua, _ = x
                    sb, eb, ub, _ = y
                    if ua >= ub:
                        continue
                    if sa <= eb and sb <= ea and max(sa, sb) // B == b:
                        expect.add((ua, ub))

        ivl = _ivl(spark, rows)
        got = {
            (r["user_id_a"], r["user_id_b"])
            for r in iv.overlap_join(
                ivl, ivl, bucket_us=B, per_bucket_cap=cap,
                cap_order_cols=["user_id", "session_idx"],
            )
            .filter(F.col("user_id_a") < F.col("user_id_b"))
            .select("user_id_a", "user_id_b")
            .distinct()
            .collect()
        }
        assert got == expect, f"case {case}: {got ^ expect}"
