"""Link-analysis operators over edge DataFrames.

`connected_components` (operators/dedup.py) handles the equivalence
side of graph work (dedup clusters); this module adds the CENTRALITY
side. Everything is edge-table relational algebra — no graph library,
no driver-side adjacency, no vertex broadcast that scales with N: an
iteration is two shuffle-hash joins keyed on the vertex id plus one
map-side-combined aggregation, so a 10⁹-vertex graph shards exactly
like any other fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions.rounding import rd


def neighbor_pairs(
    edges: DataFrame,
    u: str,
    v: str,
    a: str = "a",
    b: str = "b",
    cap: int | None = None,
    cap_order: Sequence[Column] = (),
) -> tuple[DataFrame, DataFrame]:
    """Every pair of one vertex's neighbors, without a self-join:
    ``(lists, pairs)``.

    ``lists`` is ``(u, __nbrs)``: the sorted ``v`` list of each ``u``,
    built behind ONE user-pinned exchange on ``u`` (a repartition count
    is exempt from AQE coalescing, so the quadratic pair fan-out runs
    at defaultParallelism instead of the 1-3 tasks AQE coalesces a
    tiny-byte join reduce to). ``pairs`` is ``(u, a, b)``: each list's
    C(n, 2) pairs, ``a < b``, exploded in-row. With ``cap``, a list
    keeps only the first ``cap`` neighbors of ``u`` by ``cap_order``.
    Callers bound n: degree orientation (O(√m) fan) or the cap."""
    par = edges.sparkSession.sparkContext.defaultParallelism
    src = edges.repartition(par, u)
    if cap is not None:
        rn = F.row_number().over(Window.partitionBy(u).orderBy(*cap_order))
        src = src.withColumn("__rn", rn).filter(F.col("__rn") <= cap)
    lists = src.groupBy(u).agg(F.sort_array(F.collect_list(v)).alias("__nbrs"))
    nb = F.col("__nbrs")
    pair_structs = F.flatten(
        F.transform(
            nb,
            lambda x, i: F.transform(
                F.slice(nb, i + F.lit(2), F.size(nb)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
    pairs = lists.select(u, F.explode(pair_structs).alias("__p")).select(
        u, F.col(f"__p.{a}").alias(a), F.col(f"__p.{b}").alias(b)
    )
    return lists, pairs


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted PageRank over a directed edge table, fixed iteration
    count, decimal-exact per step — engine-portable like the PCA power
    iteration (`similarity.power_iteration_top_eigen`), with the full
    unrolled recurrence reproducible as SQL.

    Semantics: vertices = nodes appearing as a source (for an
    undirected graph pass both edge directions; every node then has
    out-degree ≥ 1, so there are no dangling nodes and no leaked-mass
    correction — the documented simplification). Uniform start 1/N;
    step ``r'(v) = (1−d)/N + d · Σ_{u→v} rd(r(u)·w/wdeg(u), 9)`` with
    DECIMAL edge-contribution accumulation and a 9-dp round per rank,
    so every iteration is bit-identical in any engine.

    Plan shape per iteration: rank ⋈ out-degree (both keyed on the
    vertex — Exchange reuse), one shuffle-hash join onto the edge
    table, one map-side-combined sum per destination. The scalar N
    joins once as a 1-row broadcast. Nothing driver-side, nothing
    O(V) broadcast, iteration count fixed at plan time.
    """
    # r13 (guide §2.4): e and deg are re-joined every iteration; the
    # lazy form re-executed the caller's edge build (e.g. the session-
    # overlap concurrency pairing) 1 + iterations times. Checkpoint
    # once; every iteration reads materialized rows.
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.sum("w").alias("wdeg")).localCheckpoint(
        eager=False
    )
    nodes = deg.select("src")
    n_scalar = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    base = F.lit(1.0 - float(damping)) / F.col("__n")
    r = nodes.crossJoin(F.broadcast(n_scalar)).select(
        "src", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for _ in range(int(iterations)):
        contrib = (
            e.join(r.hint("shuffle_hash"), "src")
            .join(deg.hint("shuffle_hash"), "src")
            .select(
                F.col("dst"),
                rd(F.col("rank") * F.col("w") / F.col("wdeg"), 9)
                .cast("decimal(38,9)")
                .alias("c"),
            )
        )
        summed = contrib.groupBy("dst").agg(
            F.sum("c").cast("double").alias("__s")
        )
        r = (
            nodes.join(
                summed.withColumnRenamed("dst", "src").hint("shuffle_hash"),
                "src",
                "left",
            )
            .crossJoin(F.broadcast(n_scalar))
            .select(
                "src",
                rd(
                    base
                    + F.lit(float(damping)) * F.coalesce(F.col("__s"), F.lit(0.0)),
                    9,
                ).alias("rank"),
            )
        )
    return r.select(F.col("src").alias("node"), F.col("rank").alias("pagerank"))


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle count via degree orientation (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11) — the MapReduce-era trick that is still the
    right Spark plan at 100 TB.

    Naive wedge enumeration fans out quadratically in the max degree:
    one celebrity vertex with 10⁷ followers contributes 10¹⁴ wedges.
    Orienting every edge from the lower-(degree, id) endpoint to the
    higher one caps every vertex's OUT-degree at O(√m) on any graph,
    so the self-join's per-key fan is bounded by the graph's total
    edge count, not its worst hub. Each triangle then has exactly one
    vertex with out-edges to the other two, so it is counted once.

    Plan: distinct-canonicalize (one exchange), degree agg (map-side
    combined), two keyed joins to attach endpoint degrees, a
    shuffle-hash self-join on the wedge apex, and a shuffle-hash
    membership join of closing pairs against the canonical edge set.
    No broadcast that scales with V, no BNLJ, nothing driver-side.

    Returns ONE row: n_vertices, n_edges, max_out_degree (the
    orientation bound — the number to watch at scale), n_wedges
    (candidate volume actually joined), n_triangles.
    """
    # r13 (guide §2.4): canon is consumed by 5 downstream subtrees
    # (degree union ×2, orientation join, closing join, stats) and deg
    # by 2, oriented by 3 — the lineage discipline `local_clustering`
    # already applies (PLANS.md invariant 17). Without it the caller's
    # edge build (capped co-occurrence self-join over events) ran ~5×.
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .unionAll(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    with_deg = canon.join(da.hint("shuffle_hash"), "a").join(
        db.hint("shuffle_hash"), "b"
    )
    # orient from the lower (deg, id) endpoint to the higher one
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    # wedges: per-apex neighbor-list pair explode (`neighbor_pairs`);
    # out-degree is the list size, so max_out_degree reads the same lists
    nb, wedges = neighbor_pairs(oriented, "u", "w")
    # r13: count wedges and closed wedges in ONE pass over the wedge
    # self-join (left membership join + conditional sum) — the lazy
    # form ran the wedge join twice (once for n_wedges, once for
    # n_triangles), and wedge volume is the biggest intermediate here.
    closed_stats = (
        wedges.join(
            canon.withColumn("__hit", F.lit(1)).hint("shuffle_hash"),
            ["a", "b"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_wedges"),
            # coalesce: an empty wedge set must read 0, not NULL (the
            # count(*) form it replaces returned 0)
            F.coalesce(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))), F.lit(0)
            ).cast("long").alias("n_triangles"),
        )
    )
    stats = canon.agg(
        F.count(F.lit(1)).alias("n_edges"),
    )
    return (
        stats.crossJoin(
            F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_vertices")))
        )
        .crossJoin(
            F.broadcast(
                nb.agg(
                    F.max(F.size("__nbrs"))
                    .cast("long")
                    .alias("max_out_degree")
                )
            )
        )
        .crossJoin(F.broadcast(closed_stats))
        .select("n_vertices", "n_edges", "max_out_degree", "n_wedges", "n_triangles")
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Synchronous majority-vote label propagation (Raghavan et al.
    2007, the community-detection / label-denoising workhorse) with
    every nondeterminism pinned: at each of ``iterations`` rounds,
    every node adopts the label held by the MOST neighbors at the
    PREVIOUS round (synchronous update), ties broken by the smallest
    label, isolated nodes keep their label. Fixed iteration count, so
    the whole run is one static DAG any engine can replay.

    Per round: one edge⋈label shuffle-hash join keyed on the vertex,
    one (node, label) count, one keyed max-struct vote — the PageRank
    plan shape with the sum swapped for a mode. Nothing O(V) leaves
    the executors.
    """
    # r13 (guide §2.4): the caller's edge build (often an LSH-blocked
    # exact-cosine pair generation) is referenced once per round — at
    # 2 rounds the lazy form ran it 4× (2 union sides × 2 rounds).
    # Checkpoint the canonical edges once; the per-round joins read
    # materialized longs.
    e0 = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).localCheckpoint(eager=False)
    e = e0.unionAll(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
    cur = seeds.select(
        F.col(id_col).alias("node"), F.col(label_col).alias("lbl")
    )
    for _ in range(int(iterations)):
        votes = (
            e.join(
                cur.withColumnRenamed("node", "s").hint("shuffle_hash"), "s"
            )
            .groupBy(F.col("d").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # majority with smallest-label tie-break: max over (n, -lbl)
        winner = votes.groupBy("node").agg(
            F.max(F.struct(F.col("n"), (-F.col("lbl")).alias("neg"))).alias(
                "__w"
            )
        ).select("node", (-F.col("__w.neg")).alias("new_lbl"))
        cur = (
            cur.join(winner.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl"),
            )
        )
    return cur.select(F.col("node").alias(id_col), F.col("lbl").alias(label_col))


def kcore_bound(
    edges: DataFrame,
    ks: tuple[int, ...] = (2, 3, 4),
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core PEEL: for each ``k``, repeatedly delete
    vertices of degree < k (``rounds`` times) and report the surviving
    subgraph's size — the dense-core audit that separates organic
    engagement from spam/bot rings (a k-core survives only if every
    member keeps k co-occurring peers AFTER the fringe is peeled;
    random fringes cannot fake that).

    A FIXED round count converges FROM ABOVE: the survivor set always
    CONTAINS the true k-core, and each extra round only sheds newly
    exposed fringe (most co-occurrence graphs peel to fixpoint in 2-3
    rounds because peeling only cascades along chains). Fixed rounds
    keep the oracle replayable (unrolled CTEs, the PageRank/CC
    precedent) and the plan bounded: per round, ONE vertex-keyed
    degree aggregation + two semi joins of (a, b) longs — no
    per-vertex iteration state, no driver loop over data.

    Returns one row per k: (k, n_vertices, n_edges) of the surviving
    bound.

    Lineage discipline (the CC precedent, re-learned here the hard
    way): every round references the previous edge set THREE times
    (twice in the degree union, once in the re-filter), so a fully
    lazy unroll grows the plan 3^rounds-fold per k — analysis alone
    took minutes at sf0.001. `localCheckpoint` after the shared canon
    build and after every round keeps the plan one round deep; each
    round's edges materialize once and every consumer reads the
    materialized longs.

    r14 (guide §2.4 iteration discipline): the checkpoints are LAZY —
    the Catalyst plan is truncated to a LogicalRDD either way, but
    eager=True forced one blocking materialization JOB per (k, round)
    cell (9 + canon) where no driver action needs the result; lazy
    rounds materialize inside the output job's stages instead.
    Measured ~neutral at sf0.1 (6.5-6.9 s both forms — per-job
    overhead traded for in-job stages); kept for the scheduling
    round-trips it removes per k at real scale. Unlike `kcore_exact`,
    no per-round count() exists to pay for eagerness."""
    canon = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    out = None
    for k in ks:
        e = canon
        for _ in range(int(rounds)):
            deg = (
                e.select(F.col("a").alias("v"))
                .unionAll(e.select(F.col("b").alias("v")))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("__deg"))
            )
            keep = deg.filter(F.col("__deg") >= int(k)).select("v")
            e = e.join(
                keep.withColumnRenamed("v", "a").hint("shuffle_hash"),
                "a",
                "left_semi",
            ).join(
                keep.withColumnRenamed("v", "b").hint("shuffle_hash"),
                "b",
                "left_semi",
            ).localCheckpoint(eager=False)
        nv = (
            e.select(F.col("a").alias("v"))
            .union(e.select(F.col("b").alias("v")))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_vertices"))
        )
        ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
        row = nv.crossJoin(ne).select(
            F.lit(int(k)).alias("k"),
            F.col("n_vertices").cast("long").alias("n_vertices"),
            F.col("n_edges").cast("long").alias("n_edges"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def kcore_exact(
    edges: DataFrame,
    ks: tuple[int, ...] = (2, 3, 4),
    max_rounds: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """EXACT k-core: loop the peel until FIXED POINT, with the
    connected-components convergence contract (VERDICT r8 #5) —
    `localCheckpoint` per round so the plan stays one round deep, a
    bounded scalar edge-count per round as the convergence probe, and
    a hard ``max_rounds`` cap that RAISES on non-convergence instead
    of silently returning a loose bound. `kcore_bound` (fixed 3
    rounds) stays the cheap screen: its survivor set always CONTAINS
    the true core but provably hasn't converged on deep peel cascades
    (a chain graph sheds only its two endpoints per round); this form
    is the authority when exactness matters.

    Soundness of the probe: a peel round deletes vertices with
    0 < deg < k, and every such deletion removes at least one edge —
    so an UNCHANGED edge count between rounds certifies no vertex is
    below k, i.e. the fixpoint. (Degree-0 vertices never appear in an
    edge table.) Past the fixpoint the peel is the identity, which is
    what lets the DuckDB oracle replay this as a FIXED ``max_rounds``
    unroll: any Spark run that completes (didn't raise) has converged
    within the cap, and extra oracle rounds are no-ops.

    Returns one row per k: (k, n_vertices, n_edges, n_rounds) where
    ``n_rounds`` is the round at which the fixpoint was certified.
    Plan shape per round is `kcore_bound`'s: one vertex-keyed degree
    aggregation + two shuffle-hash semi joins over materialized long
    pairs; the driver holds only one scalar per round.
    """
    canon = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .distinct()
        .localCheckpoint()
    )
    out = None
    for k in ks:
        e = canon
        n_prev = e.count()
        n_rounds = 0
        for r in range(1, int(max_rounds) + 1):
            deg = (
                e.select(F.col("a").alias("v"))
                .unionAll(e.select(F.col("b").alias("v")))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("__deg"))
            )
            keep = deg.filter(F.col("__deg") >= int(k)).select("v")
            e = e.join(
                keep.withColumnRenamed("v", "a").hint("shuffle_hash"),
                "a",
                "left_semi",
            ).join(
                keep.withColumnRenamed("v", "b").hint("shuffle_hash"),
                "b",
                "left_semi",
            ).localCheckpoint()
            n_cur = e.count()
            if n_cur == n_prev or n_cur == 0:
                n_rounds = r
                break
            n_prev = n_cur
        else:
            raise RuntimeError(
                f"kcore_exact(k={k}) did not reach a fixed point within "
                f"max_rounds={max_rounds}; raise the cap (peel depth is "
                f"data-dependent on chain-like fringes)"
            )
        nv = (
            e.select(F.col("a").alias("v"))
            .union(e.select(F.col("b").alias("v")))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_vertices"))
        )
        ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
        row = nv.crossJoin(ne).select(
            F.lit(int(k)).alias("k"),
            F.col("n_vertices").cast("long").alias("n_vertices"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.lit(int(n_rounds)).alias("n_rounds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def local_clustering(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex LOCAL clustering coefficient (Watts & Strogatz 1998):
    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), T(v) = triangles containing
    v, over an undirected edge table. Triangle credit comes from the
    same degree-oriented wedge enumeration as `triangle_count` (wedge
    fan bounded O(√m) per vertex), each closed wedge crediting its
    three corners — a bounded explode of triangle rows, never a
    per-vertex neighborhood materialization. cc is one IEEE division
    of exact integers, 6-dp rounded (engine-portable). Returns
    (v, deg, n_triangles, cc); deg-1 vertices get cc = 0.0.

    The intermediate edge/degree/orientation frames are lazily
    localCheckpoint'd: each is consumed by 2-3 downstream joins, the
    CC-family lineage discipline (PLANS.md invariant 17)."""
    from time_series_data_trimmer_spark.functions.rounding import rd

    canon = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .unionAll(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("__db"))
    lo_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    # wedges: per-apex neighbor-list pair explode (`neighbor_pairs`)
    o = (
        canon.join(da.hint("shuffle_hash"), "a")
        .join(db.hint("shuffle_hash"), "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    _, wedges = neighbor_pairs(o, "u", "w")
    tri = wedges.join(canon.hint("shuffle_hash"), ["a", "b"]).select(
        "u", "a", "b"
    )
    # r14 triangle-credit fusion (guide §2.3/§2.4): the 3-way unionAll
    # of tri projections embedded the WEDGE JOIN subtree three times —
    # AQE exchange reuse deduped the shuffles but each union branch
    # re-ran the join itself (the O(Σ deg_lo²) wedge expansion + the
    # closing probe, the operator's dominant CPU). Exploding the
    # 3-corner array credits all three vertices from ONE tri pass —
    # same multiset of v rows, identical counts.
    tv = (
        tri.select(F.explode(F.array("u", "a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    return deg.join(tv.hint("shuffle_hash"), "v", "left").select(
        "v",
        "deg",
        F.coalesce(F.col("__t"), F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            rd(
                F.lit(2.0) * F.coalesce(F.col("__t"), F.lit(0)).cast("double")
                / (
                    F.col("deg").cast("double")
                    * (F.col("deg").cast("double") - F.lit(1.0))
                ),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("cc"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    seed_col: str = "node",
) -> DataFrame:
    """PERSONALIZED PageRank: identical fixed-iteration decimal-exact
    machinery as `pagerank`, but the teleport mass returns to a SEED
    SET instead of spreading uniformly — r₀ = s and
    r'(v) = (1−d)·s(v) + d·Σ rd(r(u)·w/wdeg(u), 9), where s(v) = 1/|S|
    on seeds and 0 elsewhere. The result ranks the whole graph by
    PROXIMITY TO THE SEEDS, which is the graph-based data-selection
    primitive (expand a trusted/target subset through the similarity
    or co-activity graph — the link-analysis analogue of DSIR's
    importance weights).

    Plan: one extra broadcast-joined seed indicator on the vertex
    list; per iteration the same two vertex-keyed shuffle-hash joins +
    map-side-combined sum as `pagerank`; the |S| scalar is a 1-row
    broadcast. Every rank rounds to the 9-dp grid per step, so the
    full recurrence unrolls bit-for-bit as SQL.

    Vertex set is src ∪ dst (dedup), so dst-only (dangling) nodes are
    ranked too; their outgoing mass is DROPPED (ranks need not sum to
    1 on directed input — same convention the oracle replays). An
    unmatched seed set fails at EXECUTION time via an in-plan
    ``assert_true`` on the 1-row |S| aggregate (the 1/|S| teleport
    would otherwise divide by zero into NULL ranks) — in-plan rather
    than an eager driver collect because the eager form ran the whole
    vertex build twice per call (caught as a 1.4× step on
    `graph_ppr_seed_topk` in the r10 bench).
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    # r13 (guide §2.4): same lineage discipline as `pagerank` — e and
    # deg are re-joined every iteration, so checkpoint them once.
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.sum("w").alias("wdeg")).localCheckpoint(
        eager=False
    )
    nodes = (
        e.select("src").unionAll(e.select(F.col("dst").alias("src"))).distinct()
    )
    sd = seeds.select(F.col(seed_col).alias("src"), F.lit(1).alias("__isseed"))
    marked = nodes.join(F.broadcast(sd), "src", "left").select(
        "src", F.coalesce(F.col("__isseed"), F.lit(0)).alias("__isseed")
    )
    ns = marked.agg(F.sum("__isseed").cast("double").alias("__ns")).select(
        F.when(
            F.assert_true(
                F.col("__ns") > 0,
                F.lit(
                    "personalized_pagerank: no seed matches any graph "
                    "vertex (teleport vector would be empty)"
                ),
            ).isNull(),
            F.col("__ns"),
        ).alias("__ns")
    )
    svec = (
        marked.crossJoin(F.broadcast(ns))
        .select(
            "src",
            F.when(F.col("__isseed") == 1, F.lit(1.0) / F.col("__ns"))
            .otherwise(F.lit(0.0))
            .alias("__s"),
        )
        # |V| rows, re-joined EVERY iteration: checkpoint so the src∪dst
        # distinct over the edge list (r10 dangling-node fix) runs once,
        # not once per iteration (invariant 17 — the CC precedent;
        # caught as a 1.7× step on graph_ppr_seed_topk in the r10 bench)
        .localCheckpoint(eager=False)
    )
    r = svec.select("src", F.col("__s").alias("rank"))
    for _ in range(int(iterations)):
        contrib = (
            e.join(r.hint("shuffle_hash"), "src")
            .join(deg.hint("shuffle_hash"), "src")
            .select(
                F.col("dst"),
                rd(F.col("rank") * F.col("w") / F.col("wdeg"), 9)
                .cast("decimal(38,9)")
                .alias("c"),
            )
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").cast("double").alias("__c"))
        r = (
            svec.join(
                summed.withColumnRenamed("dst", "src").hint("shuffle_hash"),
                "src",
                "left",
            )
            .select(
                "src",
                rd(
                    F.lit(1.0 - float(damping)) * F.col("__s")
                    + F.lit(float(damping)) * F.coalesce(F.col("__c"), F.lit(0.0)),
                    9,
                ).alias("rank"),
            )
        )
    return r.select(F.col("src").alias("node"), F.col("rank").alias("ppr"))
