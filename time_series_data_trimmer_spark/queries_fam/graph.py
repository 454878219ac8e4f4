"""Graph-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "graph_pagerank_user_concurrency",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    ),
    p AS (
      SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS w
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    ),
    edges AS (
      SELECT ua AS src, ub AS dst, CAST(w AS DOUBLE) AS w FROM p
      UNION ALL
      SELECT ub AS src, ua AS dst, CAST(w AS DOUBLE) AS w FROM p
    ),
    deg AS (SELECT src, sum(w) AS wdeg FROM edges GROUP BY src),
    nodes AS (SELECT src FROM deg),
    scalar AS (SELECT CAST(count(*) AS DOUBLE) AS __n FROM nodes),
    r0 AS (
      SELECT src, 1.0 / sc.__n AS rank FROM nodes CROSS JOIN scalar sc
    ),
    c1 AS (
      SELECT e.dst AS src,
             CAST(sum(CAST({R("r.rank * e.w / d.wdeg", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS s
      FROM edges e
      JOIN r0 r ON r.src = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.src,
             {R(f"((0.15000000000000002) / sc.__n) + 0.85 * coalesce(c.s, 0.0)", 9)} AS rank
      FROM nodes n
      LEFT JOIN c1 c ON c.src = n.src
      CROSS JOIN scalar sc
    ),
    c2 AS (
      SELECT e.dst AS src,
             CAST(sum(CAST({R("r.rank * e.w / d.wdeg", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS s
      FROM edges e
      JOIN r1 r ON r.src = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.src,
             {R(f"((0.15000000000000002) / sc.__n) + 0.85 * coalesce(c.s, 0.0)", 9)} AS rank
      FROM nodes n
      LEFT JOIN c2 c ON c.src = n.src
      CROSS JOIN scalar sc
    ),
    c3 AS (
      SELECT e.dst AS src,
             CAST(sum(CAST({R("r.rank * e.w / d.wdeg", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS s
      FROM edges e
      JOIN r2 r ON r.src = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT n.src,
             {R(f"((0.15000000000000002) / sc.__n) + 0.85 * coalesce(c.s, 0.0)", 9)} AS rank
      FROM nodes n
      LEFT JOIN c3 c ON c.src = n.src
      CROSS JOIN scalar sc
    )
    SELECT src AS node, rank AS pagerank FROM r3
    """,
)
def _q_pagerank_user_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (`gr.pagerank`, d=0.85, 3 decimal-exact
    iterations) over the cross-user session-CONCURRENCY graph: edges =
    the `overlap_join_user_sessions` matrix symmetrized, weight = the
    overlapping-session count. The centrality complement of
    `dedup_clusters`'s connected components — who sits at the center
    of the co-activity graph. Each iteration is two shuffle-hash
    vertex-keyed joins + one map-side-combined sum; the recurrence is
    unrolled bit-for-bit in the oracle (same discipline as
    `emb_pca_power_iteration`)."""
    sessd = ag.sessionize_user_events(_table(spark, sf_dir, "events"), gap_minutes=30)
    ivl = sessd.select(
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    # default (1h) bucket, not "auto": the edge build happens once and
    # the iterations dominate, so the auto pass's extra sessionize job
    # costs more than the candidate reduction saves (measured ±1 s
    # both scales, SCALING.md §r7); the first-overlap-bucket guard
    # applies either way
    prs = iv.overlap_join(ivl, ivl).filter(F.col("user_id_a") < F.col("user_id_b"))
    mat = prs.groupBy(
        F.col("user_id_a").alias("ua"), F.col("user_id_b").alias("ub")
    ).agg(F.count(F.lit(1)).alias("w"))
    edges = mat.select(
        F.col("ua").alias("src"), F.col("ub").alias("dst"), F.col("w").alias("weight")
    ).unionByName(
        mat.select(
            F.col("ub").alias("src"), F.col("ua").alias("dst"), F.col("w").alias("weight")
        )
    )
    return gr.pagerank(edges, damping=_PR_D, iterations=3).select(
        F.col("node"), F.col("pagerank")
    )


@register(
    "graph_triangle_count_cooc",
    f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             epoch_us(ts) // {_TRI_BLK_US} AS blk
      FROM events
    ),
    capped AS (
      SELECT user_id, event_type, blk
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY event_type, blk ORDER BY user_id
               ) AS rn
        FROM d
      ) WHERE rn <= {_TRI_CAP}
    ),
    canon AS (
      SELECT DISTINCT x.user_id AS a, y.user_id AS b
      FROM capped x JOIN capped y
        ON x.event_type = y.event_type AND x.blk = y.blk
       AND x.user_id < y.user_id
    ),
    deg AS (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM canon UNION ALL SELECT b AS v FROM canon
      ) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                  THEN c.a ELSE c.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                  THEN c.b ELSE c.a END AS w
      FROM canon c
      JOIN deg da ON da.v = c.a
      JOIN deg db ON db.v = c.b
    ),
    wedges AS (
      SELECT l.w AS a, r.w AS b
      FROM o l JOIN o r ON l.u = r.u AND l.w < r.w
    ),
    closed AS (
      SELECT w.a FROM wedges w JOIN canon c ON c.a = w.a AND c.b = w.b
    )
    SELECT (SELECT count(*) FROM deg) AS n_vertices,
           (SELECT count(*) FROM canon) AS n_edges,
           (SELECT max(n) FROM (SELECT u, count(*) AS n FROM o GROUP BY u)) AS max_out_degree,
           (SELECT count(*) FROM wedges) AS n_wedges,
           (SELECT count(*) FROM closed) AS n_triangles
    """,
)
def _q_triangle_count_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Triangles in the user co-occurrence graph: users are adjacent
    iff they produced the same event_type inside the same 10-minute
    block (distinct-collapsed first, so a chatty user adds no fan),
    with the per-block sorted-neighborhood cap ({_TRI_CAP} lowest
    user_ids) bounding candidate pairs at block² — the same
    bounded-blocks rule every dedup blocker in this repo follows.
    Counting itself is `graph.triangle_count`: degree orientation
    caps the wedge fan at O(sqrt(m)) per vertex, so no celebrity hub
    can recreate the curse of the last reducer at 100 TB."""
    from time_series_data_trimmer_spark.operators import graph as _gr

    ev = _events(spark, sf_dir)
    d = ev.select(
        "user_id",
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_TRI_BLK_US}").alias("blk"),
    ).distinct()
    wcap = Window.partitionBy("event_type", "blk").orderBy("user_id")
    capped = (
        d.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _TRI_CAP)
        .drop("rn")
    )
    rhs = capped.select(
        F.col("user_id").alias("ub"), "event_type", "blk"
    )
    edges = (
        capped.join(rhs.hint("shuffle_hash"), ["event_type", "blk"])
        .filter(F.col("user_id") < F.col("ub"))
        .select(F.col("user_id").alias("src"), F.col("ub").alias("dst"))
    )
    return _gr.triangle_count(edges)


# ---------------------------------------------------------------------------
# Markov transition matrix + staged funnel over the event stream
# ---------------------------------------------------------------------------


@register(
    "markov_event_transitions",
    f"""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ),
    c AS (
      SELECT event_type AS src, nxt AS dst, count(*) AS n
      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT src, sum(n) AS tot FROM c GROUP BY src)
    SELECT c.src, c.dst, c.n,
           {R("CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)", 6)} AS p
    FROM c JOIN t ON t.src = c.src
    """,
)
def _q_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event-type chain
    per user: one keyed window (user, time order) for the successor,
    then a vocabulary-bounded aggregation — the output is |types|²
    rows no matter how many events flow through, so the shuffle after
    the map-side combine is O(types² · partitions), not O(N). The
    row-normalizing total joins back on the |types|-row side. The
    probability is a single IEEE division of two exact counts —
    engine-identical before the 6-dp round."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = o.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("src").agg(F.sum("n").alias("tot"))
    return c.join(t.hint("shuffle_hash"), "src").select(
        "src",
        "dst",
        "n",
        rd(F.col("n").cast("double") / F.col("tot").cast("double"), 6).alias("p"),
    )


@register(
    "graph_label_propagation_emb",
    f"""
    WITH ex AS ({_EX_SQL}),
    bitsv AS (
      SELECT greatest({_EMB_BITS},
                      CAST(ceil(log2(CAST(count(*) AS DOUBLE))) AS INTEGER) - 4)
             AS bits
      FROM embeddings
    ),
    planes AS (
      SELECT t.t, b.b, i.i,
             ('0x' || substr(md5('tsdt|t' || t.t || '|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {_KNN_MAX_BITS - 1}) b(b)
      CROSS JOIN bitsv
      JOIN generate_series(0, {_EMB_TABLES - 1}) t(t) ON TRUE
      JOIN generate_series(0, {_EMB_DIM - 1}) i(i) ON TRUE
      WHERE b.b < bitsv.bits
    ),
    pdots AS (
      SELECT e.vec_id, p.t, p.b,
             CAST(sum(CAST({sql_rd("e.x * p.w", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS d
      FROM ex e JOIN planes p ON p.i = e.i - 1
      GROUP BY e.vec_id, p.t, p.b
    ),
    sigs AS (
      SELECT vec_id, t,
             sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
      FROM pdots GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    pairdots AS (
      SELECT c.id_a, c.id_b,
             sum(CAST({sql_rd("ea.x * eb.x", 9)} AS DECIMAL(38,9))) AS dxy
      FROM cand c
      JOIN ex ea ON ea.vec_id = c.id_a
      JOIN ex eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      GROUP BY c.id_a, c.id_b
    ),
    norms AS (
      SELECT vec_id, sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    edges AS (
      SELECT id_a, id_b FROM pairdots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE CAST(dxy AS DOUBLE) / (na.nrm * nb.nrm) >= {_EMB_CLUSTER_TAU}
    ),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM edges
    ),
    l0 AS (SELECT vec_id AS node, label AS lbl FROM embeddings),
    v1 AS (
      SELECT e.d AS node, l.lbl, count(*) AS n
      FROM sym e JOIN l0 l ON l.node = e.s GROUP BY e.d, l.lbl
    ),
    w1 AS (
      SELECT node, lbl FROM v1
      QUALIFY row_number() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) = 1
    ),
    l1 AS (
      SELECT l0.node, coalesce(w1.lbl, l0.lbl) AS lbl
      FROM l0 LEFT JOIN w1 ON w1.node = l0.node
    ),
    v2 AS (
      SELECT e.d AS node, l.lbl, count(*) AS n
      FROM sym e JOIN l1 l ON l.node = e.s GROUP BY e.d, l.lbl
    ),
    w2 AS (
      SELECT node, lbl FROM v2
      QUALIFY row_number() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) = 1
    ),
    l2 AS (
      SELECT l1.node, coalesce(w2.lbl, l1.lbl) AS lbl
      FROM l1 LEFT JOIN w2 ON w2.node = l1.node
    )
    SELECT node AS vec_id, lbl AS label FROM l2
    """,
)
def _q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Majority-vote label propagation (`graph.label_propagation`,
    Raghavan et al. 2007) over the SAME thresholded semantic-similarity
    graph the embedding-cluster dedup uses (exact cosine >= τ on
    LSH-blocked candidates): {_LP_ITERS} synchronous rounds, smallest-
    label tie-break, isolated nodes keep their seed. The label-denoise
    step after `emb_label_knn_agreement` flags noise: neighbors vote
    the label smooth. Per round it is the PageRank plan with the sum
    swapped for a keyed mode — nothing O(V) leaves the executors."""
    emb = _table(spark, sf_dir, "embeddings")
    pairs = sim.threshold_similar_pairs_blocked(
        emb, tau=_EMB_CLUSTER_TAU, bits=_knn_bits(emb.count()),
        tables=_EMB_TABLES, dim=_EMB_DIM,
    )
    return gr.label_propagation(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        emb.select("vec_id", "label"),
        iterations=_LP_ITERS,
        id_col="vec_id",
        label_col="label",
    )


# ---------------------------------------------------------------------------
# Exact co-engagement matrix between event types
# ---------------------------------------------------------------------------


@register(
    "coengagement_type_pairs",
    f"""
    WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
    c AS (SELECT event_type, count(*) AS n FROM d GROUP BY event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM d a JOIN d b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ca.n AS n_a, cb.n AS n_b,
           {R("CAST(p.n_both AS DOUBLE) / (ca.n + cb.n - p.n_both)", 6)} AS jaccard
    FROM p
    JOIN c ca ON ca.event_type = p.type_a
    JOIN c cb ON cb.event_type = p.type_b
    """,
)
def _q_coengagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience-overlap matrix between event types: distinct
    (user, type) pairs self-joined on the user key — per-user fan is
    |types| (bounded alphabet), so the join is O(N·|types|), never
    user-quadratic — with exact Jaccard from the inclusion-exclusion
    margins. The exact small-domain complement of
    `sketch_kmv_jaccard_sources` (which handles unbounded domains from
    registers alone). Output is |types|² rows."""
    ev = _events(spark, sf_dir)
    d = ev.select("user_id", "event_type").distinct()
    c = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    b = d.select("user_id", F.col("event_type").alias("type_b"))
    p = (
        d.select("user_id", F.col("event_type").alias("type_a"))
        .join(b.hint("shuffle_hash"), "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        p.join(ca.hint("shuffle_hash"), "type_a")
        .join(cb.hint("shuffle_hash"), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            rd(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "graph_degree_stats",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    ),
    p AS (
      SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS w
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    ),
    edges AS (
      SELECT ua AS src, w FROM p UNION ALL SELECT ub AS src, w FROM p
    ),
    deg AS (
      SELECT src, CAST(sum(w) AS BIGINT) AS wdeg, count(*) AS ndeg
      FROM edges GROUP BY src
    ),
    b AS (
      SELECT src, wdeg, ndeg,
             CAST(length(bin(wdeg)) - 1 AS BIGINT) AS bucket
      FROM deg
    ),
    t AS (SELECT count(*) AS n_nodes, sum(wdeg) AS tot_wdeg FROM b)
    SELECT bucket, count(*) AS n_nodes,
           CAST(min(wdeg) AS BIGINT) AS min_wdeg,
           CAST(max(wdeg) AS BIGINT) AS max_wdeg,
           CAST(max(ndeg) AS BIGINT) AS max_ndeg,
           {R("CAST(count(*) AS DOUBLE) / CAST(max(t.n_nodes) AS DOUBLE)", 6)}
             AS node_frac,
           {R("CAST(sum(wdeg) AS DOUBLE) / CAST(max(t.tot_wdeg) AS DOUBLE)", 6)}
             AS weight_frac
    FROM b CROSS JOIN t
    GROUP BY bucket
    """,
)
def _q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the session-concurrency graph in
    exact-integer log2 buckets (bucket = bit_length(wdeg) − 1, via
    length(bin(x)) so there is NO floor(log2) float edge at powers of
    two): per bucket, node count/fraction, weighted-degree range, and
    the bucket's share of total edge weight. This is the HUB-RISK
    audit behind the repo's bounded-block rules — a top bucket owning
    most of the weight is the celebrity-hub regime where unbounded
    neighborhood joins go quadratic (the reason sorted-neighborhood
    caps and degree-oriented triangle counting exist). Same edge
    build as PageRank (bucketed overlap join) — at 100 TB the matrix
    is materialized ONCE and shared with pagerank/triangles; cost
    rides its true pair volume (SCALING.md wave 12). If only degree
    counts were needed, interval-stabbing boundary ranks (N − ends
    before my start − starts after my end) would avoid pair
    enumeration entirely. Then one degree aggregation + a log-bucket
    rollup with the sanctioned 1-row total broadcast."""
    sessd = ag.sessionize_user_events(_table(spark, sf_dir, "events"), gap_minutes=30)
    ivl = sessd.select(
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    prs = iv.overlap_join(ivl, ivl).filter(F.col("user_id_a") < F.col("user_id_b"))
    mat = prs.groupBy(
        F.col("user_id_a").alias("ua"), F.col("user_id_b").alias("ub")
    ).agg(F.count(F.lit(1)).alias("w"))
    edges = mat.select(F.col("ua").alias("src"), "w").unionByName(
        mat.select(F.col("ub").alias("src"), "w")
    )
    deg = edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("wdeg"), F.count(F.lit(1)).alias("ndeg")
    )
    b = deg.select(
        "src",
        "wdeg",
        "ndeg",
        (F.length(F.bin(F.col("wdeg"))) - 1).cast("long").alias("bucket"),
    )
    t = b.agg(
        F.count(F.lit(1)).alias("__n_nodes"), F.sum("wdeg").alias("__tot_wdeg")
    )
    return (
        b.crossJoin(t)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("wdeg").cast("long").alias("min_wdeg"),
            F.max("wdeg").cast("long").alias("max_wdeg"),
            F.max("ndeg").cast("long").alias("max_ndeg"),
            rd(
                F.count(F.lit(1)).cast("double")
                / F.max("__n_nodes").cast("double"),
                6,
            ).alias("node_frac"),
            rd(
                F.sum("wdeg").cast("double") / F.max("__tot_wdeg").cast("double"),
                6,
            ).alias("weight_frac"),
        )
    )


@register(
    "graph_adamic_adar_links",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    ),
    ed AS (
      SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.user_id < b.user_id
    ),
    sym AS (
      SELECT ua AS u, ub AS v FROM ed
      UNION ALL
      SELECT ub AS u, ua AS v FROM ed
    ),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    nbr AS (
      SELECT u, v FROM (
        SELECT u, v,
               row_number() OVER (
                 PARTITION BY u
                 ORDER BY {sp.sql_hash_u32("v", "tsdt|aa")} ASC, v ASC
               ) AS rn
        FROM sym
      ) WHERE rn <= {_AA_CAP}
    ),
    hop2 AS (
      SELECT a.v AS x, b.v AS y, a.u AS via
      FROM nbr a JOIN nbr b ON a.u = b.u AND a.v < b.v
    ),
    sc AS (
      SELECT h.x, h.y,
             CAST(sum(CAST({sql_rd("1.0 / log2(CAST(d.d AS DOUBLE))", 6)}
                  AS DECIMAL(38,6))) AS DOUBLE) AS aa
      FROM hop2 h JOIN deg d ON d.u = h.via
      GROUP BY h.x, h.y
    ),
    new_links AS (
      SELECT sc.x, sc.y, sc.aa
      FROM sc LEFT JOIN ed ON ed.ua = sc.x AND ed.ub = sc.y
      WHERE ed.ua IS NULL
    )
    SELECT x AS user_a, y AS user_b, {R("aa", 6)} AS aa_score
    FROM new_links
    ORDER BY aa DESC, x ASC, y ASC
    LIMIT 20
    """,
)
def _q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR link prediction over the session-concurrency graph:
    for every non-adjacent user pair, Σ 1/log2(deg(b)) across shared
    neighbors b — the classic "who will overlap next" score (rare
    shared contacts count more than hubs), completing the graph family
    (pagerank = importance, triangles = cohesion, label-prop =
    denoise, degree stats = hub risk, AA = prediction). Two-hop
    expansion is the textbook scale hazard (Σ deg² explodes at hubs):
    neighbor lists are CAPPED at {_AA_CAP} per node by the portable
    md5 hash order (the bounded-block rule — deterministic, oracle-
    reproducible, bounds every bucket at C({_AA_CAP},2) pairs), while
    degrees for the weight stay TRUE degrees. Per-term 6-dp rounding +
    decimal sums; anti-join removes already-linked pairs; top-20 with
    full tie-break."""
    ev = _table(spark, sf_dir, "events")
    sess = ag.sessionize_user_events(ev, gap_minutes=30)
    ivl = sess.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    pairs = iv.overlap_join(ivl, ivl, bucket_us="auto").filter(
        F.col("user_id_a") < F.col("user_id_b")
    )
    # r13 (guide §2.4): ed (sessionize → interval self-overlap →
    # distinct) feeds the symmetrization twice plus the final
    # anti-join, and nbr feeds both two-hop sides — the lazy form ran
    # the overlap join ~5×. Checkpoint both bounded frames once.
    ed = pairs.select(
        F.col("user_id_a").alias("ua"), F.col("user_id_b").alias("ub")
    ).distinct().localCheckpoint(eager=False)
    sym = ed.select(F.col("ua").alias("u"), F.col("ub").alias("v")).unionAll(
        ed.select(F.col("ub").alias("u"), F.col("ua").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # two-hop pairs: capped neighbor-list pair explode (`gr.neighbor_pairs`)
    # instead of an nbr⨝nbr self-join; the cap keeps each node's first
    # _AA_CAP neighbors in hash order
    _, hop2 = gr.neighbor_pairs(
        sym, "u", "v", "x", "y", cap=_AA_CAP,
        cap_order=(sp.hash_u32(F.col("v"), "tsdt|aa").asc(), F.col("v").asc()),
    )
    hop2 = hop2.withColumnRenamed("u", "__via")
    term = rd(F.lit(1.0) / F.log2(F.col("d").cast("double")), 6)
    sc = (
        hop2.join(
            deg.select(F.col("u").alias("__via"), "d").hint("shuffle_hash"),
            "__via",
        )
        .groupBy("x", "y")
        .agg(F.sum(term.cast("decimal(38,6)")).cast("double").alias("__aa"))
    )
    new_links = sc.join(
        ed.hint("shuffle_hash"),
        (F.col("x") == F.col("ua")) & (F.col("y") == F.col("ub")),
        "left_anti",
    )
    return (
        new_links.select(
            F.col("x").alias("user_a"),
            F.col("y").alias("user_b"),
            rd(F.col("__aa"), 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), F.col("user_a").asc(), F.col("user_b").asc())
        .limit(20)
    )


@register("graph_kcore_bound", _kcore_oracle_sql())
def _q_graph_kcore_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE survivor bound over the user co-occurrence graph
    (`graph.kcore_bound`, k ∈ {2,3,4}, 3 peel rounds): the dense-core
    audit that separates organic co-engagement from bot rings — a
    vertex survives the k-peel only if k of its peers ALSO keep k
    peers after the fringe is stripped. Same bounded co-occurrence
    edges as `graph_triangle_count_cooc` (distinct-collapsed,
    per-block sorted-neighborhood cap), then per (k, round): one
    vertex-keyed degree agg + two semi joins of long pairs — fixed
    3×3 round grid, oracle unrolled verbatim. Fixed rounds converge
    from above (survivors ⊇ true k-core); the bound tightens one
    fringe layer per round."""
    from time_series_data_trimmer_spark.operators import graph as _gr

    ev = _events(spark, sf_dir)
    d = ev.select(
        "user_id",
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_TRI_BLK_US}").alias(
            "blk"
        ),
    ).distinct()
    wcap = Window.partitionBy("event_type", "blk").orderBy("user_id")
    capped = (
        d.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _TRI_CAP)
        .drop("rn")
    )
    rhs = capped.select(F.col("user_id").alias("ub"), "event_type", "blk")
    edges = (
        capped.join(rhs.hint("shuffle_hash"), ["event_type", "blk"])
        .filter(F.col("user_id") < F.col("ub"))
        .select(F.col("user_id").alias("src"), F.col("ub").alias("dst"))
    )
    return _gr.kcore_bound(edges, ks=_KCORE_KS, rounds=_KCORE_ROUNDS)


@register(
    "graph_degree_assortativity",
    f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             epoch_us(ts) // {_TRI_BLK_US} AS blk
      FROM events
    ),
    capped AS (
      SELECT user_id, event_type, blk
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY event_type, blk ORDER BY user_id
               ) AS rn
        FROM d
      ) WHERE rn <= {_TRI_CAP}
    ),
    canon AS (
      SELECT DISTINCT x.user_id AS a, y.user_id AS b
      FROM capped x JOIN capped y
        ON x.event_type = y.event_type AND x.blk = y.blk
       AND x.user_id < y.user_id
    ),
    deg AS (
      SELECT v, count(*) AS dg FROM (
        SELECT a AS v FROM canon UNION ALL SELECT b AS v FROM canon
      ) GROUP BY v
    ),
    e AS (
      SELECT da.dg AS ja, db.dg AS jb
      FROM canon c
      JOIN deg da ON da.v = c.a
      JOIN deg db ON db.v = c.b
    ),
    s AS (
      SELECT CAST(2 * count(*) AS BIGINT) AS n,
             sum(CAST(ja AS DECIMAL(38,0)) + jb) AS sx,
             sum(CAST(ja AS DECIMAL(38,0)) * ja
                 + CAST(jb AS DECIMAL(38,0)) * jb) AS sxx,
             sum(CAST(2 AS DECIMAL(38,0)) * ja * jb) AS sxy
      FROM e
    )
    SELECT n AS n_directed_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
                THEN {R("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)}
           END AS assortativity
    FROM s
    """,
)
def _q_graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002) of the user co-occurrence
    graph: the Pearson correlation of endpoint degrees over all edges
    — organic social graphs wire assortatively (hubs befriend hubs,
    r > 0); bot rings and scraper farms wire DISassortatively (one
    controller touches many leaves, r < 0), so this single number is a
    corpus-level spam smell next to `graph_kcore_bound`'s WHERE. Each
    undirected edge contributes both orientations, so Σx = Σy and the
    correlation reduces to three integer moment sums (Σ(ja+jb),
    Σ(ja²+jb²), 2Σ(ja·jb)) accumulated in DECIMAL over the same capped
    canon edges as the triangle count; one degree aggregation + two
    vertex-keyed joins + a 1-row combine; the zero-variance
    (degree-regular) graph yields NULL by the same guard in both
    engines."""
    ev = _events(spark, sf_dir)
    d = ev.select(
        "user_id",
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_TRI_BLK_US}").alias(
            "blk"
        ),
    ).distinct()
    wcap = Window.partitionBy("event_type", "blk").orderBy("user_id")
    capped = (
        d.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _TRI_CAP)
        .drop("rn")
    )
    rhs = capped.select(F.col("user_id").alias("ub"), "event_type", "blk")
    canon = (
        capped.join(rhs.hint("shuffle_hash"), ["event_type", "blk"])
        .filter(F.col("user_id") < F.col("ub"))
        .select(F.col("user_id").alias("a"), F.col("ub").alias("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .unionAll(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("__dg"))
    )
    e = canon.join(
        deg.withColumnRenamed("v", "a").withColumnRenamed("__dg", "__ja").hint(
            "shuffle_hash"
        ),
        "a",
    ).join(
        deg.withColumnRenamed("v", "b").withColumnRenamed("__dg", "__jb").hint(
            "shuffle_hash"
        ),
        "b",
    )
    ja = F.col("__ja").cast("decimal(38,0)")
    jb = F.col("__jb").cast("decimal(38,0)")
    s = e.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("n_directed_edges"),
        F.sum(ja + jb).alias("__sx"),
        F.sum(ja * F.col("__ja") + jb * F.col("__jb")).alias("__sxx"),
        F.sum(F.lit(2).cast("decimal(38,0)") * ja * F.col("__jb")).alias(
            "__sxy"
        ),
    )
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    n = F.col("n_directed_edges").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    denom = n * sxx - sx * sx
    return s.crossJoin(F.broadcast(nv)).select(
        "n_directed_edges",
        "n_vertices",
        F.when(denom > 0.0, rd((n * sxy - sx * sx) / denom, 6)).alias(
            "assortativity"
        ),
    )


@register("graph_kcore_exact", _kcore_oracle_sql(_KCORE_EXACT_CAP))
def _q_graph_kcore_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT k-core over the user co-occurrence graph
    (`graph.kcore_exact`, VERDICT r8 #5): the peel LOOPS UNTIL FIXED
    POINT under the connected-components convergence contract —
    localCheckpoint per round, an edge-count probe per round (unchanged
    count certifies no vertex sits below k), and a hard
    ``max_rounds=16`` cap that raises instead of returning a loose
    bound. `graph_kcore_bound` stays the fixed-3-round screen; this is
    the authority (a chain fringe peels one layer per round, so 3
    rounds provably under-peel deep cascades — pytest-demonstrated).
    Oracle: the same unrolled peel at the CAP — past the fixpoint each
    round is the identity, so a fixed 16-round replay equals any Spark
    run that completed without raising. Same bounded canon edges as
    the bound/triangle queries; ``n_rounds`` is intentionally not part
    of the registered output (it is a Python-API observability field;
    the oracle's static unroll cannot name the convergence round)."""
    from time_series_data_trimmer_spark.operators import graph as _gr

    ev = _events(spark, sf_dir)
    d = ev.select(
        "user_id",
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_TRI_BLK_US}").alias(
            "blk"
        ),
    ).distinct()
    wcap = Window.partitionBy("event_type", "blk").orderBy("user_id")
    capped = (
        d.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _TRI_CAP)
        .drop("rn")
    )
    rhs = capped.select(F.col("user_id").alias("ub"), "event_type", "blk")
    edges = (
        capped.join(rhs.hint("shuffle_hash"), ["event_type", "blk"])
        .filter(F.col("user_id") < F.col("ub"))
        .select(F.col("user_id").alias("src"), F.col("ub").alias("dst"))
    )
    return _gr.kcore_exact(
        edges, ks=_KCORE_KS, max_rounds=_KCORE_EXACT_CAP
    ).drop("n_rounds")


# ---------------------------------------------------------------------------
# r9 wave 6: local clustering coefficient, t-closeness, ECE.
# ---------------------------------------------------------------------------


@register(
    "graph_clustering_by_degree",
    f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             epoch_us(ts) // {_TRI_BLK_US} AS blk
      FROM events
    ),
    capped AS (
      SELECT user_id, event_type, blk
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY event_type, blk ORDER BY user_id
               ) AS rn
        FROM d
      ) WHERE rn <= {_TRI_CAP}
    ),
    canon AS MATERIALIZED (
      SELECT DISTINCT x.user_id AS a, y.user_id AS b
      FROM capped x JOIN capped y
        ON x.event_type = y.event_type AND x.blk = y.blk
       AND x.user_id < y.user_id
    ),
    deg AS (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM canon UNION ALL SELECT b AS v FROM canon
      ) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                  THEN c.a ELSE c.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                  THEN c.b ELSE c.a END AS w
      FROM canon c
      JOIN deg da ON da.v = c.a
      JOIN deg db ON db.v = c.b
    ),
    wedges AS (
      SELECT l.u AS u, l.w AS a, r.w AS b
      FROM o l JOIN o r ON l.u = r.u AND l.w < r.w
    ),
    tri AS (
      SELECT w.u, w.a, w.b
      FROM wedges w JOIN canon c ON c.a = w.a AND c.b = w.b
    ),
    tv AS (
      SELECT v, count(*) AS t FROM (
        SELECT u AS v FROM tri
        UNION ALL SELECT a FROM tri
        UNION ALL SELECT b FROM tri
      ) GROUP BY v
    ),
    cc AS (
      SELECT g.v, g.deg, COALESCE(tv.t, 0) AS t,
             CASE WHEN g.deg >= 2 THEN
               {R("2.0 * CAST(COALESCE(tv.t, 0) AS DOUBLE) / (CAST(g.deg AS DOUBLE) * (CAST(g.deg AS DOUBLE) - 1.0))", 6)}
             ELSE 0.0 END AS cc
      FROM deg g LEFT JOIN tv ON tv.v = g.v
    )
    SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS deg_bucket,
           CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(sum(t) AS BIGINT) AS sum_vertex_triangles,
           {R("CAST(sum(CAST(cc AS DECIMAL(38,6))) AS DOUBLE) / count(*)", 6)} AS mean_cc
    FROM cc GROUP BY 1
    """,
)
def _q_graph_clustering_by_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient by degree bucket — the
    Watts-Strogatz per-vertex completion next to the global triangle
    count: cc(v) = 2·T(v)/(deg(v)·(deg(v)−1)) over the same capped
    co-occurrence graph (`graph.local_clustering`), rolled up by exact
    log2-degree bucket (length(bin(d))−1, the graph_degree_stats
    convention). Organic communities keep cc HIGH at moderate degree;
    bot rings and broadcast hubs show high degree with near-zero cc —
    the curve shape is the audit, complementing assortativity's one
    number and the k-core's WHERE. Per-vertex triangle counts come
    from the SAME degree-oriented wedge enumeration as
    `graph_triangle_count_cooc` (each closed wedge credits its three
    corners — a bounded explode of triangle rows, never a per-vertex
    neighborhood materialization); every cc is one IEEE division of
    exact integers, 6-dp rounded, decimal-summed per bucket.
    Reference: Watts & Strogatz 1998; graph-family extension (the
    reference repo has no graph surface)."""
    from time_series_data_trimmer_spark.operators import graph as _gr

    ev = _events(spark, sf_dir)
    d = ev.select(
        "user_id",
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_TRI_BLK_US}").alias(
            "blk"
        ),
    ).distinct()
    wcap = Window.partitionBy("event_type", "blk").orderBy("user_id")
    capped = (
        d.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _TRI_CAP)
        .drop("rn")
    )
    rhs = capped.select(F.col("user_id").alias("ub"), "event_type", "blk")
    edges = (
        capped.join(rhs.hint("shuffle_hash"), ["event_type", "blk"])
        .filter(F.col("user_id") < F.col("ub"))
        .select(F.col("user_id").alias("src"), F.col("ub").alias("dst"))
    )
    cc = _gr.local_clustering(edges)
    return cc.groupBy(
        F.expr("length(bin(deg)) - 1").cast("int").alias("deg_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum("n_triangles").cast("long").alias("sum_vertex_triangles"),
        rd(
            F.sum(F.col("cc").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_cc"),
    )


# ---------------------------------------------------------------------------
# r9 wave 12: Jaccard link prediction + dedup-aware epoch weighting.
# ---------------------------------------------------------------------------


@register(
    "graph_jaccard_links",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    ),
    ed AS (
      SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.user_id < b.user_id
    ),
    sym AS (
      SELECT ua AS u, ub AS v FROM ed
      UNION ALL
      SELECT ub AS u, ua AS v FROM ed
    ),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    nbr AS (
      SELECT u, v FROM (
        SELECT u, v,
               row_number() OVER (
                 PARTITION BY u
                 ORDER BY {sp.sql_hash_u32("v", "tsdt|aa")} ASC, v ASC
               ) AS rn
        FROM sym
      ) WHERE rn <= {_AA_CAP}
    ),
    hop2 AS (
      SELECT a.v AS x, b.v AS y
      FROM nbr a JOIN nbr b ON a.u = b.u AND a.v < b.v
    ),
    com AS (SELECT x, y, count(*) AS c FROM hop2 GROUP BY x, y),
    sc AS (
      SELECT com.x, com.y, com.c,
             dx.d + dy.d - com.c AS uni
      FROM com
      JOIN deg dx ON dx.u = com.x
      JOIN deg dy ON dy.u = com.y
    ),
    new_links AS (
      SELECT sc.x, sc.y, sc.c, sc.uni
      FROM sc LEFT JOIN ed ON ed.ua = sc.x AND ed.ub = sc.y
      WHERE ed.ua IS NULL
    )
    SELECT x AS user_a, y AS user_b,
           CAST(c AS BIGINT) AS n_common,
           {R("CAST(c AS DOUBLE) / uni", 6)} AS jaccard
    FROM new_links
    ORDER BY jaccard DESC, x ASC, y ASC
    LIMIT 20
    """,
)
def _q_graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JACCARD link prediction over the session-concurrency graph —
    Adamic-Adar's size-normalized sibling: |N(x)∩N(y)| / |N(x)∪N(y)|
    for non-adjacent pairs, union from TRUE degrees
    (d(x)+d(y)−common), common neighbors from the SAME capped two-hop
    expansion as `graph_adamic_adar_links` (per-node {_AA_CAP}-cap by
    portable hash order — the bounded-block rule that keeps Σdeg²
    finite at hubs). AA rewards rare shared contacts; Jaccard rewards
    OVERLAP SHARE — a pair with 3 of 4 neighbors shared outranks a
    hub pair with 10 of 500. The two scores together are the link-
    prediction panel. Exact integer count/union ratio, 6-dp round,
    top-20 fully tie-broken."""
    ev = _table(spark, sf_dir, "events")
    sess = ag.sessionize_user_events(ev, gap_minutes=30)
    ivl = sess.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    pairs = iv.overlap_join(ivl, ivl, bucket_us="auto").filter(
        F.col("user_id_a") < F.col("user_id_b")
    )
    # r13 (guide §2.4): same lineage discipline as
    # `graph_adamic_adar_links` — ed feeds 3 subtrees and nbr 2; the
    # lazy form ran the interval overlap join ~5×.
    ed = pairs.select(
        F.col("user_id_a").alias("ua"), F.col("user_id_b").alias("ub")
    ).distinct().localCheckpoint(eager=False)
    sym = ed.select(F.col("ua").alias("u"), F.col("ub").alias("v")).unionAll(
        ed.select(F.col("ub").alias("u"), F.col("ua").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # two-hop pairs: the graph_adamic_adar_links capped pair explode
    _, hop2 = gr.neighbor_pairs(
        sym, "u", "v", "x", "y", cap=_AA_CAP,
        cap_order=(sp.hash_u32(F.col("v"), "tsdt|aa").asc(), F.col("v").asc()),
    )
    com = hop2.groupBy("x", "y").agg(F.count(F.lit(1)).alias("__c"))
    dx = deg.select(F.col("u").alias("x"), F.col("d").alias("__dx"))
    dy = deg.select(F.col("u").alias("y"), F.col("d").alias("__dy"))
    sc = (
        com.join(dx.hint("shuffle_hash"), "x")
        .join(dy.hint("shuffle_hash"), "y")
        .select(
            "x", "y", "__c",
            (F.col("__dx") + F.col("__dy") - F.col("__c")).alias("__uni"),
        )
    )
    new_links = sc.join(
        ed.hint("shuffle_hash"),
        (F.col("x") == F.col("ua")) & (F.col("y") == F.col("ub")),
        "left_anti",
    )
    return (
        new_links.select(
            F.col("x").alias("user_a"),
            F.col("y").alias("user_b"),
            F.col("__c").cast("long").alias("n_common"),
            rd(F.col("__c").cast("double") / F.col("__uni"), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(
            F.col("jaccard").desc(), F.col("user_a").asc(), F.col("user_b").asc()
        )
        .limit(20)
    )


@register(
    "graph_hits_scores",
    f"""
    WITH ed AS (
      SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY user_id, event_type
    ),
    t0 AS (SELECT DISTINCT event_type FROM ed),
    ntc AS (SELECT count(*) AS nt FROM t0),
    a0 AS (SELECT event_type, {R("1.0 / nt", 12)} AS a FROM t0 CROSS JOIN ntc),
    h1r AS (
      SELECT user_id, CAST(sum(CAST({R("c * a", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS h
      FROM ed JOIN a0 USING (event_type) GROUP BY user_id
    ),
    h1s AS (SELECT CAST(sum(CAST({R("h", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS s FROM h1r),
    h1 AS (SELECT user_id, {R("h / s", 12)} AS h FROM h1r CROSS JOIN h1s),
    a1r AS (
      SELECT event_type, CAST(sum(CAST({R("c * h", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS a
      FROM ed JOIN h1 USING (user_id) GROUP BY event_type
    ),
    a1s AS (SELECT CAST(sum(CAST({R("a", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS s FROM a1r),
    a1 AS (SELECT event_type, {R("a / s", 12)} AS a FROM a1r CROSS JOIN a1s),
    h2r AS (
      SELECT user_id, CAST(sum(CAST({R("c * a", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS h
      FROM ed JOIN a1 USING (event_type) GROUP BY user_id
    ),
    h2s AS (SELECT CAST(sum(CAST({R("h", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS s FROM h2r),
    h2 AS (SELECT user_id, {R("h / s", 12)} AS h FROM h2r CROSS JOIN h2s),
    a2r AS (
      SELECT event_type, CAST(sum(CAST({R("c * h", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS a
      FROM ed JOIN h2 USING (user_id) GROUP BY event_type
    ),
    a2s AS (SELECT CAST(sum(CAST({R("a", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS s FROM a2r),
    a2 AS (SELECT event_type, {R("a / s", 12)} AS a FROM a2r CROSS JOIN a2s),
    nu AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ed GROUP BY event_type)
    SELECT a2.event_type, nu.n_users,
           {R("a2.a", 6)} AS authority,
           {R("a2.a - a1.a", 6)} AS delta_last_iter
    FROM a2 JOIN a1 ON a1.event_type = a2.event_type
    JOIN nu ON nu.event_type = a2.event_type
    """,
)
def _q_graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities) on the user ↔ event-type
    bipartite engagement graph — the mutual-reinforcement ranking
    member of the graph family next to `graph_pagerank_user_concurrency`
    (random-walk member): an event type is AUTHORITATIVE when heavy
    multi-type users (hubs) engage with it, a user is a hub when they
    engage with authoritative types — the structure simple count
    ranking misses (a type with many single-type drive-by users
    outranks on counts but not on authority). Two fixed power-iteration
    rounds with L1 normalization after every half-step (fixed-round =
    the `graph_kcore_bound` contract: a deep-cascade-independent,
    plan-depth-bounded screen; `delta_last_iter` reports residual
    movement so the reader sees convergence). Exactness: every Σ c·x
    rounds terms to the 12-dp grid and accumulates in decimal, every
    normalization scalar attaches as a sanctioned 1-row broadcast —
    both engines fold identical doubles at every half-step. Plan: one
    (user,type) edge agg, then per round one broadcast join + type agg
    and one user-keyed shuffle-hash join + user agg — all keyed, no
    iteration-count data dependence."""
    ev = _events(spark, sf_dir)
    # r13 (guide §2.4): ed is re-joined in every half-step of both
    # rounds plus the n_users agg (~5 references, each re-running the
    # events scan+agg in the lazy form) — materialize once.
    ed = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    ).localCheckpoint(eager=False)

    def _ds12(term):
        return F.sum(rd(term, 12).cast("decimal(38,12)")).cast("double")

    t0 = ed.select("event_type").distinct()
    ntc = t0.agg(F.count(F.lit(1)).alias("__nt"))
    a = t0.crossJoin(F.broadcast(ntc)).select(
        "event_type", rd(F.lit(1.0) / F.col("__nt"), 12).alias("__a")
    )
    a_prev = None
    for _ in range(2):
        hr = (
            ed.join(F.broadcast(a), "event_type")
            .groupBy("user_id")
            .agg(_ds12(F.col("__c") * F.col("__a")).alias("__h"))
        )
        hs = hr.agg(_ds12(F.col("__h")).alias("__s"))
        h = hr.crossJoin(F.broadcast(hs)).select(
            "user_id", rd(F.col("__h") / F.col("__s"), 12).alias("__h")
        )
        ar = (
            ed.join(h.hint("shuffle_hash"), "user_id")
            .groupBy("event_type")
            .agg(_ds12(F.col("__c") * F.col("__h")).alias("__ar"))
        )
        asum = ar.agg(_ds12(F.col("__ar")).alias("__s"))
        a_prev = a
        a = ar.crossJoin(F.broadcast(asum)).select(
            "event_type", rd(F.col("__ar") / F.col("__s"), 12).alias("__a")
        )
    nu = ed.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    prev = a_prev.select("event_type", F.col("__a").alias("__ap"))
    return (
        a.join(F.broadcast(prev), "event_type")
        .join(F.broadcast(nu), "event_type")
        .select(
            "event_type",
            "n_users",
            rd(F.col("__a"), 6).alias("authority"),
            rd(F.col("__a") - F.col("__ap"), 6).alias("delta_last_iter"),
        )
    )


@register(
    "graph_ppr_seed_topk",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    ),
    p AS (
      SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS w
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    ),
    edges AS (
      SELECT ua AS src, ub AS dst, CAST(w AS DOUBLE) AS w FROM p
      UNION ALL
      SELECT ub AS src, ua AS dst, CAST(w AS DOUBLE) AS w FROM p
    ),
    deg AS (SELECT src, sum(w) AS wdeg FROM edges GROUP BY src),
    marked AS (
      SELECT src, CASE WHEN src % 20 = 0 THEN 1 ELSE 0 END AS isseed
      FROM deg
    ),
    nsc AS (SELECT CAST(sum(isseed) AS DOUBLE) AS __ns FROM marked),
    svec AS (
      SELECT src,
             CASE WHEN isseed = 1 THEN 1.0 / sc.__ns ELSE 0.0 END AS sv
      FROM marked CROSS JOIN nsc sc
    ),
    r0 AS (SELECT src, sv AS rank FROM svec),
    c1 AS (
      SELECT e.dst AS src,
             CAST(sum(CAST({R("r.rank * e.w / d.wdeg", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS cs
      FROM edges e JOIN r0 r ON r.src = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT v.src, {R("0.15000000000000002 * v.sv + 0.85 * coalesce(c.cs, 0.0)", 9)} AS rank
      FROM svec v LEFT JOIN c1 c ON c.src = v.src
    ),
    c2 AS (
      SELECT e.dst AS src,
             CAST(sum(CAST({R("r.rank * e.w / d.wdeg", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS cs
      FROM edges e JOIN r1 r ON r.src = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT v.src, {R("0.15000000000000002 * v.sv + 0.85 * coalesce(c.cs, 0.0)", 9)} AS rank
      FROM svec v LEFT JOIN c2 c ON c.src = v.src
    ),
    c3 AS (
      SELECT e.dst AS src,
             CAST(sum(CAST({R("r.rank * e.w / d.wdeg", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS cs
      FROM edges e JOIN r2 r ON r.src = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT v.src, {R("0.15000000000000002 * v.sv + 0.85 * coalesce(c.cs, 0.0)", 9)} AS rank
      FROM svec v LEFT JOIN c3 c ON c.src = v.src
    )
    SELECT src AS node,
           CAST(CASE WHEN src % 20 = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_seed,
           rank AS ppr
    FROM r3
    ORDER BY rank DESC, node ASC
    LIMIT 20
    """,
)
def _q_graph_ppr_seed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (`gr.personalized_pagerank`, d=0.85, 3
    decimal-exact rounds) over the same session-concurrency graph as
    `graph_pagerank_user_concurrency`, with teleport mass pinned to a
    deterministic seed cohort (user_id % 20 == 0): the top-20 by
    seed-proximity is the GRAPH-BASED DATA-SELECTION primitive —
    expand a trusted/labeled subset through the co-activity graph to
    find candidates for labeling/inclusion, the link-analysis
    analogue of `mix_dsir_importance`. Global PageRank answers "who
    is central"; PPR answers "who is central RELATIVE TO THESE" —
    seeds rank high by restart mass, their non-seed neighbors by
    received flow (`is_seed` column separates the two readings). Same
    per-iteration plan as the parent (two vertex-keyed shuffle-hash
    joins + one map-side sum), one extra broadcast seed indicator,
    recurrence unrolled bit-for-bit in the oracle."""
    sessd = ag.sessionize_user_events(_table(spark, sf_dir, "events"), gap_minutes=30)
    ivl = sessd.select(
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    prs = iv.overlap_join(ivl, ivl).filter(F.col("user_id_a") < F.col("user_id_b"))
    mat = prs.groupBy(
        F.col("user_id_a").alias("ua"), F.col("user_id_b").alias("ub")
    ).agg(F.count(F.lit(1)).alias("w"))
    edges = mat.select(
        F.col("ua").alias("src"), F.col("ub").alias("dst"), F.col("w").alias("weight")
    ).unionByName(
        mat.select(
            F.col("ub").alias("src"), F.col("ua").alias("dst"), F.col("w").alias("weight")
        )
    )
    seeds = edges.select("src").distinct().filter(F.col("src") % 20 == 0).select(
        F.col("src").alias("node")
    )
    out = gr.personalized_pagerank(edges, seeds, damping=_PR_D, iterations=3)
    return (
        out.select(
            "node",
            F.when(F.col("node") % 20 == 0, 1).otherwise(0).cast("int").alias("is_seed"),
            "ppr",
        )
        .orderBy(F.col("ppr").desc(), F.col("node").asc())
        .limit(20)
    )


@register("markov_stationary_dist", _markov_stat_sql(3))
def _q_markov_stationary_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY distribution of the event-type Markov chain (3
    decimal-exact power rounds of π ← normalize(πP) from uniform,
    the `graph_pagerank` fixed-round contract) set against the
    EMPIRICAL type share — the behavioral-model readout on top of
    `markov_event_transitions` (matrix) and
    `stats_markov_entropy_rate` (predictability): where the chain is
    HEADING vs where the counts ARE; a large delta means the recent
    transition structure is pulling traffic toward a type faster
    than its historical share shows (early drift signal at the
    process level, not the value level). All linear algebra happens
    on |types|-row vectors against the |types|²-row 6-dp matrix —
    broadcast joins, 12-dp-rounded decimal-summed contributions,
    renormalized per round (rounding + dangling-type leakage cannot
    compound). |types|-row output."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("__nxt")
    ).filter(F.col("__nxt").isNotNull())
    c = o.groupBy(
        F.col("event_type").alias("__src"), F.col("__nxt").alias("__dst")
    ).agg(F.count(F.lit(1)).alias("__n"))
    t = c.groupBy("__src").agg(F.sum("__n").alias("__tot"))
    # r13 (guide §2.4): pm (the |types|² matrix, derived from the
    # events scan + lead window) is re-joined every power round, and
    # ty every renormalization — the lazy form re-ran the scan ~4×.
    pm = c.join(t.hint("shuffle_hash"), "__src").select(
        "__src", "__dst",
        rd(F.col("__n").cast("double") / F.col("__tot").cast("double"), 6).alias("__p"),
    ).localCheckpoint(eager=False)
    ty = ev.select(
        F.col("event_type").alias("__et")
    ).distinct().localCheckpoint(eager=False)
    nt = ty.agg(F.count(F.lit(1)).cast("double").alias("__nt"))
    pi = ty.crossJoin(F.broadcast(nt)).select(
        "__et", rd(F.lit(1.0) / F.col("__nt"), 12).alias("__pi")
    )

    def _ds12(term):
        return F.sum(rd(term, 12).cast("decimal(38,12)")).cast("double")

    for _ in range(3):
        raw = (
            pm.join(F.broadcast(pi.withColumnRenamed("__et", "__src")), "__src")
            .groupBy("__dst")
            .agg(_ds12(F.col("__pi") * F.col("__p")).alias("__raw"))
        )
        s = raw.agg(_ds12(F.col("__raw")).alias("__s"))
        pi = (
            ty.join(
                F.broadcast(raw.withColumnRenamed("__dst", "__et")), "__et", "left"
            )
            .crossJoin(F.broadcast(s))
            .select(
                "__et",
                F.coalesce(
                    rd(F.col("__raw") / F.col("__s"), 12), F.lit(0.0)
                ).alias("__pi"),
            )
        )
    emp = ev.groupBy(F.col("event_type").alias("__et")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    tot = emp.agg(F.sum("__n").cast("double").alias("__tn"))
    return (
        pi.join(F.broadcast(emp), "__et")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("__et").alias("event_type"),
            rd(F.col("__pi"), 6).alias("stationary_p"),
            rd(F.col("__n").cast("double") / F.col("__tn"), 6).alias("empirical_p"),
            rd(
                F.col("__pi") - F.col("__n").cast("double") / F.col("__tn"), 6
            ).alias("delta"),
        )
    )


@register(
    "graph_lp_modularity",
    f"""
    WITH e0 AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m0 AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s0 AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m0
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s0 GROUP BY user_id, sess
    ),
    p AS (
      SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.user_id < b.user_id
    ),
    e AS (
      SELECT ua AS s, ub AS d FROM p
      UNION ALL SELECT ub AS s, ua AS d FROM p
    ),
    nodes AS (SELECT DISTINCT s AS node FROM e),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    v1 AS (
      SELECT e.d AS node, l.lbl, count(*) AS n
      FROM e JOIN l0 l ON l.node = e.s GROUP BY e.d, l.lbl
    ),
    w1 AS (
      SELECT node, lbl AS new_lbl FROM v1
      QUALIFY row_number() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) = 1
    ),
    l1 AS (
      SELECT l.node, coalesce(w.new_lbl, l.lbl) AS lbl
      FROM l0 l LEFT JOIN w1 w ON w.node = l.node
    ),
    v2 AS (
      SELECT e.d AS node, l.lbl, count(*) AS n
      FROM e JOIN l1 l ON l.node = e.s GROUP BY e.d, l.lbl
    ),
    w2 AS (
      SELECT node, lbl AS new_lbl FROM v2
      QUALIFY row_number() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) = 1
    ),
    l2 AS (
      SELECT l.node, coalesce(w.new_lbl, l.lbl) AS lbl
      FROM l1 l LEFT JOIN w2 w ON w.node = l.node
    ),
    mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM p),
    dc AS (
      SELECT l.lbl, CAST(count(*) AS DOUBLE) AS d
      FROM e JOIN l2 l ON l.node = e.s GROUP BY l.lbl
    ),
    ec AS (
      SELECT la.lbl, CAST(count(*) AS DOUBLE) AS ein
      FROM p JOIN l2 la ON la.node = p.ua JOIN l2 lb ON lb.node = p.ub
      WHERE la.lbl = lb.lbl GROUP BY la.lbl
    ),
    terms AS (
      SELECT d.lbl,
             CAST({sql_rd("coalesce(e.ein, 0.0) / mm.m - (d.d / (2.0 * mm.m)) * (d.d / (2.0 * mm.m))", 9)} AS DECIMAL(38,9)) AS q,
             coalesce(e.ein, 0.0) AS ein
      FROM dc d LEFT JOIN ec e ON e.lbl = d.lbl CROSS JOIN mm
    ),
    cs AS (SELECT lbl, count(*) AS nn FROM l2 GROUP BY lbl)
    SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT m FROM mm) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM cs) AS BIGINT) AS n_communities,
           CAST((SELECT max(nn) FROM cs) AS BIGINT) AS largest_comm,
           {sql_rd("(SELECT sum(ein) FROM terms) / (SELECT m FROM mm)", 6)} AS intra_edge_frac,
           {sql_rd("CAST((SELECT sum(q) FROM terms) AS DOUBLE)", 6)} AS modularity_q
    """,
)
def _q_graph_lp_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY QUALITY readout: 2-round deterministic label
    propagation (`gr.label_propagation`, min-label tie-break) over the
    session-concurrency graph, scored by Newman MODULARITY Q =
    Σ_c (e_c/m − (d_c/2m)²) plus the intra-edge fraction — the number
    that says whether the co-activity graph HAS community structure
    worth exploiting (Q ≈ 0 → don't bother sharding/sampling by
    community; Q ≫ 0 → community-aware negative sampling and graph
    partitioning pay). Completes the graph family's unsupervised
    side: CC = connectivity, k-core = density, LP+Q = mesoscale.
    Every piece is exact-integer until the final ratios (counts,
    degrees, canonical intra-pair counts); the LP recurrence and the
    Q reduction unroll bit-for-bit in the oracle. Plan: the proven
    bounded session-overlap pair build, then per LP round one
    vertex-keyed join + a keyed majority vote; Q is three
    |labels|-row aggregates. 1-row output."""
    sessd = ag.sessionize_user_events(_table(spark, sf_dir, "events"), gap_minutes=30)
    ivl = sessd.select(
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    prs = iv.overlap_join(ivl, ivl).filter(F.col("user_id_a") < F.col("user_id_b"))
    # r13 (guide §2.4): p (sessionize → interval self-overlap join →
    # distinct) feeds ~8 subtrees here (nodes ×2, the LP rounds, dc,
    # ec, mm) — checkpoint it once; same for the LP labels, read by
    # 4 downstream branches (dc, ec ×2, community sizes).
    p = prs.select(
        F.col("user_id_a").alias("ua"), F.col("user_id_b").alias("ub")
    ).distinct().localCheckpoint(eager=False)
    nodes = (
        p.select(F.col("ua").alias("node"))
        .unionByName(p.select(F.col("ub").alias("node")))
        .distinct()
    )
    seeds = nodes.select("node", F.col("node").alias("label"))
    lab = gr.label_propagation(
        p.select(F.col("ua").alias("src"), F.col("ub").alias("dst")),
        seeds,
        iterations=2,
    ).localCheckpoint(eager=False)
    e = p.select(F.col("ua").alias("s"), F.col("ub").alias("d")).unionByName(
        p.select(F.col("ub").alias("s"), F.col("ua").alias("d"))
    )
    mm = p.agg(F.count(F.lit(1)).cast("double").alias("__m"))
    la = lab.select(F.col("node").alias("s"), F.col("label").alias("__lbl"))
    dc = e.join(la.hint("shuffle_hash"), "s").groupBy("__lbl").agg(
        F.count(F.lit(1)).cast("double").alias("__d")
    )
    lpa = lab.select(F.col("node").alias("ua"), F.col("label").alias("__la"))
    lpb = lab.select(F.col("node").alias("ub"), F.col("label").alias("__lb"))
    ec = (
        p.join(lpa.hint("shuffle_hash"), "ua")
        .join(lpb.hint("shuffle_hash"), "ub")
        .filter(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias("__lbl"))
        .agg(F.count(F.lit(1)).cast("double").alias("__ein"))
    )
    terms = (
        dc.join(ec.hint("shuffle_hash"), "__lbl", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            rd(
                F.coalesce(F.col("__ein"), F.lit(0.0)) / F.col("__m")
                - (F.col("__d") / (F.lit(2.0) * F.col("__m")))
                * (F.col("__d") / (F.lit(2.0) * F.col("__m"))),
                9,
            )
            .cast("decimal(38,9)")
            .alias("__q"),
            F.coalesce(F.col("__ein"), F.lit(0.0)).alias("__einf"),
        )
    )
    cs = lab.groupBy("label").agg(F.count(F.lit(1)).alias("__nn"))
    stats = (
        terms.agg(
            F.sum("__q").cast("double").alias("__qsum"),
            F.sum("__einf").alias("__eins"),
        )
        .crossJoin(F.broadcast(nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))))
        .crossJoin(F.broadcast(mm))
        .crossJoin(
            F.broadcast(
                cs.agg(
                    F.count(F.lit(1)).cast("long").alias("n_communities"),
                    F.max("__nn").cast("long").alias("largest_comm"),
                )
            )
        )
    )
    return stats.select(
        "n_nodes",
        F.col("__m").cast("long").alias("n_edges"),
        "n_communities",
        "largest_comm",
        rd(F.col("__eins") / F.col("__m"), 6).alias("intra_edge_frac"),
        rd(F.col("__qsum"), 6).alias("modularity_q"),
    )


_CC_CAP = 64  # per-bucket interval cap for the capped concurrency build


@register(
    "graph_concurrency_capped_edges",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    ),
    dur AS (
      SELECT end_us - start_us AS d FROM sess
      UNION ALL
      SELECT end_us - start_us AS d FROM sess
    ),
    bk AS (
      SELECT coalesce(
               greatest(1000000,
                        CAST(floor(quantile_cont(d, 0.5)) AS BIGINT)),
               3600000000) AS b
      FROM dur WHERE d > 0
    ),
    fan AS (
      SELECT user_id, sess, start_us, end_us, bk.b AS b,
             unnest(generate_series(
               CAST(floor(CAST(start_us AS DOUBLE) / bk.b) AS BIGINT),
               CAST(floor(CAST(end_us AS DOUBLE) / bk.b) AS BIGINT)
             )) AS bucket
      FROM sess CROSS JOIN bk
    ),
    rk AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY bucket
               ORDER BY start_us ASC, end_us ASC, user_id ASC, sess ASC
             ) AS rn
      FROM fan
    ),
    kept AS (SELECT * FROM rk WHERE rn <= {_CC_CAP}),
    prs AS (
      SELECT a.user_id AS ua, b.user_id AS ub
      FROM kept a JOIN kept b
        ON a.bucket = b.bucket
       AND a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.bucket = CAST(floor(CAST(greatest(a.start_us, b.start_us)
                                      AS DOUBLE) / a.b) AS BIGINT)
       AND a.user_id < b.user_id
    ),
    perb AS (
      SELECT bucket, count(*) AS n_rows,
             least(count(*), {_CC_CAP}) AS n_kept,
             greatest(count(*) - {_CC_CAP}, 0) AS n_forfeited
      FROM fan GROUP BY bucket
    ),
    rep AS (
      SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(n_rows) AS BIGINT) AS n_fan_rows,
             CAST(sum(n_kept) AS BIGINT) AS n_kept_rows,
             CAST(sum(n_forfeited) AS BIGINT) AS n_forfeited_rows,
             CAST(sum(CASE WHEN n_rows > {_CC_CAP} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hot_buckets
      FROM perb
    ),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_capped FROM prs),
    ni AS (SELECT CAST(count(*) AS BIGINT) AS n_intervals FROM sess)
    SELECT bk.b AS bucket_us, ni.n_intervals,
           rep.n_buckets, rep.n_fan_rows, rep.n_kept_rows,
           rep.n_forfeited_rows, rep.n_hot_buckets, np.n_pairs_capped,
           {R("CAST(rep.n_forfeited_rows AS DOUBLE) / rep.n_fan_rows", 6)}
             AS forfeit_share
    FROM rep CROSS JOIN np CROSS JOIN ni CROSS JOIN bk
    """,
)
def _q_graph_concurrency_capped_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-concurrency edge build under a PER-BUCKET INTERVAL
    CAP (VERDICT r9 #6): the bucket-blocked overlap join bounds
    candidates for time-localized sessions, but peak-hour user overlap
    is inherently quadratic in concurrent users — one hot bucket with
    k co-running sessions emits k² candidates at ANY bucket width.
    This query runs the capped generator (`iv.overlap_join` with
    ``per_bucket_cap={_CC_CAP}``: keep the first {_CC_CAP} intervals
    per bucket by the deterministic (start, end, user, session) rank,
    bounding every bucket at C({_CC_CAP},2) pairs) NEXT TO its forfeit
    accounting (`iv.bucket_cap_report`): total fan-out rows, kept,
    forfeited, hot-bucket count, capped pair count, forfeit share —
    the invariant-6 contract that a lossy bound is measured, never
    silent. On uniform sf data the forfeit is ~0 (no bucket exceeds
    {_CC_CAP}); under a hot hour the cap absorbs the quadratic term
    linearly — the skew fixture in tests/test_r10_waves.py pins both
    regimes, and SCALING.md carries the measured hot-hour row.
    One-row output at any scale."""
    ev = _table(spark, sf_dir, "events")
    sess = ag.sessionize_user_events(ev, gap_minutes=30)
    ivl = sess.select(
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    b = iv.auto_bucket_us(ivl, ivl)
    pairs = iv.overlap_join(
        ivl,
        ivl,
        bucket_us=b,
        per_bucket_cap=_CC_CAP,
        cap_order_cols=["user_id", "session_idx"],
    ).filter(F.col("user_id_a") < F.col("user_id_b"))
    rep = iv.bucket_cap_report(ivl, b, _CC_CAP)
    summary = rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n_rows").cast("long").alias("n_fan_rows"),
        F.sum("n_kept").cast("long").alias("n_kept_rows"),
        F.sum("n_forfeited").cast("long").alias("n_forfeited_rows"),
        F.sum((F.col("n_rows") > _CC_CAP).cast("int"))
        .cast("long")
        .alias("n_hot_buckets"),
    )
    np_ = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs_capped"))
    ni = ivl.agg(F.count(F.lit(1)).cast("long").alias("n_intervals"))
    return (
        summary.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(ni))
        .select(
            F.lit(int(b)).cast("long").alias("bucket_us"),
            "n_intervals",
            "n_buckets",
            "n_fan_rows",
            "n_kept_rows",
            "n_forfeited_rows",
            "n_hot_buckets",
            "n_pairs_capped",
            rd(
                F.col("n_forfeited_rows").cast("double") / F.col("n_fan_rows"),
                6,
            ).alias("forfeit_share"),
        )
    )


_ACAP_PCT, _ACAP_FLOOR = 0.99, 16


@register(
    "graph_concurrency_autocap_edges",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    sess AS (
      SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us
      FROM s GROUP BY user_id, sess
    ),
    dur AS (
      SELECT end_us - start_us AS d FROM sess
      UNION ALL
      SELECT end_us - start_us AS d FROM sess
    ),
    bk AS (
      SELECT coalesce(
               greatest(1000000,
                        CAST(floor(quantile_cont(d, 0.5)) AS BIGINT)),
               3600000000) AS b
      FROM dur WHERE d > 0
    ),
    fan AS (
      SELECT user_id, sess, start_us, end_us, bk.b AS b,
             unnest(generate_series(
               CAST(floor(CAST(start_us AS DOUBLE) / bk.b) AS BIGINT),
               CAST(floor(CAST(end_us AS DOUBLE) / bk.b) AS BIGINT)
             )) AS bucket
      FROM sess CROSS JOIN bk
    ),
    perb0 AS (SELECT bucket, count(*) AS n_rows FROM fan GROUP BY bucket),
    capsel AS (
      SELECT greatest({_ACAP_FLOOR}, CAST(max(n_rows) AS BIGINT)) AS cap
      FROM (SELECT n_rows,
                   row_number() OVER (ORDER BY n_rows ASC) AS rn,
                   count(*) OVER () AS n
            FROM perb0)
      WHERE rn <= CAST(ceil({_ACAP_PCT} * n) AS BIGINT)
    ),
    rk AS (
      SELECT f.*, c.cap,
             row_number() OVER (
               PARTITION BY bucket
               ORDER BY start_us ASC, end_us ASC, user_id ASC, sess ASC
             ) AS rn
      FROM fan f CROSS JOIN capsel c
    ),
    kept AS (SELECT * FROM rk WHERE rn <= cap),
    prs AS (
      SELECT a.user_id AS ua, b.user_id AS ub
      FROM kept a JOIN kept b
        ON a.bucket = b.bucket
       AND a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.bucket = CAST(floor(CAST(greatest(a.start_us, b.start_us)
                                      AS DOUBLE) / a.b) AS BIGINT)
       AND a.user_id < b.user_id
    ),
    perb AS (
      SELECT bucket, p.n_rows,
             least(p.n_rows, c.cap) AS n_kept,
             greatest(p.n_rows - c.cap, 0) AS n_forfeited,
             c.cap AS cap
      FROM perb0 p CROSS JOIN capsel c
    ),
    rep AS (
      SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(n_rows) AS BIGINT) AS n_fan_rows,
             CAST(sum(n_forfeited) AS BIGINT) AS n_forfeited_rows,
             CAST(sum(CASE WHEN n_rows > cap THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hot_buckets
      FROM perb
    ),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_capped FROM prs),
    ni AS (SELECT CAST(count(*) AS BIGINT) AS n_intervals FROM sess)
    SELECT bk.b AS bucket_us, CAST(capsel.cap AS BIGINT) AS cap,
           ni.n_intervals, rep.n_buckets, rep.n_fan_rows,
           rep.n_forfeited_rows, rep.n_hot_buckets, np.n_pairs_capped,
           {R("CAST(rep.n_forfeited_rows AS DOUBLE) / rep.n_fan_rows", 6)}
             AS forfeit_share
    FROM rep CROSS JOIN np CROSS JOIN ni CROSS JOIN bk CROSS JOIN capsel
    """,
)
def _q_graph_concurrency_autocap_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The capped concurrency build with a DATA-DERIVED cap (VERDICT
    r10 #6): instead of the fixed {_CC_CAP} constant, the cap is
    `iv.auto_bucket_cap` — the p{int(_ACAP_PCT * 100)} order statistic
    of per-bucket occupancy (exact k-th smallest, never an
    interpolated quantile: invariant 21), floored at {_ACAP_FLOOR}.
    The contract this encodes: only the hottest {{1−pct}} tail of
    buckets forfeits pairs — uniform load is bit-identical to the
    uncapped join, and a flash-crowd hour is bounded by what the
    cold 99% already hold. The chosen cap is a first-class output
    column, and the oracle re-derives the IDENTICAL cap from the same
    per-bucket counts (row_number ≤ ceil(pct·n), then max) before
    replaying the identical keep set. `graph_concurrency_capped_edges`
    keeps the frozen cap={_CC_CAP} contract for cross-round
    comparability; this is the production selector next to it
    (SCALING.md r11 carries the forfeit-vs-cap curve at two skew
    levels that motivated p99)."""
    ev = _table(spark, sf_dir, "events")
    sess = ag.sessionize_user_events(ev, gap_minutes=30)
    ivl = sess.select(
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    b = iv.auto_bucket_us(ivl, ivl)
    cap = iv.auto_bucket_cap(ivl, b, pct=_ACAP_PCT, floor_cap=_ACAP_FLOOR)
    pairs = iv.overlap_join(
        ivl,
        ivl,
        bucket_us=b,
        per_bucket_cap=cap,
        cap_order_cols=["user_id", "session_idx"],
    ).filter(F.col("user_id_a") < F.col("user_id_b"))
    rep = iv.bucket_cap_report(ivl, b, cap)
    summary = rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n_rows").cast("long").alias("n_fan_rows"),
        F.sum("n_forfeited").cast("long").alias("n_forfeited_rows"),
        F.sum((F.col("n_rows") > cap).cast("int"))
        .cast("long")
        .alias("n_hot_buckets"),
    )
    np_ = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs_capped"))
    ni = ivl.agg(F.count(F.lit(1)).cast("long").alias("n_intervals"))
    return (
        summary.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(ni))
        .select(
            F.lit(int(b)).cast("long").alias("bucket_us"),
            F.lit(int(cap)).cast("long").alias("cap"),
            "n_intervals",
            "n_buckets",
            "n_fan_rows",
            "n_forfeited_rows",
            "n_hot_buckets",
            "n_pairs_capped",
            rd(
                F.col("n_forfeited_rows").cast("double") / F.col("n_fan_rows"),
                6,
            ).alias("forfeit_share"),
        )
    )


@register(
    "graph_edge_embeddedness",
    f"""
    WITH d AS (
      SELECT DISTINCT user_id, event_type,
             epoch_us(ts) // {_TRI_BLK_US} AS blk
      FROM events
    ),
    capped AS (
      SELECT user_id, event_type, blk
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY event_type, blk ORDER BY user_id
               ) AS rn
        FROM d
      ) WHERE rn <= {_TRI_CAP}
    ),
    canon AS (
      SELECT DISTINCT x.user_id AS a, y.user_id AS b
      FROM capped x JOIN capped y
        ON x.event_type = y.event_type AND x.blk = y.blk
       AND x.user_id < y.user_id
    ),
    deg AS (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM canon UNION ALL SELECT b AS v FROM canon
      ) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                  THEN c.a ELSE c.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                  THEN c.b ELSE c.a END AS w
      FROM canon c
      JOIN deg da ON da.v = c.a
      JOIN deg db ON db.v = c.b
    ),
    tri AS (
      SELECT l.u AS u, l.w AS a, r.w AS b
      FROM o l JOIN o r ON l.u = r.u AND l.w < r.w
      JOIN canon c ON c.a = l.w AND c.b = r.w
    ),
    tedges AS (
      SELECT least(u, a) AS a, greatest(u, a) AS b FROM tri
      UNION ALL
      SELECT least(u, b) AS a, greatest(u, b) AS b FROM tri
      UNION ALL
      SELECT a, b FROM tri
    ),
    sup AS (
      SELECT a, b, count(*) AS s FROM tedges GROUP BY a, b
    ),
    emb AS (
      SELECT c.a, c.b, coalesce(sup.s, 0) AS s
      FROM canon c LEFT JOIN sup ON sup.a = c.a AND sup.b = c.b
    ),
    tot AS (SELECT count(*) AS n FROM emb)
    SELECT CASE WHEN s = 0 THEN '0_bridge'
                WHEN s = 1 THEN '1'
                WHEN s = 2 THEN '2'
                WHEN s <= 4 THEN '3-4'
                ELSE '5+' END AS embeddedness,
           CAST(count(*) AS BIGINT) AS n_edges,
           {R("CAST(count(*) AS DOUBLE) / max(tot.n)", 6)} AS edge_frac
    FROM emb CROSS JOIN tot
    GROUP BY 1
    """,
)
def _q_graph_edge_embeddedness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EDGE EMBEDDEDNESS distribution of the co-occurrence graph —
    per edge, the number of triangles it participates in (= common
    neighbors of its endpoints). Embeddedness-0 edges are LOCAL
    BRIDGES: ties with zero mutual context, the classic weak-tie /
    anomaly signal (in an engagement graph, a burst of bridge edges
    is bot-ring or crawler behavior; in curation, bridges are the
    links that connect otherwise-disjoint communities and should
    survive pruning). Same capped co-occurrence edges and same
    degree-oriented wedge enumeration as `graph_triangle_count_cooc`
    (O(sqrt(m)) wedge fan per vertex, per-block sorted-neighborhood
    cap), extended from COUNTING triangles to CREDITING them: each
    closed triangle credits its three canonical edges, a left join
    back to the edge set scores the zeros, and the bounded histogram
    is the output. All integer counts; one double ratio."""
    ev = _events(spark, sf_dir)
    d = ev.select(
        "user_id",
        "event_type",
        F.expr(
            f"unix_micros(cast(ts as timestamp)) div {_TRI_BLK_US}"
        ).alias("blk"),
    ).distinct()
    wcap = Window.partitionBy("event_type", "blk").orderBy("user_id")
    capped = (
        d.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _TRI_CAP)
        .drop("rn")
    )
    x = capped.select(
        F.col("event_type"), F.col("blk"), F.col("user_id").alias("__ua")
    )
    y = capped.select(
        F.col("event_type"), F.col("blk"), F.col("user_id").alias("__ub")
    )
    # r13 (guide §2.4): canon feeds 5 subtrees (degree union ×2,
    # orientation, triangle closing, the embeddedness left join), tri
    # feeds the 3-way edge-credit union — the fully lazy form re-ran
    # the capped co-occurrence self-join ~5×. Same lineage discipline
    # as `graph.local_clustering` (PLANS.md invariant 17).
    canon = (
        x.join(y.hint("shuffle_hash"), ["event_type", "blk"])
        .filter(F.col("__ua") < F.col("__ub"))
        .select(F.col("__ua").alias("a"), F.col("__ub").alias("b"))
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
    oriented = (
        canon.join(da.hint("shuffle_hash"), "a")
        .join(db.hint("shuffle_hash"), "b")
        .select(
            F.when(
                (F.col("__da") < F.col("__db"))
                | ((F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(
                (F.col("__da") < F.col("__db"))
                | ((F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))),
                F.col("b"),
            )
            .otherwise(F.col("a"))
            .alias("w"),
        )
    )
    # wedges: per-apex neighbor-list pair explode (`gr.neighbor_pairs`)
    _, wedges = gr.neighbor_pairs(oriented, "u", "w")
    tri = wedges.join(canon.hint("shuffle_hash"), ["a", "b"]).localCheckpoint(
        eager=False
    )
    tedges = (
        tri.select(
            F.least("u", "a").alias("a"), F.greatest("u", "a").alias("b")
        )
        .unionAll(
            tri.select(
                F.least("u", "b").alias("a"),
                F.greatest("u", "b").alias("b"),
            )
        )
        .unionAll(tri.select("a", "b"))
    )
    sup = tedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("__s"))
    emb = canon.join(sup.hint("shuffle_hash"), ["a", "b"], "left").select(
        F.coalesce(F.col("__s"), F.lit(0)).alias("s")
    ).localCheckpoint(eager=False)
    tot = emb.agg(F.count(F.lit(1)).alias("__n"))
    bucket = (
        F.when(F.col("s") == 0, F.lit("0_bridge"))
        .when(F.col("s") == 1, F.lit("1"))
        .when(F.col("s") == 2, F.lit("2"))
        .when(F.col("s") <= 4, F.lit("3-4"))
        .otherwise(F.lit("5+"))
    )
    return (
        emb.crossJoin(F.broadcast(tot))
        .groupBy(bucket.alias("embeddedness"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            rd(
                F.count(F.lit(1)).cast("double") / F.max("__n"), 6
            ).alias("edge_frac"),
        )
    )
