"""Sketches-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "sketch_kmv_incremental_merge",
    sk.sql_kmv_distinct(_KMV_TOKENS_TABLE, "source", "token", k=64),
)
def _q_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The register MERGE lifecycle through the correctness gate (it
    was pytest-only until r7): history (doc_id % 5 < 4) and today's
    batch (doc_id % 5 == 4) are sketched INDEPENDENTLY, their register
    sets merged (`sk.kmv_merge`), and the estimate must equal the
    one-shot sketch of the whole corpus — which is exactly what the
    oracle computes (the same SQL as `sketch_kmv_distinct_tokens`).
    This is the daily-batch path at 100 TB: yesterday's registers are
    ≤ k longs per group on disk; today's scan never revisits history.
    """
    docs = _table(spark, sf_dir, "documents")

    def toks(part):
        return (
            part.filter(F.col("text").isNotNull())
            .select(
                "source",
                F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
            )
            .filter(F.length("token") > 0)
        )

    hist = sk.kmv_registers(toks(docs.filter(F.col("doc_id") % 5 < 4)), "source", "token", k=64)
    batch = sk.kmv_registers(toks(docs.filter(F.col("doc_id") % 5 == 4)), "source", "token", k=64)
    merged = sk.kmv_merge(hist, batch, k=64)
    est = sk.kmv_estimate(merged, k=64, group_col="source")
    exact = (
        toks(docs).select("source", "token").distinct()
        .groupBy("source").agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    return est.join(exact.hint("shuffle_hash"), "source").select(
        "source", "n_kept", "est_distinct", "exact_distinct"
    )


@register(
    "sketch_kmv_distinct_tokens",
    sk.sql_kmv_distinct(_KMV_TOKENS_TABLE, "source", "token", k=64),
)
def _q_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary size via the KMV (bottom-k) distinct
    sketch (`sk.kmv_distinct`, k=64), exact count alongside for audit.
    Unlike approx_count_distinct's engine-private HLL registers, every
    KMV register is the portable md5 hash, so the sketch (and its
    merge) is bit-identical across engines — shuffles <= k longs per
    group instead of every distinct token."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    return sk.kmv_distinct(toks, "source", "token", k=64)


@register(
    "sketch_cm_token_freq_by_source",
    f"""
    WITH toks AS (
      SELECT d.source AS source, t.token AS token
      FROM documents d,
           LATERAL (SELECT unnest(string_split(trim(d.text), ' ')) AS token) t
      WHERE d.text IS NOT NULL AND len(t.token) > 0
    ),
    cells AS (
      SELECT source AS g, r, c, count(*) AS cnt
      FROM ({_CM_CELL_UNION})
      GROUP BY source, r, c
    ),
    coords AS (SELECT * FROM (VALUES {_cm_coord_sql()}) t(item, r, c)),
    est AS (
      SELECT g, item,
             CASE WHEN count(*) >= {_CM_D} THEN min(cnt) ELSE 0 END AS est_count
      FROM cells JOIN coords USING (r, c)
      GROUP BY g, item
    ),
    exact AS (
      SELECT source AS g, token AS item, count(*) AS exact_count
      FROM toks WHERE token IN ({", ".join(f"'{it}'" for it in _CM_ITEMS)})
      GROUP BY source, token
    )
    SELECT e.g AS source, e.item AS token,
           CAST(e.est_count AS BIGINT) AS est_count,
           CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count,
           CAST(e.est_count - coalesce(x.exact_count, 0) AS BIGINT) AS overest
    FROM est e LEFT JOIN exact x ON e.g = x.g AND e.item = x.item
    """,
)
def _q_cm_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-frequency estimates from the mergeable
    Count-Min sketch (`sk.cm_registers` / `_estimate`, d=4, w=256),
    exact counts alongside for audit plus the signed overestimate
    (CM never underestimates — ``overest >= 0`` always, asserted in
    tests/test_sketches_quantile.py and visible in the output).

    Completes the portable sketch family: KMV (distinct), bottom-k
    (quantiles), Count-Min (frequencies). At 100 TB the registers are
    ≤ d·w longs per source — the per-(source, token) exact count
    table they replace IS the vocabulary shuffle. Counters are sums,
    so the state is independent of partition order and merge is
    elementwise addition (merge == one-shot for ANY row split, unlike
    the bottom-k sketches' disjoint-population requirement)."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    regs = sk.cm_registers(toks, "source", "token", d=_CM_D, w=_CM_W, seed=_CM_SEED)
    est = sk.cm_estimate(
        regs, _CM_ITEMS, d=_CM_D, w=_CM_W, seed=_CM_SEED,
        group_col="source", item_col="token",
    )
    exact = (
        toks.filter(F.col("token").isin(_CM_ITEMS))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("__exact"))
    )
    return (
        est.join(exact.hint("shuffle_hash"), ["source", "token"], "left")
        .select(
            "source", "token", "est_count",
            F.coalesce(F.col("__exact"), F.lit(0)).cast("long").alias("exact_count"),
            (F.col("est_count") - F.coalesce(F.col("__exact"), F.lit(0)))
            .cast("long")
            .alias("overest"),
        )
    )


@register(
    "sketch_quantile_value_by_user",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, value FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT user_id AS g, {_QSK_U} AS u, CAST(value AS DOUBLE) AS v FROM ev
    ),
    regs AS (
      SELECT g, u, v FROM h
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY u ASC, v ASC) <= {_QSK_K}
    ),
    ranked AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v ASC, u ASC) AS vr,
             count(*) OVER (PARTITION BY g) AS n_kept
      FROM regs
    ),
    qs AS (
      SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _QSK_QS)}]) AS q
    ),
    est AS (
      SELECT g, q, n_kept, v AS q_est
      FROM ranked CROSS JOIN qs
      WHERE vr = greatest(1, CAST(ceil(q * CAST(n_kept AS DOUBLE)) AS BIGINT))
    ),
    frank AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v ASC, u ASC) AS vr,
             count(*) OVER (PARTITION BY g) AS n
      FROM h
    ),
    exact AS (
      SELECT g, q, v AS q_exact
      FROM frank CROSS JOIN qs
      WHERE vr = greatest(1, CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT))
    )
    SELECT e.g AS user_id, e.q, e.n_kept, e.q_est, x.q_exact,
           {sql_rd("abs(e.q_est - x.q_exact)", 6)} AS abs_err
    FROM est e JOIN exact x ON e.g = x.g AND e.q = x.q
    """,
)
def _q_sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trial quantile estimates from the mergeable bottom-k-by-md5
    quantile sketch (`sk.quantile_sketch_registers` / `_estimate`,
    k=32), exact nearest-rank quantiles alongside for audit.

    This is the 100 TB answer to the exact windowed percentiles that
    `ts_gap_report` / `ts_mad_outliers` / `histogram_equidepth_value`
    (and the reference's median sample-rate inference,
    data_model.py:116-126) rely on: fine per-trial, impossible
    corpus-wide. The sketch shuffles ≤ k (hash, value) registers per
    group, merges across corpus snapshots without rescanning
    (merge == one-shot proven register-for-register in
    tests/test_sketches_quantile.py), and every register and estimate
    is the portable md5 coin — bit-identical in Spark, DuckDB, Python.
    The oracle replays registers, ranks, and both estimators exactly.
    """
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    regs = sk.quantile_sketch_registers(
        ev, "user_id", "value", "event_id", k=_QSK_K, seed=_QSK_SEED
    )
    est = sk.quantile_sketch_estimate(regs, _QSK_QS, group_col="g")
    # exact audit branch: same rank rule over the FULL per-trial data
    hashed = ev.select(
        F.col("user_id").alias("g"),
        sp.hash_u32(F.col("event_id"), _QSK_SEED).alias("u"),
        F.col("value").cast("double").alias("v"),
    )
    w_rank = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("u").asc())
    wp = Window.partitionBy("g")
    frank = hashed.select(
        "g", "v",
        F.row_number().over(w_rank).alias("__vr"),
        F.count(F.lit(1)).over(wp).alias("__n"),
    )
    q = F.explode(F.array(*[F.lit(float(x)) for x in _QSK_QS])).alias("q")
    tgt = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.col("q") * F.col("__n").cast("double"))
    )
    exact = (
        frank.select("g", "v", "__vr", "__n", q)
        .filter(F.col("__vr") == tgt)
        .select("g", "q", F.col("v").alias("q_exact"))
    )
    return (
        est.join(exact.hint("shuffle_hash"), ["g", "q"])
        .select(
            F.col("g").alias("user_id"), "q", "n_kept", "q_est", "q_exact",
            rd(F.abs(F.col("q_est") - F.col("q_exact")), 6).alias("abs_err"),
        )
    )


@register(
    "histogram_equidepth_value",
    f"""
    WITH v AS (
      SELECT event_type, {R("CAST(value AS DOUBLE)", 6)} AS v FROM events
    ),
    b AS (
      SELECT event_type, v,
             least(9, CAST(floor(
               percent_rank() OVER (PARTITION BY event_type ORDER BY v ASC) * 10.0
             ) AS BIGINT)) AS bucket
      FROM v
    )
    SELECT event_type, bucket, count(*) AS n, min(v) AS lo, max(v) AS hi
    FROM b GROUP BY event_type, bucket
    """,
)
def _q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type equi-depth value histogram
    (`ag.equidepth_histogram`, 10 buckets): the optimizer-statistics /
    data-quality object, deterministic via percent_rank over the
    rounded value (value-ties share a bucket in every engine). One
    keyed window + one aggregation on the same Exchange."""
    return ag.equidepth_histogram(_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r6 fifth wave: corpus-scale sketch comparison, vocabulary growth, CCNet
# ---------------------------------------------------------------------------


@register(
    "sketch_kmv_jaccard_sources",
    f"""
    WITH hashed AS (
      SELECT DISTINCT source AS g, {sp.sql_hash_u32('token', 'tsdt|kmv')} AS u
      FROM {_KMV_TOKENS_TABLE}
    ),
    regs AS (
      SELECT g, u FROM (
        SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rn
        FROM hashed
      ) WHERE rn <= 64
    ),
    srcs AS (SELECT DISTINCT g FROM regs),
    pairs AS (SELECT a.g AS src_a, b.g AS src_b FROM srcs a JOIN srcs b ON a.g < b.g),
    pr AS (
      SELECT p.src_a, p.src_b, r.u, r.g
      FROM pairs p JOIN regs r ON r.g = p.src_a OR r.g = p.src_b
    ),
    per_u AS (
      SELECT src_a, src_b, u, count(*) AS n_sides
      FROM pr GROUP BY src_a, src_b, u
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY u ASC) AS rn
        FROM per_u
      ) WHERE rn <= 64
    )
    SELECT src_a, src_b, count(*) AS n_union_kept,
           CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           {R("CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS DOUBLE)"
              " / CAST(count(*) AS DOUBLE)", 6)} AS jaccard_est
    FROM kept GROUP BY src_a, src_b
    """,
)
def _q_kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cross-source vocabulary Jaccard from KMV registers
    alone (`sk.kmv_pairwise_jaccard`, Beyer et al. SIGMOD 2007): the
    domain-overlap audit behind mixing decisions, computed WITHOUT ever
    intersecting raw token sets — every pair costs <= 2k register longs
    (the bottom-k of a union is a function of the two bottom-k sets).
    The group list is a bounded collect (domains are O(10^2) at any
    corpus scale); pair expansion is a scan-side literal-array explode,
    so the plan has no inequality join anywhere."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    regs = sk.kmv_registers(toks, "source", "token", k=64)
    return sk.kmv_pairwise_jaccard(regs, k=64)


@register(
    "sketch_selfjoin_size_by_type",
    f"""
    WITH cells AS ({_cmjs_cells_sql("events", "event_type")}),
    prod AS (
      SELECT a.g, a.r, sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS s
      FROM cells a JOIN cells b ON a.g = b.g AND a.r = b.r AND a.c = b.c
      GROUP BY a.g, a.r
    ),
    est AS (
      SELECT g,
             CASE WHEN count(*) >= {_CMJS_D} THEN min(s) ELSE 0 END AS est_f2
      FROM prod GROUP BY g
    ),
    exact AS (
      SELECT g, sum(CAST(cnt AS HUGEINT) * cnt) AS exact_f2
      FROM (SELECT event_type AS g, user_id, count(*) AS cnt
            FROM events GROUP BY 1, 2)
      GROUP BY g
    )
    SELECT e.g AS event_type,
           CAST(e.est_f2 AS BIGINT) AS est_f2,
           CAST(x.exact_f2 AS BIGINT) AS exact_f2,
           CAST(e.est_f2 - x.exact_f2 AS BIGINT) AS overest
    FROM est e JOIN exact x ON e.g = x.g
    """,
)
def _q_selfjoin_size_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size (second frequency moment F2 = Σ_u f_u²) per
    event_type on the user_id key, estimated from Count-Min registers
    via the AMS/CM inner product (`sk.cm_inner_product`), exact value
    alongside for audit plus the signed overestimate (provably ≥ 0 —
    collisions only add; asserted in tests).

    This is the cardinality-planning primitive: self-join size IS the
    skew diagnostic (F2 ≫ N²/NDV means a hot key) and the inner
    product of two different sketches is the join-output-size
    forecast — both read ≤ d·w registers per group instead of
    shuffling the fact table on the join key. At 100 TB the registers
    come from per-day merges (counters are sums) and the planner never
    rescans the corpus to cost a join."""
    ev = _table(spark, sf_dir, "events")
    regs = sk.cm_registers(
        ev, "event_type", "user_id", d=_CMJS_D, w=_CMJS_W, seed=_CMJS_SEED
    )
    est = sk.cm_inner_product(regs, regs, d=_CMJS_D, out_col="__est")
    counts = ev.groupBy(F.col("event_type").alias("g"), "user_id").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    exact = counts.groupBy("g").agg(
        F.sum(
            F.col("__cnt").cast("decimal(19,0)") * F.col("__cnt").cast("decimal(19,0)")
        ).alias("__exact")
    )
    return est.join(exact.hint("shuffle_hash"), "g").select(
        F.col("g").alias("event_type"),
        F.col("__est").cast("long").alias("est_f2"),
        F.col("__exact").cast("long").alias("exact_f2"),
        (F.col("__est") - F.col("__exact")).cast("long").alias("overest"),
    )


@register(
    "sketch_join_size_clicks_purchases",
    f"""
    WITH clicks AS (SELECT user_id FROM events WHERE event_type = 'click'),
    purchases AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    ca AS ({_cmjs_cells_sql("clicks", "'all'")}),
    cb AS ({_cmjs_cells_sql("purchases", "'all'")}),
    prod AS (
      SELECT a.r, sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS s
      FROM ca a JOIN cb b ON a.g = b.g AND a.r = b.r AND a.c = b.c
      GROUP BY a.r
    ),
    est AS (
      SELECT CASE WHEN count(*) >= {_CMJS_D} THEN min(s) ELSE 0 END AS est_rows
      FROM prod
    ),
    exact AS (
      SELECT coalesce(sum(CAST(a.cnt AS HUGEINT) * b.cnt), 0) AS exact_rows
      FROM (SELECT user_id, count(*) AS cnt FROM clicks GROUP BY 1) a
      JOIN (SELECT user_id, count(*) AS cnt FROM purchases GROUP BY 1) b
        ON a.user_id = b.user_id
    )
    SELECT CAST(e.est_rows AS BIGINT) AS est_rows,
           CAST(x.exact_rows AS BIGINT) AS exact_rows,
           CAST(e.est_rows - x.exact_rows AS BIGINT) AS overest
    FROM est e CROSS JOIN exact x
    """,
)
def _q_join_size_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast |clicks ⋈ purchases ON user_id| from two Count-Min
    register sets (one per stream) via the CM inner product — the
    join never runs on the sketch path; only ≤ d·w counters per side
    meet. The exact audit side computes Σ_u f_click(u)·f_purchase(u)
    from the two per-user count frames (already reduced — the
    user-keyed shuffle carries NDV rows, not occurrences).

    The 1-row register-vs-register meeting is a (g,r,c)-keyed join of
    two ≤ d·w-row frames — KB-scale regardless of stream volume."""
    ev = _table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").withColumn("__g", F.lit("all"))
    b = ev.filter(F.col("event_type") == "purchase").withColumn("__g", F.lit("all"))
    ra = sk.cm_registers(a, "__g", "user_id", d=_CMJS_D, w=_CMJS_W, seed=_CMJS_SEED)
    rb = sk.cm_registers(b, "__g", "user_id", d=_CMJS_D, w=_CMJS_W, seed=_CMJS_SEED)
    est = sk.cm_inner_product(ra, rb, d=_CMJS_D, out_col="__est")
    fa = a.groupBy("user_id").agg(F.count(F.lit(1)).alias("__fa"))
    fb = b.groupBy("user_id").agg(F.count(F.lit(1)).alias("__fb"))
    exact = (
        fa.join(fb.hint("shuffle_hash"), "user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__fa").cast("decimal(19,0)")
                    * F.col("__fb").cast("decimal(19,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__exact")
        )
        .withColumn("g", F.lit("all"))
    )
    return est.join(F.broadcast(exact), "g").select(
        F.col("__est").cast("long").alias("est_rows"),
        F.col("__exact").cast("long").alias("exact_rows"),
        (F.col("__est") - F.col("__exact")).cast("long").alias("overest"),
    )


@register(
    "sketch_kmv_sliding_distinct_users",
    f"""
    WITH hashed AS (
      SELECT DISTINCT event_type AS g,
             epoch_us(ts) // 3600000000 AS b,
             {sp.sql_hash_u32("user_id", "tsdt|kmv")} AS u
      FROM events
    ),
    regs AS (
      SELECT g, b, u FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY g, b ORDER BY u ASC
               ) AS rn
        FROM hashed
      ) WHERE rn <= {_SLIDE_K}
    ),
    spread AS (
      SELECT DISTINCT g, u, b + o.o AS window_end
      FROM regs CROSS JOIN generate_series(0, {_SLIDE_W - 1}) o(o)
    ),
    win AS (
      SELECT g, window_end, u FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY g, window_end ORDER BY u ASC
               ) AS rn
        FROM spread
      ) WHERE rn <= {_SLIDE_K}
    ),
    kept AS (
      SELECT g, window_end, count(*) AS n_kept, max(u) AS kth
      FROM win GROUP BY g, window_end
    )
    SELECT g AS event_type, window_end, CAST(n_kept AS BIGINT) AS n_kept,
           {sql_rd(
               f"CASE WHEN n_kept < {_SLIDE_K} THEN CAST(n_kept AS DOUBLE)"
               f" ELSE {float(_SLIDE_K - 1)} * 4294967296.0 / CAST(kth AS DOUBLE) END",
               6,
           )} AS est_distinct
    FROM kept
    """,
)
def _q_kmv_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Distinct users per event type over a SLIDING {_SLIDE_W}-hour
    window, from KMV registers alone (`sketches.kmv_sliding_registers`)
    — exact sliding distinct rescans W hours of raw rows per window
    (O(W·N) total work); the register path reads each raw row ONCE and
    every window is a bottom-k merge of ≤ {_SLIDE_K} longs per bucket,
    bit-equal to sketching the window's raw rows directly (closure
    under union). The hourly-register explode is {_SLIDE_W} small longs
    per register row, scan-side. This is the capacity-planning curve
    ("active users, trailing day") a 100 TB event store can't afford
    exactly."""
    from time_series_data_trimmer_spark.operators import sketches as sk

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("b"),
        "user_id",
    )
    regs = sk.kmv_sliding_registers(
        ev, "event_type", "b", "user_id", window_buckets=_SLIDE_W, k=_SLIDE_K
    )
    kept = regs.groupBy("g", "window_end").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("u").alias("kth")
    )
    est = F.when(
        F.col("n_kept") < _SLIDE_K, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(_SLIDE_K - 1))
        * F.lit(4294967296.0)
        / F.col("kth").cast("double")
    )
    return kept.select(
        F.col("g").alias("event_type"),
        "window_end",
        F.col("n_kept").cast("long").alias("n_kept"),
        rd(est, 6).alias("est_distinct"),
    )


@register(
    "sketch_kmv_intersection_sources",
    f"""
    WITH hashed AS (
      SELECT DISTINCT source AS g, {sp.sql_hash_u32('token', 'tsdt|kmv')} AS u
      FROM {_KMV_TOKENS_TABLE}
    ),
    regs AS (
      SELECT g, u FROM (
        SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rn
        FROM hashed
      ) WHERE rn <= 64
    ),
    sides AS (
      SELECT g, count(*) AS n_kept, max(u) AS kth FROM regs GROUP BY g
    ),
    sest AS (
      SELECT g,
             CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                  ELSE 63.0 * 4294967296.0 / CAST(kth AS DOUBLE) END AS est
      FROM sides
    ),
    srcs AS (SELECT DISTINCT g FROM regs),
    pairs AS (SELECT a.g AS src_a, b.g AS src_b FROM srcs a JOIN srcs b ON a.g < b.g),
    pr AS (
      SELECT p.src_a, p.src_b, r.u, r.g
      FROM pairs p JOIN regs r ON r.g = p.src_a OR r.g = p.src_b
    ),
    per_u AS (
      SELECT src_a, src_b, u, count(*) AS n_sides
      FROM pr GROUP BY src_a, src_b, u
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY u ASC) AS rn
        FROM per_u
      ) WHERE rn <= 64
    ),
    agg AS (
      SELECT src_a, src_b, count(*) AS n_union_kept, max(u) AS kth,
             sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS n_common
      FROM kept GROUP BY src_a, src_b
    )
    SELECT agg.src_a, agg.src_b,
           {R("ea.est", 6)} AS est_a,
           {R("eb.est", 6)} AS est_b,
           {R("CASE WHEN agg.n_union_kept < 64 THEN CAST(agg.n_union_kept AS DOUBLE)"
              " ELSE 63.0 * 4294967296.0 / CAST(agg.kth AS DOUBLE) END", 6)} AS est_union,
           {R("CAST(agg.n_common AS DOUBLE) / CAST(agg.n_union_kept AS DOUBLE)", 6)}
             AS jaccard_est,
           {R("(CAST(agg.n_common AS DOUBLE) / CAST(agg.n_union_kept AS DOUBLE))"
              " * (CASE WHEN agg.n_union_kept < 64 THEN CAST(agg.n_union_kept AS DOUBLE)"
              " ELSE 63.0 * 4294967296.0 / CAST(agg.kth AS DOUBLE) END)", 6)}
             AS est_intersection
    FROM agg
    JOIN sest ea ON ea.g = agg.src_a
    JOIN sest eb ON eb.g = agg.src_b
    """,
)
def _q_kmv_intersection_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cross-source JOIN-CARDINALITY card from KMV registers
    alone (`sk.kmv_pairwise_intersection`): |Â|, |B̂|, |Â∪B|, Ĵ and the
    standard KMV intersection estimator |Â∩B| = Ĵ·|Â∪B| (Beyer et al.
    SIGMOD 2007) — the "how big is this overlap before I run the join"
    planning primitive. Never rescans the corpus: every pair costs
    ≤ 2k register longs, the per-side size estimates join back over
    the G²-bounded pair table."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    regs = sk.kmv_registers(toks, "source", "token", k=64)
    return sk.kmv_pairwise_intersection(regs, k=64)


@register(
    "sketch_quantile_value_global",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, value FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT {_QSK_U} AS u, CAST(value AS DOUBLE) AS v FROM ev
    ),
    regs AS (
      SELECT '_all_' AS g, u, v FROM h
      QUALIFY row_number() OVER (ORDER BY u ASC, v ASC) <= {_QSK_K}
    ),
    ranked AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v ASC, u ASC) AS vr,
             count(*) OVER (PARTITION BY g) AS n_kept
      FROM regs
    ),
    qs AS (
      SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _QSK_QS)}]) AS q
    )
    SELECT g, q, CAST(n_kept AS BIGINT) AS n_kept, v AS q_est
    FROM ranked CROSS JOIN qs
    WHERE vr = greatest(1, CAST(ceil(q * CAST(n_kept AS DOUBLE)) AS BIGINT))
    """,
)
def _q_sketch_quantile_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE quantiles from the per-group quantile registers
    alone (`sk.quantile_sketch_global` over
    `sk.quantile_sketch_registers`): per-trial sketches are computed
    once in parallel (the only pass over raw data), then the global
    bottom-k re-rank runs on ≤ k·G bounded register rows — the global
    percentile WITHOUT the global sort that is impossible at 100 TB.

    Correctness hinge (pytest-proven register-for-register in
    tests/test_sketches_quantile.py): every member of the global
    bottom-k by the shared md5 row hash also survives its own group's
    bottom-k, so rolling up per-group registers EQUALS sketching all
    raw rows directly — which is exactly what the oracle does (one
    global QUALIFY over the raw table). Window-free after the
    per-group stage: rollup and estimate are bounded
    collect_list → array_sort aggregations (`quantile_estimate_agg`),
    since a constant group key would fold to the banned keyless
    Window."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    regs = sk.quantile_sketch_registers(
        ev, "user_id", "value", "event_id", k=_QSK_K, seed=_QSK_SEED
    )
    glob = sk.quantile_sketch_global(regs, k=_QSK_K)
    return sk.quantile_estimate_agg(glob, _QSK_QS, group_col="g").select(
        "g", "q", F.col("n_kept").cast("long").alias("n_kept"), "q_est"
    )


@register(
    "sketch_kmv_rollup_day",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type AS g,
             epoch_us(ts) - (epoch_us(ts) % {_KMV_HOUR_US}) AS hb,
             {sp.sql_hash_u32("user_id", "tsdt|kmv")} AS u
      FROM events
    ),
    regs_h AS (
      SELECT g, hb, u FROM h
      QUALIFY row_number() OVER (PARTITION BY g, hb ORDER BY u ASC) <= 64
    ),
    d AS (
      SELECT DISTINCT g, hb - (hb % {_KMV_DAY_US}) AS day_us, u FROM regs_h
    ),
    regs_d AS (
      SELECT g, day_us, u FROM d
      QUALIFY row_number() OVER (PARTITION BY g, day_us ORDER BY u ASC) <= 64
    ),
    kept AS (
      SELECT g, day_us, count(*) AS n_kept, max(u) AS kth
      FROM regs_d GROUP BY g, day_us
    ),
    exact AS (
      SELECT event_type AS g,
             epoch_us(ts) - (epoch_us(ts) % {_KMV_DAY_US}) AS day_us,
             count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1, 2
    )
    SELECT kept.g AS event_type, kept.day_us, kept.n_kept,
           {R("CASE WHEN kept.n_kept < 64 THEN CAST(kept.n_kept AS DOUBLE)"
              " ELSE 63.0 * 4294967296.0 / CAST(kept.kth AS DOUBLE) END", 6)}
             AS est_distinct,
           CAST(exact.exact_distinct AS BIGINT) AS exact_distinct
    FROM kept JOIN exact ON exact.g = kept.g AND exact.day_us = kept.day_us
    """,
)
def _q_kmv_rollup_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ROLLUP across time granularities — the OLAP-cube story
    for sketches: per-(type, hour) KMV registers (the thing you
    materialize once as data lands) re-ranked per (type, day) answer
    the daily distinct-users question WITHOUT rescanning raw rows,
    because any hash in the day's true bottom-k also survives its
    hour's bottom-k (closure under union, per-granularity). The same
    registers roll to weeks/months; raw data is touched once at the
    finest grain. Exact per-day distinct joins alongside as the audit
    (the estimator is exact below k=64 anyway). All windows on real
    composite keys; one narrow audit join."""
    ev = _events_us(spark, sf_dir)
    hashed = (
        ev.select(
            F.col("event_type").alias("g"),
            (
                F.col("t_us") - F.col("t_us") % F.lit(_KMV_HOUR_US)
            ).alias("hb"),
            sp.hash_u32(F.col("user_id"), "tsdt|kmv").alias("u"),
        )
        .distinct()
    )
    w_h = Window.partitionBy("g", "hb").orderBy(F.col("u").asc())
    regs_h = (
        hashed.withColumn("__rn", F.row_number().over(w_h))
        .filter(F.col("__rn") <= 64)
        .select("g", "hb", "u")
    )
    d = regs_h.select(
        "g",
        (F.col("hb") - F.col("hb") % F.lit(_KMV_DAY_US)).alias("day_us"),
        "u",
    ).distinct()
    w_d = Window.partitionBy("g", "day_us").orderBy(F.col("u").asc())
    kept = (
        d.withColumn("__rn", F.row_number().over(w_d))
        .filter(F.col("__rn") <= 64)
        .groupBy("g", "day_us")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("u").alias("kth"))
    )
    est = F.when(
        F.col("n_kept") < 64, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(63.0) * F.lit(4294967296.0) / F.col("kth").cast("double")
    )
    exact = ev.groupBy(
        F.col("event_type").alias("g"),
        (F.col("t_us") - F.col("t_us") % F.lit(_KMV_DAY_US)).alias("day_us"),
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    return (
        kept.join(exact.hint("shuffle_hash"), ["g", "day_us"])
        .select(
            F.col("g").alias("event_type"),
            "day_us",
            "n_kept",
            rd(est, 6).alias("est_distinct"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
        )
    )


@register(
    "sketch_quantile_error_report",
    f"""
    WITH ev AS (
      SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT event_type AS g, {sp.sql_hash_u32("event_id", "tsdt|qsk")} AS u,
             CAST(value AS DOUBLE) AS v
      FROM ev
    ),
    regs AS (
      SELECT g, u, v FROM h
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY u ASC, v ASC) <= {_QERR_K}
    ),
    ranked AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v ASC, u ASC) AS vr,
             count(*) OVER (PARTITION BY g) AS n_kept
      FROM regs
    ),
    qs AS (SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _QERR_QS)}]) AS q),
    est AS (
      SELECT g AS event_type, q, n_kept, v AS sketch_q
      FROM ranked CROSS JOIN qs
      WHERE vr = greatest(1, CAST(ceil(q * CAST(n_kept AS DOUBLE)) AS BIGINT))
    ),
    ex AS (
      SELECT event_type, count(*) AS n_total,
             {", ".join(f"{R(f'quantile_cont(value, {q})', 6)} AS x{i}" for i, q in enumerate(_QERR_QS))}
      FROM ev GROUP BY event_type
    ),
    exl AS (
      {" UNION ALL ".join(
        f"SELECT event_type, n_total, CAST({q} AS DOUBLE) AS q, x{i} AS exact_q FROM ex"
        for i, q in enumerate(_QERR_QS))}
    )
    SELECT e.event_type, e.q, x.n_total, CAST(e.n_kept AS BIGINT) AS n_kept,
           x.exact_q, e.sketch_q,
           {R("abs(e.sketch_q - x.exact_q)", 6)} AS abs_err
    FROM est e JOIN exl x ON x.event_type = e.event_type AND x.q = e.q
    """,
)
def _q_sketch_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch family's HONEST-ERROR row: per channel and q ∈
    {_QERR_QS}, the {_QERR_K}-register bottom-k quantile estimate next
    to the EXACT interpolated percentile and their absolute gap — the
    measured answer to "what accuracy do 32 registers actually buy",
    the same discipline as the recall curves for every approximate
    blocking structure. Registers, estimator (nearest-rank on the
    (v, u) total order) and exact percentile are all deterministic, so
    even the ERROR is oracle-exact. One scan + bounded register
    windows + one 5-row exact agg."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    regs = sk.quantile_sketch_registers(
        ev, group_col="event_type", value_col="value", id_col="event_id",
        k=_QERR_K,
    )
    est = sk.quantile_sketch_estimate(regs, qs=list(_QERR_QS)).select(
        F.col("g").alias("event_type"),
        "q",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("q_est").alias("sketch_q"),
    )
    # r13 (guide §2.4): this |types|-row frame is unioned once per
    # quantile below — without materialization the sort-based exact
    # percentile aggregation over the full events scan re-executed per
    # union arm (5×). Lazy checkpoint: 5 rows, one execution.
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            rd(F.percentile(F.col("value"), F.lit(float(q))), 6).alias(
                f"__x{i}"
            )
            for i, q in enumerate(_QERR_QS)
        ],
    ).localCheckpoint(eager=False)
    exl = None
    for i, q in enumerate(_QERR_QS):
        part = exact.select(
            "event_type",
            "n_total",
            F.lit(float(q)).alias("q"),
            F.col(f"__x{i}").alias("exact_q"),
        )
        exl = part if exl is None else exl.unionByName(part)
    return est.join(F.broadcast(exl), ["event_type", "q"]).select(
        "event_type",
        "q",
        "n_total",
        "n_kept",
        "exact_q",
        "sketch_q",
        rd(F.abs(F.col("sketch_q") - F.col("exact_q")), 6).alias("abs_err"),
    )



@register(
    "sketch_kmv_error_vs_k",
    """SELECT CAST(64 AS INTEGER) AS k, q.source, q.n_kept, q.est_distinct, q.exact_distinct, (floor((q.est_distinct - q.exact_distinct) / q.exact_distinct * 1000000.0 + 0.5) / 1000000.0) AS rel_err FROM (
    WITH hashed AS (
      SELECT DISTINCT source AS g, ('0x' || substr(md5('tsdt|kmv' || '|' || CAST(token AS VARCHAR)), 1, 8))::BIGINT AS u FROM (SELECT source, t.token FROM documents, LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t WHERE len(t.token) > 0 AND text IS NOT NULL) tt
    ),
    ranked AS (
      SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rn
      FROM hashed
    ),
    exact AS (SELECT g, count(*) AS exact_distinct FROM hashed GROUP BY g),
    kept AS (
      SELECT g, count(*) AS n_kept, max(u) AS kth
      FROM ranked WHERE rn <= 64 GROUP BY g
    )
    SELECT kept.g AS source, kept.n_kept,
           (floor((CASE WHEN kept.n_kept < 64 THEN CAST(kept.n_kept AS DOUBLE) ELSE 63.0 * 4294967296.0 / CAST(kept.kth AS DOUBLE) END) * 1000000.0 + 0.5) / 1000000.0) AS est_distinct,
           exact.exact_distinct
    FROM kept JOIN exact ON kept.g = exact.g
    
) q
UNION ALL
SELECT CAST(256 AS INTEGER) AS k, q.source, q.n_kept, q.est_distinct, q.exact_distinct, (floor((q.est_distinct - q.exact_distinct) / q.exact_distinct * 1000000.0 + 0.5) / 1000000.0) AS rel_err FROM (
    WITH hashed AS (
      SELECT DISTINCT source AS g, ('0x' || substr(md5('tsdt|kmv' || '|' || CAST(token AS VARCHAR)), 1, 8))::BIGINT AS u FROM (SELECT source, t.token FROM documents, LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t WHERE len(t.token) > 0 AND text IS NOT NULL) tt
    ),
    ranked AS (
      SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rn
      FROM hashed
    ),
    exact AS (SELECT g, count(*) AS exact_distinct FROM hashed GROUP BY g),
    kept AS (
      SELECT g, count(*) AS n_kept, max(u) AS kth
      FROM ranked WHERE rn <= 256 GROUP BY g
    )
    SELECT kept.g AS source, kept.n_kept,
           (floor((CASE WHEN kept.n_kept < 256 THEN CAST(kept.n_kept AS DOUBLE) ELSE 255.0 * 4294967296.0 / CAST(kept.kth AS DOUBLE) END) * 1000000.0 + 0.5) / 1000000.0) AS est_distinct,
           exact.exact_distinct
    FROM kept JOIN exact ON kept.g = exact.g
    
) q
UNION ALL
SELECT CAST(1024 AS INTEGER) AS k, q.source, q.n_kept, q.est_distinct, q.exact_distinct, (floor((q.est_distinct - q.exact_distinct) / q.exact_distinct * 1000000.0 + 0.5) / 1000000.0) AS rel_err FROM (
    WITH hashed AS (
      SELECT DISTINCT source AS g, ('0x' || substr(md5('tsdt|kmv' || '|' || CAST(token AS VARCHAR)), 1, 8))::BIGINT AS u FROM (SELECT source, t.token FROM documents, LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t WHERE len(t.token) > 0 AND text IS NOT NULL) tt
    ),
    ranked AS (
      SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rn
      FROM hashed
    ),
    exact AS (SELECT g, count(*) AS exact_distinct FROM hashed GROUP BY g),
    kept AS (
      SELECT g, count(*) AS n_kept, max(u) AS kth
      FROM ranked WHERE rn <= 1024 GROUP BY g
    )
    SELECT kept.g AS source, kept.n_kept,
           (floor((CASE WHEN kept.n_kept < 1024 THEN CAST(kept.n_kept AS DOUBLE) ELSE 1023.0 * 4294967296.0 / CAST(kept.kth AS DOUBLE) END) * 1000000.0 + 0.5) / 1000000.0) AS est_distinct,
           exact.exact_distinct
    FROM kept JOIN exact ON kept.g = exact.g
    
) q""",
)
def _q_sketch_kmv_error_vs_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV ACCURACY-vs-BUDGET curve: the per-source distinct-token
    estimate at k ∈ {64, 256, 1024} registers next to the exact
    count — the measured error curve that picks the register budget
    BEFORE a 100 TB run commits to one (the distinct-count sibling of
    `sketch_quantile_error_report`; theory says σ ≈ 1/√(k−2), the
    table shows what THIS corpus does, including the saturation
    regime where k exceeds the true cardinality and the sketch turns
    exact). Three runs of the proven `sk.kmv_distinct` (distinct
    narrow (group, hash) pairs, bottom-k keyed window, ≤k longs of
    state) unioned with a k column. |sources|×3-row output."""
    import time_series_data_trimmer_spark.operators.sketches as sk

    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
        )
        .filter(F.length("token") > 0)
    )
    parts = []
    for kk in (64, 256, 1024):
        r = sk.kmv_distinct(toks, "source", "token", k=kk).select(
            F.lit(kk).cast("int").alias("k"),
            "source",
            "n_kept",
            "est_distinct",
            "exact_distinct",
            rd(
                (F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        parts.append(r)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
