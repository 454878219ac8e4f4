"""Feature-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# Feature engineering: leave-one-out target encoding + quantile transform
# ---------------------------------------------------------------------------


@register(
    "feature_loo_target_encoding",
    f"""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    g AS (
      SELECT event_type, sum(sv) AS s, count(*) AS n FROM e GROUP BY event_type
    ),
    gstat AS (SELECT sum(sv) AS gs, count(*) AS gn FROM e)
    SELECT e.event_id, e.event_type,
           {R("CASE WHEN g.n <= 1"
              " THEN CAST(gstat.gs AS DOUBLE) / gstat.gn / 10000.0"
              " ELSE (CAST(g.s AS DOUBLE) - e.sv) / (g.n - 1) / 10000.0 END", 6)}
             AS loo_value_mean
    FROM e JOIN g ON g.event_type = e.event_type CROSS JOIN gstat
    """,
)
def _q_feature_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against value —
    the leakage-safe categorical encoding (each row's own target is
    subtracted from its category mean; singleton categories fall back
    to the global mean). Exact: integer sums per category, one IEEE
    expression per row; the category table joins back |types|-keyed
    and the global mean rides the sanctioned 1-row broadcast. The
    shape a feature pipeline runs over billions of rows without a
    window."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    g = ev.groupBy("event_type").agg(
        F.sum("sv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    glob = ev.agg(F.sum("sv").alias("gs"), F.count(F.lit(1)).alias("gn"))
    return (
        ev.join(g.hint("shuffle_hash"), "event_type")
        .crossJoin(F.broadcast(glob))
        .select(
            "event_id",
            "event_type",
            rd(
                F.when(
                    F.col("n") <= 1,
                    F.col("gs").cast("double") / F.col("gn") / 10000.0,
                ).otherwise(
                    (F.col("s").cast("double") - F.col("sv"))
                    / (F.col("n") - 1)
                    / 10000.0
                ),
                6,
            ).alias("loo_value_mean"),
        )
    )


@register(
    "feature_quantile_transform",
    f"""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    r AS (
      SELECT event_id, event_type,
             2 * rank() OVER (PARTITION BY event_type ORDER BY sv)
               + count(*) OVER (PARTITION BY event_type, sv) - 1 AS r2,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    )
    SELECT event_id, event_type,
           {R("CAST(r2 AS DOUBLE) / (2.0 * (n + 1))", 6)} AS q
    FROM r
    """,
)
def _q_feature_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category uniform quantile transform: tie-averaged rank /
    (n+1) in (0, 1) — the monotone, outlier-proof normalization that
    needs no distribution assumption. Same doubled-rank exactness as
    the Spearman operator (half-integer average ranks become
    integers), so every emitted quantile is one IEEE division of
    exact integers. The rank map lives on the (type, value) histogram
    — value-DOMAIN-bounded (1e-4-grid bins), hence broadcastable at
    any corpus size — joined back map-side per row (r13)."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    # r13 (guide §2.2): the doubled tie-averaged rank of a row depends
    # only on its (type, sv) bin (2·cum − cnt + 1), so rank the
    # DISTINCT-value histogram and broadcast-join it back per row —
    # replacing the per-row rank window (|types| sort tasks at any
    # core count) with a combinable groupBy + map-side lookup.
    bins = _sv_cum_hist(ev.select("event_type", "sv"), ["event_type"]).select(
        "event_type",
        "sv",
        (2 * F.col("cum") - F.col("cnt") + 1).alias("__r2"),
        "n",
    )
    return ev.join(F.broadcast(bins), ["event_type", "sv"]).select(
        "event_id",
        "event_type",
        rd(
            F.col("__r2").cast("double") / (2.0 * (F.col("n") + 1)),
            6,
        ).alias("q"),
    )


@register(
    "feature_pointintime_state",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type
      FROM events WHERE event_type <> 'purchase'
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ),
    v AS (
      SELECT *, sum(chg) OVER (
        PARTITION BY user_id ORDER BY t_us, event_id
        ROWS UNBOUNDED PRECEDING
      ) AS version
      FROM m
    ),
    g AS (
      SELECT user_id, version, min(event_type) AS event_type,
             min(t_us) AS valid_from_us
      FROM v GROUP BY user_id, version
    ),
    dim AS (
      SELECT user_id, version, event_type, valid_from_us,
             lead(valid_from_us) OVER (
               PARTITION BY user_id ORDER BY version
             ) AS valid_to_us
      FROM g
    ),
    fact AS (
      SELECT event_id, user_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.t_us,
           d.event_type AS state_type,
           CAST(d.version AS BIGINT) AS state_version,
           CAST(f.t_us - d.valid_from_us AS BIGINT) AS state_age_us
    FROM fact f
    LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from_us <= f.t_us
     AND (d.valid_to_us IS NULL OR f.t_us < d.valid_to_us)
    """,
)
def _q_feature_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature join — the feature-store operation that
    prevents training-serving skew: each purchase event is joined to
    the user's browsing-state SCD2 interval (built from the NON-purchase
    stream, the scd2_user_state_history machinery) that was valid AT
    the purchase instant, never to a later state (no feature leakage
    from the future). Because SCD2 intervals partition each user's
    timeline, the interval predicate matches at most one dimension row
    — no post-join dedup. Plan: the dim build is one user-keyed window
    pass; the join is a user_id-keyed shuffle-hash LEFT join with the
    interval bounds as residual filter (equi-key present — this is NOT
    the no-equi-key BNLJ class); purchases before any state keep a
    NULL state row, proving the as-of semantics honest."""
    e = _events_us(spark, sf_dir)
    browse = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc(), F.col("event_id").asc()
    )
    chg = F.when(
        F.lag("event_type", 1).over(w).isNull()
        | (F.lag("event_type", 1).over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    v = browse.select(
        "user_id", "t_us", "event_id", "event_type", chg.alias("__chg")
    ).withColumn(
        "version",
        F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = v.groupBy("user_id", "version").agg(
        F.min("event_type").alias("__stype"),
        F.min("t_us").alias("__from"),
    )
    wv = Window.partitionBy("user_id").orderBy(F.col("version").asc())
    dim = g.select(
        F.col("user_id").alias("__du"),
        "version",
        "__stype",
        "__from",
        F.lead("__from", 1).over(wv).alias("__to"),
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    cond = (
        (F.col("__du") == F.col("user_id"))
        & (F.col("__from") <= F.col("t_us"))
        & (F.col("__to").isNull() | (F.col("t_us") < F.col("__to")))
    )
    j = fact.join(dim.hint("shuffle_hash"), cond, "left")
    return j.select(
        "event_id",
        "user_id",
        "t_us",
        F.col("__stype").alias("state_type"),
        F.col("version").cast("long").alias("state_version"),
        (F.col("t_us") - F.col("__from")).cast("long").alias("state_age_us"),
    )


@register(
    "feature_rolling_past_window",
    f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS t_us, value
      FROM events
    )
    SELECT event_id, user_id, t_us,
           CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS n_past_7d,
           CAST(coalesce(sum(CAST({sql_rd("value", 4)} AS DECIMAL(38,6)))
                         OVER w, 0) AS DOUBLE) AS sum_value_past_7d
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY t_us
                 RANGE BETWEEN {_W7D_US} PRECEDING AND 1 PRECEDING)
    """,
)
def _q_feature_rolling_past(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE rolling features at event time: for every event,
    the count and value-sum of the same user's events in the STRICTLY
    PAST 7 days (RANGE frame [t−7d, t−1] — simultaneous events are
    excluded by the value-based frame, so tie order can never leak the
    current row into its own feature). This is the at-training-time
    twin of the point-in-time join: features computed only from what
    was knowable before t. The float sum accumulates 4-dp decimals
    inside the frame (frame CONTENT is t-range-defined and therefore
    engine-identical even when tie ORDER differs — a ROWS frame here
    would be nondeterministic, a RANGE frame is provably not). ONE
    user-keyed Exchange; the window is a single pass."""
    e = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_us").asc())
        .rangeBetween(-_W7D_US, -1)
    )
    return e.select(
        "event_id",
        "user_id",
        "t_us",
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0))
        .cast("long")
        .alias("n_past_7d"),
        F.coalesce(
            F.sum(rd(F.col("value"), 4).cast("decimal(38,6)")).over(w),
            F.lit(0).cast("decimal(38,6)"),
        )
        .cast("double")
        .alias("sum_value_past_7d"),
    )


@register(
    "feature_quantile_transform_sketched",
    f"""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT event_type AS g, {sp.sql_hash_u32("event_id", _QTX_SEED)} AS u,
             CAST(sv AS DOUBLE) AS v
      FROM e
    ),
    regs AS (
      SELECT g, u, v FROM h
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY u ASC, v ASC) <= {_QTX_K}
    ),
    ranked AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v ASC, u ASC) AS vr,
             count(*) OVER (PARTITION BY g) AS n_kept
      FROM regs
    ),
    qs AS (
      SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _QTX_QS)}]) AS q
    ),
    bnd AS (
      SELECT g, q, v AS b
      FROM ranked CROSS JOIN qs
      WHERE vr = greatest(1, CAST(ceil(q * CAST(n_kept AS DOUBLE)) AS BIGINT))
    )
    SELECT e.event_id, e.event_type,
           CAST(sum(CASE WHEN CAST(e.sv AS DOUBLE) > bnd.b
                         THEN 1 ELSE 0 END) AS INTEGER) AS q_bucket
    FROM e JOIN bnd ON bnd.g = e.event_type
    GROUP BY e.event_id, e.event_type
    """,
)
def _q_feature_quantile_transform_sketched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SKETCH-BACKED quantile transform — the 100 TB form of
    `feature_quantile_transform`: instead of tie-averaged rank windows
    over EVERY row of every group (two full-width sort exchanges whose
    per-partition sort cost grows with rows-per-group), derive per-group
    DECILE boundaries from the mergeable bottom-k-by-md5 quantile
    sketch (k=256 registers per group, the `sketch_quantile_value_by_
    user` machinery), broadcast the ≤ 9·|groups| boundary rows, and
    assign each row its decile bucket SCAN-SIDE (an `F.aggregate` fold
    over the 9 sorted boundaries — no per-row rank, no full-width
    window). Values are the same 1e4-scaled integers as the exact
    form, so boundary comparisons are exact in both engines; the
    oracle replays registers → nearest-rank boundaries → the same
    strictly-greater bucket rule. Registered alongside the exact form:
    per-trial/per-category scales exact, corpus-wide scales this."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
        )
    )
    regs = sk.quantile_sketch_registers(
        ev, "event_type", "sv", "event_id", k=_QTX_K, seed=_QTX_SEED
    )
    est = sk.quantile_sketch_estimate(regs, _QTX_QS, group_col="g")
    bnd = est.groupBy("g").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("q"), F.col("q_est")))
        ).alias("__bs")
    )
    out = ev.join(F.broadcast(bnd), ev["event_type"] == bnd["g"])
    bucket = F.aggregate(
        F.col("__bs"),
        F.lit(0),
        lambda acc, b: acc
        + F.when(F.col("sv").cast("double") > b["q_est"], 1).otherwise(0),
    )
    return out.select(
        "event_id", "event_type", bucket.cast("int").alias("q_bucket")
    )


@register(
    "feature_woe_encoding",
    f"""
    WITH {_HLS_VS_C4_SQL},
    lab AS (
      SELECT d.doc_id, d.source,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM documents d LEFT JOIN surv ON surv.doc_id = d.doc_id
      WHERE d.text IS NOT NULL
    ),
    tot AS (
      SELECT CAST(sum(pass) AS BIGINT) AS pos,
             CAST(count(*) - sum(pass) AS BIGINT) AS neg
      FROM lab
    ),
    cls AS (
      SELECT source, count(*) AS n,
             CAST(sum(pass) AS BIGINT) AS np,
             CAST(count(*) - sum(pass) AS BIGINT) AS nn
      FROM lab GROUP BY source
    ),
    woe_t AS (
      SELECT source, n, np, nn,
             (np + 0.5) / ((SELECT pos FROM tot) + 0.5) AS ps,
             (nn + 0.5) / ((SELECT neg FROM tot) + 0.5) AS ns
      FROM cls
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(np AS BIGINT) AS n_pos,
           {R("ln(ps / ns)", 6)} AS woe,
           {R("(ps - ns) * ln(ps / ns)", 6)} AS iv_term
    FROM woe_t
    """,
)
def _q_feature_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence categorical encoding + Information Value —
    the credit-scoring-standard supervised encoding next to
    `feature_loo_target_encoding`: per source, WOE = ln(pos_share /
    neg_share) with 0.5 Laplace smoothing (never ±∞ on pure classes),
    target = the C4 gate's pass bit. IV_term per category sums to the
    feature's Information Value (the keep-this-feature number: <0.02
    useless, >0.5 suspicious). Shares are exact smoothed-integer
    ratios, so both engines take ln of identical doubles; one narrow
    groupBy + a 2-scalar broadcast at any corpus size."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # r14 (guide §2.3/§2.4): the gate label rides the SAME scan as the
    # category column (was: a second corpus pass + doc_id join), and
    # the global pos/neg totals roll up from the bounded per-source
    # table (checkpointed) instead of re-reading the corpus — Σ np /
    # Σ nn over sources are the identical integers the old full-row
    # aggregate summed.
    lab = tx.c4_label_frame(docs, ("source",)).select(
        "source", F.col("__pass").alias("__p")
    )
    cls = (
        lab.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__p").cast("long").alias("__np"),
            (F.count(F.lit(1)) - F.sum("__p")).cast("long").alias("__nn"),
        )
        .localCheckpoint(eager=False)
    )
    tot = cls.agg(
        F.sum("__np").cast("long").alias("__pos"),
        F.sum("__nn").cast("long").alias("__neg"),
    )
    w = cls.crossJoin(F.broadcast(tot)).select(
        "source",
        "__n",
        "__np",
        (
            (F.col("__np") + F.lit(0.5)) / (F.col("__pos") + F.lit(0.5))
        ).alias("__ps"),
        (
            (F.col("__nn") + F.lit(0.5)) / (F.col("__neg") + F.lit(0.5))
        ).alias("__ns"),
    )
    return w.select(
        "source",
        F.col("__n").cast("long").alias("n_docs"),
        F.col("__np").cast("long").alias("n_pos"),
        rd(F.log(F.col("__ps") / F.col("__ns")), 6).alias("woe"),
        rd(
            (F.col("__ps") - F.col("__ns"))
            * F.log(F.col("__ps") / F.col("__ns")),
            6,
        ).alias("iv_term"),
    )


@register(
    "feature_hashing_collision_report",
    f"""
    WITH toks AS (
      SELECT DISTINCT t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE len(t.token) > 0 AND text IS NOT NULL
    ),
    h AS (
      SELECT token,
             ('0x' || substr(md5('tsdt|fh|' || token), 1, 8))::BIGINT AS u
      FROM toks
    ),
    ks AS (SELECT * FROM (VALUES (12), (16), (20)) k(k_bits)),
    b AS (
      SELECT k.k_bits, h.u % (CAST(1 AS BIGINT) << k.k_bits) AS bucket
      FROM h CROSS JOIN ks k
    )
    SELECT k_bits,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT bucket) AS BIGINT) AS buckets_used,
           CAST(count(*) - count(DISTINCT bucket) AS BIGINT) AS n_collided,
           {R("CAST(count(*) - count(DISTINCT bucket) AS DOUBLE) / count(*)", 6)} AS collision_rate,
           {R("CAST(count(DISTINCT bucket) AS DOUBLE) / (CAST(1 AS BIGINT) << k_bits)", 6)} AS load_factor
    FROM b GROUP BY k_bits
    """,
)
def _q_feature_hashing_collision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-HASHING capacity audit for the hashed-linear scorer
    family (`tx.hashed_linear_score` hashes tokens to weights; THIS
    says how many weights the table actually needs): per hash width
    k ∈ {{12, 16, 20}} bits, the corpus vocabulary's distinct-bucket
    occupancy, collided-token count/rate, and table load factor — the
    numbers that pick the hashing-trick width before training (too
    narrow = gradient interference from collisions, too wide = wasted
    parameters; Weinberger et al. 2009). One DISTINCT-token scan, the
    three widths fan out scan-side (3 rows per distinct token), one
    (k, bucket) distinct-count — all map-side combinable; 3-row
    output at any corpus size."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("tsdt|fh|"), F.col("token"))), 1, 8), 16, 10
    ).cast("long")
    b = toks.select(
        u.alias("__u"),
        F.explode(F.array(F.lit(12), F.lit(16), F.lit(20))).alias("k_bits"),
    ).select(
        "k_bits",
        F.pmod(
            F.col("__u"), F.expr("shiftleft(cast(1 as bigint), k_bits)")
        ).alias("__bucket"),
    )
    agg = b.groupBy("k_bits").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count_distinct(F.col("__bucket")).cast("long").alias("buckets_used"),
    )
    return agg.select(
        "k_bits",
        "n_tokens",
        "buckets_used",
        (F.col("n_tokens") - F.col("buckets_used")).cast("long").alias("n_collided"),
        rd(
            (F.col("n_tokens") - F.col("buckets_used")).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("collision_rate"),
        rd(
            F.col("buckets_used").cast("double")
            / F.expr("shiftleft(cast(1 as bigint), k_bits)"),
            6,
        ).alias("load_factor"),
    )
