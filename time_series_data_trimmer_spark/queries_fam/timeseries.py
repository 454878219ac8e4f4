"""Timeseries-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "asof_join_click_purchase",
    f"""
    WITH l AS (
      SELECT user_id, event_id, epoch(ts) AS t
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, epoch(ts) AS rt,
             max({sql_rd("value", 2)}) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, epoch(ts)
    )
    SELECT l.user_id, l.event_id, l.t,
           r.rt AS asof_t, r.purchase_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.t >= r.rt
    """,
)
def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General AS-OF JOIN (trades⋈quotes shape): every click event
    gains the most recent purchase value per user at-or-before its
    time. Spark side = the union trick (ONE key-partitioned window,
    zero range join — a range formulation nested-loops at scale);
    oracle = DuckDB's NATIVE ASOF LEFT JOIN, so the semantics
    (inclusive ties, per-key most-recent) are checked against a
    reference as-of engine, not a re-derivation. The right side
    pre-aggregates to one row per (user, t) — as-of is only
    well-defined on a unique time series."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "t"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "t")
        .agg(F.max(rd(F.col("value"), 2)).alias("purchase_value"))
    )
    out = edits.asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        time_col="t",
        value_cols=["purchase_value"],
        right_time_alias="asof_t",
    )
    return out.select("user_id", "event_id", "t", "asof_t", "purchase_value")


@register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, event_id, epoch(ts) AS t
      FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT user_id, epoch(ts) AS ct FROM events
      WHERE event_type = 'click' GROUP BY user_id, epoch(ts)
    ),
    p AS (
      SELECT user_id, epoch(ts) AS pt FROM events
      WHERE event_type = 'purchase' GROUP BY user_id, epoch(ts)
    ),
    vc AS (
      SELECT v.user_id, v.event_id, v.t, c.ct
      FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND v.t <= c.ct
    ),
    vcp AS (
      SELECT vc.user_id, vc.event_id, vc.t, vc.ct, p.pt
      FROM vc ASOF LEFT JOIN p ON vc.user_id = p.user_id AND vc.ct <= p.pt
    )
    SELECT user_id, count(*) AS n_views,
           CAST(sum(CASE WHEN ct IS NOT NULL AND ct - t <= 600.0
                          AND pt IS NOT NULL AND pt - ct <= 3600.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM vcp GROUP BY user_id
    """,
)
def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel (view → click within 10 min → purchase
    within 1 h of the click), per user — the composed form of the
    general as-of join: TWO chained forward as-of joins (each one
    keyed window over a tagged union, zero range joins), then a
    conditional count. The oracle chains DuckDB's native forward ASOF
    (``l.t <= r.t``) twice, so the composition semantics — nearest
    FOLLOWING event, inclusive, per key — are checked against a
    reference as-of engine end to end. r5: expressed through the
    general N-step `funnel` operator (this 3-step query keeps its
    original handwritten oracle; the 4-step registration below uses the
    generated one)."""
    ev = _events(spark, sf_dir)
    hops = edits.funnel(ev, ["view", "click", "purchase"], [600.0, 3600.0])
    return (
        edits.funnel_summary(hops)
        .withColumnRenamed("n_anchors", "n_views")
    )


@register(
    "funnel_signup_4step",
    _funnel_oracle_sql(_FUNNEL4_STEPS, _FUNNEL4_WINDOWS),
)
def _q_funnel_4step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-step funnel (signup → view ≤1 d → click ≤1 h → purchase ≤1 h)
    through the general N-step operator, with the oracle SQL GENERATED
    for the same (steps, windows) — proving the loop of forward as-of
    hops composes to DuckDB's chained native ASOF at arbitrary depth."""
    ev = _events(spark, sf_dir)
    hops = edits.funnel(ev, _FUNNEL4_STEPS, _FUNNEL4_WINDOWS)
    return edits.funnel_summary(hops)


@register(
    "sessionize_events",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events
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
    )
    SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           (max(us) - min(us)) / 1000000 AS duration_sec,
           CAST(sum(CAST({R("CAST(value AS DOUBLE)", 2)} AS DECIMAL(38,2))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sess
    """,
)
def _q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (`ag.sessionize`, 30-min gap):
    the one-shuffle gaps-and-islands plan — lag window, boundary
    cumsum, and per-session aggregation all share the user-key
    Exchange. Integer-microsecond gap math, decimal-summed values.
    The batch twin of `stream_session_agg`."""
    out = ag.sessionize_user_events(_table(spark, sf_dir, "events"), gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "session_start", "session_end", "n_events", "duration_sec", "total_value",
    )


@register(
    "autocorr_peak_lag_by_user",
    f"""
    WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
    base AS (
      SELECT user_id, CAST(value AS DOUBLE) AS __v,
             CAST(sum(CAST({R("CAST(value AS DOUBLE)", 6)} AS DECIMAL(38,6)))
                    OVER (PARTITION BY user_id) AS DOUBLE)
               / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE) AS __m,
             lead(CAST(value AS DOUBLE), 1) OVER w AS __v1,
             lead(CAST(value AS DOUBLE), 2) OVER w AS __v2,
             lead(CAST(value AS DOUBLE), 3) OVER w AS __v3,
             lead(CAST(value AS DOUBLE), 4) OVER w AS __v4,
             lead(CAST(value AS DOUBLE), 5) OVER w AS __v5,
             lead(CAST(value AS DOUBLE), 6) OVER w AS __v6,
             lead(CAST(value AS DOUBLE), 7) OVER w AS __v7,
             lead(CAST(value AS DOUBLE), 8) OVER w AS __v8,
             lead(CAST(value AS DOUBLE), 9) OVER w AS __v9,
             lead(CAST(value AS DOUBLE), 10) OVER w AS __v10
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    lags AS (
      SELECT user_id, 1 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v1 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v1 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 2 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v2 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v2 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 3 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v3 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v3 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 4 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v4 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v4 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 5 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v5 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v5 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 6 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v6 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v6 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 7 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v7 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v7 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 8 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v8 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v8 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 9 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v9 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v9 IS NOT NULL GROUP BY user_id UNION ALL SELECT user_id, 10 AS lag,
             CAST(sum(CAST({R(f"(__v - __m) * (__v10 - __m)", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS score
         FROM base WHERE __v10 IS NOT NULL GROUP BY user_id
    ),
    picked AS (
      SELECT user_id, lag, score,
             row_number() OVER (
               PARTITION BY user_id ORDER BY score DESC, lag ASC
             ) AS rn
      FROM lags
    )
    SELECT user_id, CAST(lag AS INT) AS peak_lag, {R("score", 4)} AS peak_score
    FROM picked WHERE rn = 1
    """,
)
def _q_autocorr_peak_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user autocorrelation peak lag (`ag.autocorr_peak_lag`,
    lags 1-10): the sample periodicity of each user's value stream —
    demeaned decimal-exact autocovariance, one key-partitioned window
    pass for all lags + mean, scan-side stack unpivot, bounded
    (key x lag) argmax. The statistical twin of e11_seasonal_fold."""
    out = ag.autocorr_peak_lag(_table(spark, sf_dir, "events"), max_lag=10)
    return out.select(
        "user_id", F.col("peak_lag").cast("int").alias("peak_lag"), "peak_score"
    )


@register(
    "events_json_props_stats",
    f"""
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           {_sql_dsum("value", 2)} AS total_value
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type, CAST(json_extract(props, '$.k') AS BIGINT) % 10
    """,
)
def _q_events_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload aggregation: parse the `props` JSON
    column with a DECLARED schema (`from_json` — vectorized Jackson
    parse inside codegen, not a per-row Python json.loads), bucket the
    extracted key, aggregate. The schema-on-read pattern every event
    pipeline needs; at scale the parse cost is why you declare the
    schema once instead of schema-inferring per batch. Oracle uses
    DuckDB's json_extract on the identical path expression."""
    from pyspark.sql.types import LongType, StructField, StructType

    e = _table(spark, sf_dir, "events")
    schema = StructType([StructField("k", LongType())])
    return (
        e.filter(F.col("props").isNotNull())
        .select(
            "event_type",
            F.pmod(F.from_json(F.col("props"), schema).getField("k"), F.lit(10)).alias("k_bucket"),
            F.col("value"),
        )
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value"), 2).alias("total_value"),
        )
    )


@register(
    "ts_m4_downsample",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id, value FROM events
    ),
    b AS (
      SELECT user_id, t_us - (t_us % {_M4_BUCKET_US}) AS bucket_us,
             t_us, event_id, value
      FROM e
    ),
    o AS (
      SELECT user_id, bucket_us, value,
             row_number() OVER (PARTITION BY user_id, bucket_us
                                ORDER BY t_us ASC, event_id ASC) AS rf,
             row_number() OVER (PARTITION BY user_id, bucket_us
                                ORDER BY t_us DESC, event_id DESC) AS rl
      FROM b
    )
    SELECT user_id, bucket_us, count(*) AS n,
           min(value) AS v_min, max(value) AS v_max,
           max(CASE WHEN rf = 1 THEN value END) AS v_first,
           max(CASE WHEN rl = 1 THEN value END) AS v_last
    FROM o GROUP BY user_id, bucket_us
    """,
)
def _q_ts_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (`ts.m4_downsample`, Jugel et al.
    VLDB 2014): per (trial, 1-hour pixel bucket) keep n/min/max/first/
    last — the error-free line-chart reduction. The reference decimates
    for plotting by slicing (`plot_manager.py` renders raw arrays);
    at 100 TB M4 is the only thing a dashboard can afford to scan with.
    Plan: ONE map-side-combinable aggregation on (trial, bucket) —
    first/last ride struct-ordered min/max over the (t_us, event_id)
    total order, so there is no window, no join, no second exchange.
    Values are never touched arithmetically (bit-exact passthrough)."""
    e = _events_us(spark, sf_dir)
    return ts.m4_downsample(e, bucket_us=_M4_BUCKET_US)


@register(
    "ts_gap_report",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id FROM events
    ),
    d AS (
      SELECT user_id, t_us, event_id,
             t_us - lag(t_us) OVER w AS dt_us
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
    ),
    m AS (
      SELECT *, quantile_cont(dt_us, 0.5) OVER (PARTITION BY user_id) AS med
      FROM d
    )
    SELECT user_id,
           t_us - dt_us AS gap_start_us,
           t_us AS gap_end_us,
           dt_us AS gap_us,
           {R("med", 4)} AS med_dt_us
    FROM m
    WHERE CAST(dt_us AS DOUBLE) > 5.0 * med
    """,
)
def _q_ts_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-dropout report (`ts.gap_report`): intervals where the
    lag-delta exceeds 5x the trial's median delta — the irregular-axis
    complement of the reference's NaN-island suggestions
    (`main.py` suggest_bad_segments flags values; this flags TIME).
    Integer micros end-to-end; the exact median rides the same
    trial-key partition as the lag, so the whole operator is one
    Exchange + two Window ops, zero joins."""
    e = _events_us(spark, sf_dir)
    return ts.gap_report(e, factor=5)


@register(
    "ts_mad_outliers",
    f"""
    WITH m AS (
      SELECT user_id, value,
             quantile_cont(value, 0.5) OVER (PARTITION BY user_id) AS med
      FROM events
    ),
    d AS (
      SELECT user_id, value, med, abs(value - med) AS dev FROM m
    ),
    md AS (
      SELECT *, quantile_cont(dev, 0.5) OVER (PARTITION BY user_id) AS mad
      FROM d
    )
    SELECT user_id, count(*) AS n,
           CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           {R("any_value(med)", 6)} AS med,
           {R("any_value(mad)", 6)} AS mad
    FROM md GROUP BY user_id
    """,
)
def _q_ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier summary per trial
    (`ts.mad_outliers`): the breakdown-resistant twin of the
    reference's mean±k*std spike rule (`main.py` suggest_bad_segments)
    — one wild sample inflates sigma and masks its neighbors; MAD's
    breakdown point is 50%. Exact interpolated percentiles in both
    engines; deviations are the identical IEEE |x − med| sequence, so
    the 3*MAD comparison is bit-stable. Window partitions and the
    final groupBy share the trial key: one Exchange total."""
    e = _table(spark, sf_dir, "events")
    return ts.mad_outliers(e, k=3.0)


@register(
    "ts_cusum_changepoint",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT user_id, t_us, event_id,
             sum(v) OVER (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY t_us ASC, event_id ASC) AS BIGINT) AS k,
             sum(v) OVER (PARTITION BY user_id) AS total,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM e
    ),
    d AS (SELECT *, n * cum - k * total AS d FROM s),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY abs(d) DESC, t_us ASC, event_id ASC) AS rn
      FROM d
    )
    SELECT user_id, t_us AS cp_t_us, event_id AS cp_event_id, k AS cp_index,
           {R("CAST(abs(d) AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)", 6)} AS max_dev
    FROM r WHERE rn = 1
    """,
)
def _q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift locator per trial (`ts.cusum_changepoint`,
    Page 1954): the sample maximizing |sum_(i<=k)(x_i − mean)|,
    earliest on ties — where the signal's level broke, the question a
    trim tool answers by eye on a plot. Integer-exact inside: with
    values scaled to 4-dp ints, n*cumsum_k − k*total needs NO division
    until the surfaced score, so the argmax is bit-identical in any
    engine (the PCA/PageRank unroll policy applied to a window op).
    One trial-key Exchange; cumsum, totals, and the argmax rank all
    share it."""
    e = _events_us(spark, sf_dir)
    return ts.cusum_changepoint(e)


@register("ts_ewma_halflife", _ewma_oracle(16))
def _q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life EWMA smoother (`ts.ewma_halflife`, alpha=1/2
    truncated at 16 lags): the exponential cousin of the reference's
    moving-average filter (`filter_engine.py` moving_average). The
    untruncated recurrence is inherently sequential; truncating at
    2^-16 (<=1.6e-5 relative tail) turns it into a 16-lag weighted
    window — distributed, one sort, one Exchange. Bit-exact because
    half-life weights are exact binary INTEGERS (2^(15-j)) over 4-dp
    scaled values: numerator and weight-sum stay integer, and the one
    IEEE division at the end is the same op in every engine. Head rows
    renormalize over the lags that exist."""
    e = _events_us(spark, sf_dir)
    return ts.ewma_halflife(e, depth=16)


# ---------------------------------------------------------------------------
# Interval-union coverage + peak concurrency (distributed sweep-line)
# ---------------------------------------------------------------------------


@register(
    "interval_coverage_daily",
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
    pieces AS (
      SELECT b.bucket,
             greatest(start_us, b.bucket * {iv.DAY_US}) AS ps,
             least(end_us, (b.bucket + 1) * {iv.DAY_US}) AS pe
      FROM sess,
           LATERAL (
             SELECT unnest(generate_series(
               CAST(floor(start_us / {float(iv.DAY_US)}) AS BIGINT),
               CAST(floor(end_us / {float(iv.DAY_US)}) AS BIGINT)
             )) AS bucket
           ) b
    ),
    deltas AS (
      SELECT bucket, ps AS us, 1 AS d,
             CASE WHEN pe > ps THEN 1 ELSE 0 END AS pos FROM pieces
      UNION ALL
      SELECT bucket, pe AS us, -1 AS d, 0 AS pos FROM pieces
    ),
    grouped AS (
      SELECT bucket, us, sum(d) AS net, sum(pos) AS plus
      FROM deltas GROUP BY bucket, us
    ),
    swept AS (
      SELECT bucket, plus,
             sum(net) OVER (
               PARTITION BY bucket ORDER BY us
               ROWS UNBOUNDED PRECEDING
             ) AS conc,
             lead(us) OVER (PARTITION BY bucket ORDER BY us) - us AS span
      FROM grouped
    )
    SELECT bucket,
           CAST(sum(plus) AS BIGINT) AS n_intervals,
           CAST(coalesce(sum(CASE WHEN conc > 0 THEN span END), 0) AS BIGINT)
             AS covered_us,
           CAST(max(conc) AS BIGINT) AS max_concurrency
    FROM swept GROUP BY bucket
    """,
)
def _q_interval_coverage_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-UTC-day union coverage and peak concurrency of ALL user
    sessions (`iv.coverage_sweep`): how much wall-clock each day had
    ≥1 active session anywhere in the system, and the day's maximum
    number of simultaneously-active sessions — the sweep-line
    interval-union classic, distributed by day-bucketing the
    intervals instead of the textbook single global sort.

    Scale shape: sessions split at day boundaries (explode fan-out =
    days spanned, ~1 for session-length intervals), so every window is
    DAY-KEYED — skew rides the busiest day, never a keyless sort.
    Tie order at equal timestamps is irrelevant by construction
    (deltas are net-summed per timestamp before the running sum), so
    the result is engine-exact with no ordering caveats."""
    sess = ag.sessionize_user_events(_table(spark, sf_dir, "events"), gap_minutes=30)
    ivl = sess.select(
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    return iv.coverage_sweep(ivl, bucket_us=iv.DAY_US)


@register(
    "funnel_staged_conversions",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    s1 AS (
      SELECT user_id, min(us) AS t1 FROM e
      WHERE event_type = '{_FUNNEL_STAGES[0]}' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.us) AS t2
      FROM e JOIN s1 ON s1.user_id = e.user_id AND e.us > s1.t1
      WHERE e.event_type = '{_FUNNEL_STAGES[1]}' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.us) AS t3
      FROM e JOIN s2 ON s2.user_id = e.user_id AND e.us > s2.t2
      WHERE e.event_type = '{_FUNNEL_STAGES[2]}' GROUP BY e.user_id
    )
    SELECT 1 AS stage, '{_FUNNEL_STAGES[0]}' AS event_type,
           (SELECT count(*) FROM s1) AS users
    UNION ALL
    SELECT 2, '{_FUNNEL_STAGES[1]}', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, '{_FUNNEL_STAGES[2]}', (SELECT count(*) FROM s3)
    """,
)
def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user
    converts at stage k iff a stage-k event exists STRICTLY after
    their earliest stage-(k-1) conversion time. Each stage is one
    filter + keyed min-aggregation + one user-keyed shuffle-hash join
    onto the previous stage's (user, t) pairs — every exchange keys on
    user_id so the chain reuses one partitioning, and no window or
    per-user event array ever materializes. Stage sizes are
    monotonically shrinking, so later joins get cheaper, not costlier."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    cur = (
        ev.filter(F.col("event_type") == _FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t"))
    )
    counts = [cur.agg(F.count(F.lit(1)).alias("users"))]
    for stage in _FUNNEL_STAGES[1:]:
        cur = (
            ev.filter(F.col("event_type") == stage)
            .join(cur.hint("shuffle_hash"), "user_id")
            .filter(F.col("us") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("us").alias("t"))
        )
        counts.append(cur.agg(F.count(F.lit(1)).alias("users")))
    rows = None
    for i, (stage, cnt) in enumerate(zip(_FUNNEL_STAGES, counts), start=1):
        row = cnt.select(
            F.lit(i).alias("stage"),
            F.lit(stage).alias("event_type"),
            F.col("users"),
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


@register(
    "ts_sax_symbols",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    seg AS (
      SELECT user_id, sv,
             (row_number() OVER (
                PARTITION BY user_id ORDER BY t_us, event_id
              ) - 1) // {_SAX_W} AS seg
      FROM e
    ),
    paa AS (
      SELECT user_id, seg, count(*) AS n, sum(sv) AS ssum
      FROM seg GROUP BY user_id, seg
    ),
    st AS (
      SELECT user_id, count(*) AS tn, sum(sv) AS s1,
             sum(CAST(sv AS DECIMAL(38,0)) * sv) AS s2
      FROM seg GROUP BY user_id
    ),
    z AS (
      SELECT p.user_id, p.seg, p.n,
             CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / tn) / tn <= 0.0
                  THEN 0.0
                  ELSE (CAST(ssum AS DOUBLE) / n - CAST(s1 AS DOUBLE) / tn)
                       / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / tn) / tn)
             END AS zv
      FROM paa p JOIN st ON st.user_id = p.user_id
    )
    SELECT user_id, seg, n, {R("zv", 6)} AS z,
           CASE WHEN zv < {_SAX_B[0]!r} THEN 'a'
                WHEN zv < {_SAX_B[1]!r} THEN 'b'
                WHEN zv < {_SAX_B[2]!r} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
)
def _q_ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""SAX symbolic representation (`ts.sax_symbols`, Lin/Keogh 2003):
    {_SAX_W}-row PAA segments z-normalized per trial and mapped to the
    4-letter standard-normal-quartile alphabet — the representation
    that turns petabyte series into strings motif/discord mining can
    index. One exchange on the trial key; every moment derives from
    exact scaled-integer sums, so z and the breakpoint comparisons are
    engine-identical IEEE expressions over exact inputs."""
    e = _events_us(spark, sf_dir)
    return ts.sax_symbols(e, segment_rows=_SAX_W)


@register(
    "ts_seasonal_decompose",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_SD_HOUR_US} AS bucket,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    b AS (
      SELECT user_id, bucket, count(*) AS n, sum(sv) AS ssum
      FROM e GROUP BY user_id, bucket
    ),
    t AS (
      SELECT *, sum(ssum) OVER w AS tsum, sum(n) OVER w AS tn
      FROM b WINDOW w AS (
        PARTITION BY user_id ORDER BY bucket
        ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING
      )
    ),
    d AS (
      SELECT user_id, bucket, bucket % 24 AS hour_of_day,
             {R("CAST(ssum AS DOUBLE) / n / 10000.0", 6)} AS hourly,
             {R("CAST(tsum AS DOUBLE) / tn / 10000.0", 6)} AS trend,
             {R("CAST(ssum AS DOUBLE) / n / 10000.0 - CAST(tsum AS DOUBLE) / tn / 10000.0", 6)} AS dd
      FROM t
    ),
    s AS (
      SELECT *,
             {R("CAST(sum(CAST(dd AS DECIMAL(38,6))) OVER ws AS DOUBLE) / count(*) OVER ws", 6)} AS seasonal
      FROM d WINDOW ws AS (PARTITION BY user_id, hour_of_day)
    )
    SELECT user_id, bucket, hour_of_day, hourly, trend, seasonal,
           {R("dd - seasonal", 6)} AS residual
    FROM s
    """,
)
def _q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each trial's hourly series
    (`ts.seasonal_decompose_hourly`): ratio-of-integer-sums trend over
    a centered 24-bucket row frame, hour-of-day seasonal means on the
    6-dp decimal grid, residual — STL's skeleton with every averaging
    step order-independent. One exchange on the trial key; the bucket
    aggregation, both row-frame windows, and the (trial, hour-of-day)
    seasonal window all reuse it."""
    e = _events_us(spark, sf_dir)
    return ts.seasonal_decompose_hourly(e)


@register(
    "seq_topk_event_trigrams",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {_SEQ_GAP_US}
                  THEN 1 ELSE 0 END AS newf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT *,
             sum(newf) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess
      FROM m
    ),
    g AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER ws AS t2,
             lead(event_type, 2) OVER ws AS t3
      FROM s WINDOW ws AS (PARTITION BY user_id, sess ORDER BY us, event_id)
    )
    SELECT t1, t2, t3, count(*) AS n
    FROM g WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC
    LIMIT {_SEQ_TOPK}
    """,
)
def _q_seq_topk_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Sequential-pattern mining, the bounded-alphabet case: the
    corpus's most common within-session event-type TRIGRAM paths
    (30-min-gap sessions, the repo's standing rule). The n-gram stream
    comes from two lead() calls on the SAME (user, session) window the
    sessionizer already sorted — no explode, no self-join — and the
    aggregation output is |types|³-bounded regardless of corpus size,
    so the final top-{_SEQ_TOPK} is a TakeOrdered over at most 125
    rows. One exchange on the user key end to end."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    m = ev.withColumn(
        "newf",
        F.when(
            F.lag("us").over(wo).isNull()
            | ((F.col("us") - F.lag("us").over(wo)) > _SEQ_GAP_US),
            1,
        ).otherwise(0),
    )
    s = m.withColumn(
        "sess",
        F.sum("newf").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("us", "event_id")
    g = s.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(ws).alias("t2"),
        F.lead("event_type", 2).over(ws).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        g.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("n").desc(),
            F.col("t1").asc(),
            F.col("t2").asc(),
            F.col("t3").asc(),
        )
        .limit(_SEQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast baseline + MASE (forecastability audit)
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_naive_mase",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS b,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    h AS (
      SELECT user_id, b, sum(sv) AS s, count(*) AS n FROM e GROUP BY user_id, b
    ),
    season AS (
      SELECT a.user_id,
             abs(CAST(a.s AS DOUBLE) / a.n - CAST(p.s AS DOUBLE) / p.n) AS err
      FROM h a JOIN h p ON p.user_id = a.user_id AND p.b = a.b - 24
    ),
    naive AS (
      SELECT a.user_id,
             abs(CAST(a.s AS DOUBLE) / a.n - CAST(p.s AS DOUBLE) / p.n) AS err
      FROM h a JOIN h p ON p.user_id = a.user_id AND p.b = a.b - 1
    ),
    sa AS (
      SELECT user_id, count(*) AS n_forecasts,
             CAST(sum(CAST({sql_rd("err", 6)} AS DECIMAL(38,6))) AS DOUBLE)
               / count(*) AS mae_seasonal
      FROM season GROUP BY user_id
    ),
    na AS (
      SELECT user_id, count(*) AS n_naive,
             CAST(sum(CAST({sql_rd("err", 6)} AS DECIMAL(38,6))) AS DOUBLE)
               / count(*) AS mae_naive1
      FROM naive GROUP BY user_id
    )
    SELECT sa.user_id, CAST(sa.n_forecasts AS BIGINT) AS n_forecasts,
           {R("sa.mae_seasonal / 10000.0", 6)} AS mae_seasonal,
           {R("na.mae_naive1 / 10000.0", 6)} AS mae_naive1,
           {R("CASE WHEN na.mae_naive1 = 0.0 THEN 0.0"
              " ELSE sa.mae_seasonal / na.mae_naive1 END", 6)} AS mase
    FROM sa JOIN na ON na.user_id = sa.user_id
    """,
)
def _q_ts_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecastability audit: seasonal-naive (same hour yesterday)
    hourly forecast per trial, scored as MASE against the calendar
    1-hour naive (Hyndman & Koehler 2006) — MASE < 1 means the daily
    cycle genuinely predicts the signal, the go/no-go number before
    anyone trains a forecaster on 100 TB of telemetry. Calendar
    alignment is two EQUI self-joins on (trial, bucket−k) — no row
    frames, so sampling gaps can't smear the season — and every error
    is an IEEE expression over exact integer bucket sums, 6-dp rounded
    and decimal-accumulated."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("b"),
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    h = ev.groupBy("user_id", "b").agg(
        F.sum("sv").alias("s"), F.count(F.lit(1)).alias("n")
    )

    def _mae(lag: int, out: str):
        p = h.select(
            "user_id",
            (F.col("b") + lag).alias("b"),
            F.col("s").alias("ps"),
            F.col("n").alias("pn"),
        )
        j = h.join(p.hint("shuffle_hash"), ["user_id", "b"])
        err = F.abs(
            F.col("s").cast("double") / F.col("n")
            - F.col("ps").cast("double") / F.col("pn")
        )
        return j.groupBy("user_id").agg(
            F.count(F.lit(1)).alias(f"n_{out}"),
            (
                F.sum(rd(err, 6).cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias(out),
        )

    sa = _mae(24, "mae_seasonal")
    na = _mae(1, "mae_naive1")
    return sa.join(na.hint("shuffle_hash"), "user_id").select(
        "user_id",
        F.col("n_mae_seasonal").cast("long").alias("n_forecasts"),
        rd(F.col("mae_seasonal") / 10000.0, 6).alias("mae_seasonal"),
        rd(F.col("mae_naive1") / 10000.0, 6).alias("mae_naive1"),
        rd(
            F.when(F.col("mae_naive1") == 0.0, F.lit(0.0)).otherwise(
                F.col("mae_seasonal") / F.col("mae_naive1")
            ),
            6,
        ).alias("mase"),
    )


@register(
    "asof_join_tolerance",
    f"""
    WITH l AS (
      SELECT user_id, event_id, epoch(ts) AS t
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, epoch(ts) AS rt,
             max({sql_rd("value", 2)}) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, epoch(ts)
    ),
    m AS (
      SELECT l.user_id, l.event_id, l.t,
             r.rt AS asof_t, r.purchase_value
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.t >= r.rt
    )
    SELECT user_id, event_id, t,
           CASE WHEN t - asof_t <= {_ASOF_TOL_S} THEN asof_t END AS asof_t,
           CASE WHEN t - asof_t <= {_ASOF_TOL_S} THEN purchase_value END
             AS purchase_value
    FROM m
    """,
)
def _q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""`asof_join_click_purchase` with a {_ASOF_TOL_S:.0f}-second
    staleness bound (`asof_join(tolerance=...)`, the
    `pandas.merge_asof(tolerance=...)` contract the reference's users
    already rely on): a purchase older than a day must NOT enrich a
    click — stale calibration is worse than none. Same one-exchange
    union-trick plan; the tolerance is a null-out post-filter on the
    matched struct, and the oracle applies the identical CASE over
    DuckDB's native ASOF."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "t"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "t")
        .agg(F.max(rd(F.col("value"), 2)).alias("purchase_value"))
    )
    return edits.asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        time_col="t",
        value_cols=["purchase_value"],
        tolerance=_ASOF_TOL_S,
    ).select("user_id", "event_id", "t", "asof_t", "purchase_value")


@register(
    "ts_conformal_interval",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS b,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    h AS (
      SELECT user_id, b, sum(sv) AS s, count(*) AS n FROM e GROUP BY user_id, b
    ),
    res AS (
      SELECT a.user_id,
             abs(CAST(a.s AS DOUBLE) / a.n - CAST(p.s AS DOUBLE) / p.n) AS r
      FROM h a JOIN h p ON p.user_id = a.user_id AND p.b = a.b - 24
    ),
    ranked AS (
      SELECT user_id, r,
             row_number() OVER (PARTITION BY user_id ORDER BY r, user_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM res
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_residuals,
           {R("max(CASE WHEN rn = CAST(ceil((n + 1) * (1.0 - 1.0 * "
              f"{_CONF_ALPHA_NUM} / {_CONF_ALPHA_DEN}) "
              ") AS BIGINT) THEN r END) / 10000.0", 6)} AS q_hat
    FROM ranked
    WHERE n + 1 >= CAST(ceil((n + 1) * (1.0 - 1.0 * {_CONF_ALPHA_NUM} / {_CONF_ALPHA_DEN})) AS BIGINT)
    GROUP BY user_id
    HAVING max(CASE WHEN rn = CAST(ceil((n + 1) * (1.0 - 1.0 * {_CONF_ALPHA_NUM} / {_CONF_ALPHA_DEN})) AS BIGINT) THEN r END) IS NOT NULL
    """,
)
def _q_ts_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval half-width per trial (Vovk et al.;
    the distribution-free uncertainty wrapper): q̂ = the
    ⌈(n+1)(1−α)⌉-th smallest absolute seasonal-naive residual, α=0.1 —
    forecast ± q̂ then covers ≥ 90% of future points with NO
    distributional assumption. Composes the MASE machinery's
    calendar-aligned residuals; the calibration quantile is a
    nearest-rank filter on one trial-keyed rank window (no
    sort-collect), trials with too few residuals for the rank drop
    out. Residuals are IEEE expressions over exact integer bucket
    sums, so the selected rank is engine-identical."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("b"),
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    h = ev.groupBy("user_id", "b").agg(
        F.sum("sv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    p = h.select(
        "user_id",
        (F.col("b") + 24).alias("b"),
        F.col("s").alias("ps"),
        F.col("n").alias("pn"),
    )
    res = (
        h.join(p.hint("shuffle_hash"), ["user_id", "b"])
        .select(
            "user_id",
            F.abs(
                F.col("s").cast("double") / F.col("n")
                - F.col("ps").cast("double") / F.col("pn")
            ).alias("r"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("r", "user_id")
    wc = Window.partitionBy("user_id")
    alpha = float(_CONF_ALPHA_NUM) / float(_CONF_ALPHA_DEN)
    ranked = res.select(
        "user_id",
        "r",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    target = F.ceil((F.col("n") + 1) * (1.0 - F.lit(alpha))).cast("long")
    return (
        ranked.filter(F.col("rn") == target)
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_residuals"),
            rd(F.col("r") / 10000.0, 6).alias("q_hat"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal / trend strength (Hyndman STL-strength on the decomposition)
# ---------------------------------------------------------------------------

_SD_SQL = REGISTRY["ts_seasonal_decompose"][1]


@register(
    "ts_seasonal_strength",
    f"""
    WITH base AS ({_SD_SQL})
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_buckets,
           {R("CASE WHEN " + _sql_var("seasonal + residual") + " <= 0.0 THEN 0.0"
              " ELSE greatest(0.0, 1.0 - (" + _sql_var("residual") + ")"
              " / (" + _sql_var("seasonal + residual") + ")) END", 6)}
             AS seasonal_strength,
           {R("CASE WHEN " + _sql_var("hourly - seasonal") + " <= 0.0 THEN 0.0"
              " ELSE greatest(0.0, 1.0 - (" + _sql_var("residual") + ")"
              " / (" + _sql_var("hourly - seasonal") + ")) END", 6)}
             AS trend_strength
    FROM base GROUP BY user_id
    """,
)
def _q_ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's decomposition-strength scores per trial (FPP3 §4.5):
    seasonal strength = 1 − var(R)/var(S+R), trend strength =
    1 − var(R)/var(T+R written as hourly−seasonal) — the two numbers
    that say whether `ts_seasonal_decompose`'s components are signal
    or noise, per trial, fleet-wide. Composes the registered
    decomposition (the oracle literally embeds its SQL); variances are
    decimal-accumulated over the decomposition's own 6-dp grid, so
    partial-agg order cannot move them."""
    base = REGISTRY["ts_seasonal_decompose"][0](spark, sf_dir)

    def var_of(col):
        s1 = F.sum(col.cast("decimal(38,6)")).cast("double")
        s2 = F.sum(rd(col * col, 12).cast("decimal(38,12)")).cast("double")
        n = F.count(F.lit(1))
        return (s2 - s1 * s1 / n) / n

    sr = F.col("seasonal") + F.col("residual")
    tr = F.col("hourly") - F.col("seasonal")
    res = F.col("residual")
    agg = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        var_of(res).alias("__vr"),
        var_of(sr).alias("__vsr"),
        var_of(tr).alias("__vtr"),
    )
    return agg.select(
        "user_id",
        "n_buckets",
        rd(
            F.when(F.col("__vsr") <= 0.0, F.lit(0.0)).otherwise(
                F.greatest(F.lit(0.0), 1.0 - F.col("__vr") / F.col("__vsr"))
            ),
            6,
        ).alias("seasonal_strength"),
        rd(
            F.when(F.col("__vtr") <= 0.0, F.lit(0.0)).otherwise(
                F.greatest(F.lit(0.0), 1.0 - F.col("__vr") / F.col("__vtr"))
            ),
            6,
        ).alias("trend_strength"),
    )


@register(
    "ts_theilsen_lag_slope",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id,
             lead(sv) OVER w - sv AS dv,
             lead(t_us) OVER w - t_us AS dt_us,
             lead(event_id) OVER w AS nid
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ),
    sl AS (
      SELECT user_id,
             CAST(dv AS DOUBLE) / 10000.0 / (CAST(dt_us AS DOUBLE) / 1000000.0)
               AS slope,
             nid
      FROM d WHERE dt_us IS NOT NULL AND dt_us > 0
    ),
    r AS (
      SELECT user_id, slope,
             row_number() OVER (
               PARTITION BY user_id ORDER BY slope, nid
             ) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM sl
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_slopes,
           {R("max(CASE WHEN rn = (n + 1) // 2 THEN slope END)", 6)}
             AS slope_median_per_s,
           {R("CAST(sum(CAST(CAST(floor(slope * 1000000.0 + 0.5) AS BIGINT)"
              " AS DECIMAL(38,0))) AS DOUBLE) / max(n) / 1000000.0", 6)}
             AS slope_mean_per_s
    FROM r GROUP BY user_id
    """,
)
def _q_ts_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-trial trend slope: the MEDIAN of consecutive-sample
    difference slopes (the lag-1 member of the Theil-Sen family — the
    full estimator medians all O(n²) pairs, which is exactly the
    quadratic a 100 TB trial can't afford; consecutive differences
    keep the 29% breakdown point against spike outliers that wreck
    the OLS slope in F6/detrend). Slopes are IEEE divisions of exact
    scaled integers — bit-identical both engines. The mean slope
    alongside (µ-scaled decimal accumulation) is the fragile
    contrast: on an even grid lag-1 slope sums TELESCOPE, so it
    collapses to the endpoint-to-endpoint slope — immune to interior
    spikes but wrecked by endpoint corruption (pytest-pinned), while
    the median holds either way. Two windows + the rank share ONE
    user_id exchange."""
    e = _events_us(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        "user_id",
        "t_us",
        "event_id",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("__sv"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    d = e.select(
        "user_id",
        (F.lead("__sv").over(w) - F.col("__sv")).alias("__dv"),
        (F.lead("t_us").over(w) - F.col("t_us")).alias("__dt"),
        F.lead("event_id").over(w).alias("__nid"),
    )
    sl = d.filter(F.col("__dt").isNotNull() & (F.col("__dt") > 0)).select(
        "user_id",
        (
            F.col("__dv").cast("double")
            / 10000.0
            / (F.col("__dt").cast("double") / 1000000.0)
        ).alias("__slope"),
        "__nid",
    )
    wr = Window.partitionBy("user_id").orderBy("__slope", "__nid")
    wn = Window.partitionBy("user_id")
    r = sl.select(
        "user_id",
        "__slope",
        F.row_number().over(wr).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    return r.groupBy("user_id").agg(
        F.max("__n").cast("long").alias("n_slopes"),
        rd(
            F.max(
                F.when(
                    F.col("__rn") == F.expr("(__n + 1) div 2"), F.col("__slope")
                )
            ),
            6,
        ).alias("slope_median_per_s"),
        rd(
            F.sum(
                F.floor(F.col("__slope") * 1000000.0 + 0.5)
                .cast("long")
                .cast("decimal(38,0)")
            ).cast("double")
            / F.max("__n")
            / 1000000.0,
            6,
        ).alias("slope_mean_per_s"),
    )


@register(
    "ts_changepoint_binary_seg",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    s1 AS (
      SELECT user_id, t_us, event_id,
             sum(v) OVER (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY t_us ASC, event_id ASC) AS BIGINT) AS k,
             sum(v) OVER (PARTITION BY user_id) AS total,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM e
    ),
    d1 AS (SELECT *, n * cum - k * total AS d FROM s1),
    r1 AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY abs(d) DESC, t_us ASC, event_id ASC) AS rn
      FROM d1
    ),
    cp1 AS (SELECT user_id, t_us, event_id, k, d, n FROM r1 WHERE rn = 1),
    seg AS (
      SELECT e.user_id,
             CASE WHEN e.t_us < c.t_us
                    OR (e.t_us = c.t_us AND e.event_id <= c.event_id)
                  THEN 'L' ELSE 'R' END AS seg,
             e.t_us, e.event_id, e.v
      FROM e JOIN cp1 c ON c.user_id = e.user_id
    ),
    s2 AS (
      SELECT user_id, seg, t_us, event_id,
             sum(v) OVER (PARTITION BY user_id, seg
                          ORDER BY t_us ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             CAST(row_number() OVER (PARTITION BY user_id, seg
                                     ORDER BY t_us ASC, event_id ASC) AS BIGINT) AS k,
             sum(v) OVER (PARTITION BY user_id, seg) AS total,
             count(*) OVER (PARTITION BY user_id, seg) AS n
      FROM seg
    ),
    d2 AS (SELECT *, n * cum - k * total AS d FROM s2),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, seg
                                   ORDER BY abs(d) DESC, t_us ASC, event_id ASC) AS rn
      FROM d2
    )
    SELECT user_id, 'all' AS seg, t_us AS cp_t_us, event_id AS cp_event_id,
           k AS cp_index,
           {R("CAST(abs(d) AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)", 6)} AS max_dev
    FROM cp1
    UNION ALL
    SELECT user_id, seg, t_us, event_id, k,
           {R("CAST(abs(d) AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)", 6)}
    FROM r2 WHERE rn = 1
    """,
)
def _q_ts_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 binary-segmentation changepoints per trial
    (`ts.binary_segmentation`): the CUSUM level-shift locator applied
    recursively — strongest break over the whole trial, then the
    strongest break inside each resulting half — giving the
    three-regime story a trim tool wants ("where it broke, and where
    each regime wobbles") with the recursion UNROLLED into one lazy
    plan (no O(n^2) segmentation DP, no driver loop). Decimal-exact
    argmax at both levels (n*cumsum_k − k*total on scaled integers),
    earliest-tie pinned, split membership by the same (t_us, event_id)
    total order both engines. Level 1 rides one trial exchange; the
    split row joins back narrow; level 2 re-keys on (trial, half)."""
    e = _events_us(spark, sf_dir)
    return ts.binary_segmentation(e)


@register(
    "ts_anomaly_seasonal_residual",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_SD_HOUR_US} AS bucket,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    b AS (
      SELECT user_id, bucket, count(*) AS n, sum(sv) AS ssum
      FROM e GROUP BY user_id, bucket
    ),
    t AS (
      SELECT *, sum(ssum) OVER w AS tsum, sum(n) OVER w AS tn
      FROM b WINDOW w AS (
        PARTITION BY user_id ORDER BY bucket
        ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING
      )
    ),
    d AS (
      SELECT user_id, bucket, bucket % 24 AS hour_of_day,
             {R("CAST(ssum AS DOUBLE) / n / 10000.0 - CAST(tsum AS DOUBLE) / tn / 10000.0", 6)} AS dd
      FROM t
    ),
    s AS (
      SELECT user_id, bucket,
             {R("dd - " + R("CAST(sum(CAST(dd AS DECIMAL(38,6))) OVER ws AS DOUBLE) / count(*) OVER ws", 6), 6)} AS residual
      FROM d WINDOW ws AS (PARTITION BY user_id, hour_of_day)
    ),
    m AS (
      SELECT user_id, residual,
             quantile_cont(residual, 0.5) OVER (PARTITION BY user_id) AS med
      FROM s
    ),
    dv AS (
      SELECT user_id, residual, med, abs(residual - med) AS dev FROM m
    ),
    md AS (
      SELECT *, quantile_cont(dev, 0.5) OVER (PARTITION BY user_id) AS mad
      FROM dv
    )
    SELECT user_id, count(*) AS n,
           CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           {R("any_value(med)", 6)} AS med,
           {R("any_value(mad)", 6)} AS mad
    FROM md GROUP BY user_id
    """,
)
def _q_ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous hours AFTER de-seasonalizing: the classical
    decomposition's residual stream fed to the median/MAD outlier rule
    — the composition that separates "weird hour" from "busy time of
    day" (raw MAD on hourly levels flags every rush hour; residual MAD
    flags only departures from trend + seasonal pattern — the right
    anomaly gate for metrics with daily rhythm). Pure composition of
    two proven single-Exchange operators on the same trial key
    (`ts.seasonal_decompose_hourly` → `ts.mad_outliers` on residual):
    the exchange is shared end-to-end."""
    dec = ts.seasonal_decompose_hourly(_events_us(spark, sf_dir))
    return ts.mad_outliers(dec, key_col="user_id", value_col="residual", k=3.0)


@register(
    "ts_sax_motifs",
    f"""
    WITH sax AS ({REGISTRY["ts_sax_symbols"][1]}),
    words AS (
      SELECT user_id, symbol
             || lead(symbol, 1) OVER w || lead(symbol, 2) OVER w
             || lead(symbol, 3) OVER w AS word
      FROM sax WINDOW w AS (PARTITION BY user_id ORDER BY seg)
    ),
    wc AS (
      SELECT user_id, word, count(*) AS cnt
      FROM words WHERE word IS NOT NULL
      GROUP BY user_id, word
    ),
    rk AS (
      SELECT user_id, word, cnt,
             row_number() OVER (
               PARTITION BY user_id ORDER BY cnt DESC, word ASC
             ) AS rank
      FROM wc
    )
    SELECT user_id, word, CAST(cnt AS BIGINT) AS cnt,
           CAST(rank AS INTEGER) AS rank
    FROM rk WHERE rank <= 3
    """,
)
def _q_ts_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOTIF mining over the SAX strings (the payoff of
    `ts_sax_symbols`): each trial's top-3 recurring {_MOTIF_WORD}-symbol
    words — the recurring shapes (daily ramps, sawtooths, flat spells)
    a petabyte of raw floats hides but a 4-letter alphabet surfaces as
    simple string counts (Lin/Keogh's motif-discovery application).
    The SAX SQL is reused verbatim as a CTE so symbolization can never
    drift from the registered query. Sliding words via 3 leads on the
    trial-keyed window; (trial, word) counts and the top-3 window all
    reuse the same single Exchange (hash(user) satisfies every wider
    clustering)."""
    sax = REGISTRY["ts_sax_symbols"][0](spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("seg").asc())
    word = F.concat(
        F.col("symbol"),
        F.lead("symbol", 1).over(w),
        F.lead("symbol", 2).over(w),
        F.lead("symbol", 3).over(w),
    )
    words = sax.select("user_id", word.alias("word")).filter(
        F.col("word").isNotNull()
    )
    wc = words.groupBy("user_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    rk = wc.select(
        "user_id",
        "word",
        F.col("cnt").cast("long").alias("cnt"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("cnt").desc(), F.col("word").asc()
            )
        )
        .cast("int")
        .alias("rank"),
    )
    return rk.filter(F.col("rank") <= 3)


@register(
    "events_rfm_segments",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, value FROM events
    ),
    u AS (
      SELECT user_id,
             max(us) AS last_us,
             count(*) AS frequency,
             CAST(sum(CAST({sql_rd("coalesce(value, 0.0)", 4)}
                  AS DECIMAL(38,6))) AS DOUBLE) AS monetary
      FROM e GROUP BY user_id
    ),
    g AS (SELECT max(last_us) AS gmax FROM u),
    rfm AS (
      SELECT user_id,
             CAST((gmax - last_us) // 86400000000 AS BIGINT) AS recency_days,
             frequency, {R("monetary", 2)} AS monetary
      FROM u CROSS JOIN g
    ),
    b AS (
      SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
             quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
             quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
      FROM rfm
    ),
    sc AS (
      SELECT user_id, recency_days, frequency, monetary,
             5 - (CASE WHEN recency_days > rb[1] THEN 1 ELSE 0 END
                + CASE WHEN recency_days > rb[2] THEN 1 ELSE 0 END
                + CASE WHEN recency_days > rb[3] THEN 1 ELSE 0 END
                + CASE WHEN recency_days > rb[4] THEN 1 ELSE 0 END) AS r_score,
             1 + CASE WHEN frequency > fb[1] THEN 1 ELSE 0 END
               + CASE WHEN frequency > fb[2] THEN 1 ELSE 0 END
               + CASE WHEN frequency > fb[3] THEN 1 ELSE 0 END
               + CASE WHEN frequency > fb[4] THEN 1 ELSE 0 END AS f_score,
             1 + CASE WHEN monetary > mb[1] THEN 1 ELSE 0 END
               + CASE WHEN monetary > mb[2] THEN 1 ELSE 0 END
               + CASE WHEN monetary > mb[3] THEN 1 ELSE 0 END
               + CASE WHEN monetary > mb[4] THEN 1 ELSE 0 END AS m_score
      FROM rfm CROSS JOIN b
    )
    SELECT user_id, recency_days, CAST(frequency AS BIGINT) AS frequency,
           monetary,
           CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM sc
    """,
)
def _q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION (recency / frequency / monetary) — the classic
    OLAP customer-scoring shape, built scale-safe: quintile BOUNDARIES
    come from ONE interpolated-percentile AGGREGATE row (the sanctioned
    1-row scalar, broadcast back), NOT from a global rank window — an
    ntile() over all users is a keyless-window single-partition sort
    that both violates the repo's plan rule and dies at 10⁹ users,
    while boundary-broadcast scoring is one user-keyed aggregation +
    one scan. Ties score identically by construction (strict >
    against interpolated boundaries), so no engine-varying tie order
    exists; monetary sums accumulate 4-dp decimals.

    The per-user aggregate is localCheckpoint'ed (invariant-17 shape):
    the two chained 1-row scalars (global max, then quintile
    boundaries over the derived recency) would otherwise re-derive
    `u` — and with it the FULL events scan + user-keyed shuffle —
    three times in one action (r11 plan: 4 parquet scans, zero
    ReusedExchange). Checkpointing pins the |users|-row aggregate
    (1.5k rows at sf0.1; tiny vs the corpus at any SF) so the big
    table is scanned exactly once — the difference between 1× and 3×
    the corpus cost at 100 TB. Also the r12 triage outcome for the
    r11 `events_rfm_segments` mover (BENCH_NOTES r12): code and data
    were ruled out by a side-by-side r10-worktree timing, and this
    rewrite removes the redundant-scan sensitivity that made the
    query a noisy bench line in the first place."""
    ev = _events(spark, sf_dir)
    us = event_micros(ev)
    u = (
        ev.select("user_id", us.alias("__us"), "value")
        .groupBy("user_id")
        .agg(
            F.max("__us").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                rd(F.coalesce(F.col("value"), F.lit(0.0)), 4).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("__mon"),
        )
        .localCheckpoint()
    )
    g = u.agg(F.max("__last").alias("__gmax"))
    rfm = u.crossJoin(F.broadcast(g)).select(
        "user_id",
        F.expr("(__gmax - __last) DIV 86400000000").cast("long").alias(
            "recency_days"
        ),
        "frequency",
        rd(F.col("__mon"), 2).alias("monetary"),
    )
    b = rfm.agg(
        F.percentile(F.col("recency_days"), F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("__rb"),
        F.percentile(F.col("frequency"), F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("__fb"),
        F.percentile(F.col("monetary"), F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])).alias("__mb"),
    )

    def bucket(col, arr, invert=False):
        s = None
        for k in range(4):
            t = F.when(col > F.col(arr)[k], 1).otherwise(0)
            s = t if s is None else s + t
        return (F.lit(5) - s) if invert else (F.lit(1) + s)

    sc = rfm.crossJoin(F.broadcast(b)).select(
        "user_id",
        "recency_days",
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
        bucket(F.col("recency_days"), "__rb", invert=True)
        .cast("int")
        .alias("r_score"),
        bucket(F.col("frequency"), "__fb").cast("int").alias("f_score"),
        bucket(F.col("monetary"), "__mb").cast("int").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            F.lit("champion"),
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), F.lit("at_risk"))
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), F.lit("hibernating"))
        .otherwise(F.lit("regular"))
    )
    return sc.withColumn("segment", seg)


@register(
    "ts_lttb_downsample",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t, value AS v,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv,
             epoch_us(ts) // {_LTTB_BUCKET_US} AS b
      FROM events
    ),
    s AS (
      SELECT user_id, b, count(*) AS n,
             sum(t) AS st, sum(sv) AS ssv
      FROM e GROUP BY user_id, b
    ),
    a AS (
      SELECT user_id, b, n,
             lag({R(f"CAST(st AS DOUBLE) / n / {float(_LTTB_BUCKET_US)}", 9)}) OVER w AS xp,
             lag({R("CAST(ssv AS DOUBLE) / n / 10000.0", 6)}) OVER w AS yp,
             lead({R(f"CAST(st AS DOUBLE) / n / {float(_LTTB_BUCKET_US)}", 9)}) OVER w AS xn,
             lead({R("CAST(ssv AS DOUBLE) / n / 10000.0", 6)}) OVER w AS yn
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY b)
    ),
    j AS (
      SELECT e.user_id, e.b, e.t, e.v, a.n,
             CASE WHEN a.xp IS NOT NULL AND a.xn IS NOT NULL
                  THEN -abs((a.xp - a.xn)
                            * ({R("CAST(e.sv AS DOUBLE) / 10000.0", 6)} - a.yp)
                          - (a.xp - CAST(e.t AS DOUBLE) / {float(_LTTB_BUCKET_US)})
                            * (a.yn - a.yp))
                  ELSE 0.0 END AS negscore
      FROM e JOIN a ON a.user_id = e.user_id AND a.b = e.b
    )
    SELECT user_id, b AS bucket, t AS t_us, v AS value,
           CAST(n AS BIGINT) AS n_in_bucket
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, b ORDER BY negscore ASC, t ASC
      ) AS rn FROM j
    ) WHERE rn = 1
    """,
)
def _q_ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle one-per-bucket downsampling
    (`ts.lttb_downsample`, the distributed LTOB relaxation of
    Steinarsson's LTTB): per hour bucket keep the point forming the
    largest triangle with neighbor-bucket centroids — the
    shape-preserving complement of M4's lossless min/max envelope.
    Centroid anchors on fixed rounding grids; the area itself is never
    rounded (magnitudes would overflow rd's long floor — invariant 14)
    and serves only the per-bucket argmax with a timestamp tie-break."""
    e = _events_us(spark, sf_dir)
    return ts.lttb_downsample(e, bucket_us=_LTTB_BUCKET_US)


@register(
    "funnel_step_latency",
    f"""
    WITH v AS (
      SELECT user_id, event_id, epoch(ts) AS t
      FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT user_id, epoch(ts) AS ct FROM events
      WHERE event_type = 'click' GROUP BY user_id, epoch(ts)
    ),
    p AS (
      SELECT user_id, epoch(ts) AS pt FROM events
      WHERE event_type = 'purchase' GROUP BY user_id, epoch(ts)
    ),
    vc AS (
      SELECT v.user_id, v.event_id, v.t, c.ct
      FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND v.t <= c.ct
    ),
    vcp AS (
      -- DuckDB ASOF orders a NULL left key FIRST and so matches it to
      -- the user's earliest purchase; the chained-funnel semantics
      -- (and Spark's NULL-time guard) say a broken hop matches
      -- NOTHING — mask pt where the previous hop never happened
      SELECT vc.user_id, vc.event_id, vc.t, vc.ct,
             CASE WHEN vc.ct IS NOT NULL THEN p.pt END AS pt
      FROM vc ASOF LEFT JOIN p ON vc.user_id = p.user_id AND vc.ct <= p.pt
    )
    SELECT 1 AS hop, 'view->click' AS step,
           CAST(count(t) AS BIGINT) AS n_anchors,
           CAST(count(ct) AS BIGINT) AS n_matched,
           CAST(count(CASE WHEN ct - t <= 600.0 THEN 1 END) AS BIGINT)
             AS n_within,
           {R("quantile_cont(CASE WHEN ct - t <= 600.0 THEN ct - t END, 0.5)", 6)}
             AS p50_latency_s,
           {R("quantile_cont(CASE WHEN ct - t <= 600.0 THEN ct - t END, 0.9)", 6)}
             AS p90_latency_s
    FROM vcp
    UNION ALL
    SELECT 2 AS hop, 'click->purchase' AS step,
           CAST(count(ct) AS BIGINT) AS n_anchors,
           CAST(count(pt) AS BIGINT) AS n_matched,
           CAST(count(CASE WHEN pt - ct <= 3600.0 THEN 1 END) AS BIGINT)
             AS n_within,
           {R("quantile_cont(CASE WHEN pt - ct <= 3600.0 THEN pt - ct END, 0.5)", 6)}
             AS p50_latency_s,
           {R("quantile_cont(CASE WHEN pt - ct <= 3600.0 THEN pt - ct END, 0.9)", 6)}
             AS p90_latency_s
    FROM vcp
    """,
)
def _q_funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW LONG each funnel hop takes, not just whether it converts:
    per hop (view→click, click→purchase), the anchor/match/within
    counts and the exact interpolated p50/p90 latency of within-window
    hops — the product-analytics readout that decides which step to
    fix (a hop with high match rate but p90 at the window edge is a
    UX latency problem, not a drop-off). Reuses the chained-forward
    as-of machinery (`edits.funnel`) — each hop is one keyed exchange,
    latencies are exact second diffs, percentiles interpolated
    identically in both engines (the MAD precedent). The oracle chains
    DuckDB's native ASOF twice and filters per hop."""
    ev = _events(spark, sf_dir)
    hops = edits.funnel(ev, ["view", "click", "purchase"], [600.0, 3600.0])

    def hop_row(hop_i: int, label: str, prev: str, cur: str, win: float):
        dt = F.when(
            F.col(cur).isNotNull()
            & ((F.col(cur) - F.col(prev)) <= F.lit(win)),
            F.col(cur) - F.col(prev),
        )
        return hops.agg(
            F.count(F.col(prev)).cast("long").alias("n_anchors"),
            F.count(F.col(cur)).cast("long").alias("n_matched"),
            F.count(dt).cast("long").alias("n_within"),
            rd(F.percentile(dt, F.lit(0.5)), 6).alias("p50_latency_s"),
            rd(F.percentile(dt, F.lit(0.9)), 6).alias("p90_latency_s"),
        ).select(
            F.lit(hop_i).cast("int").alias("hop"),
            F.lit(label).alias("step"),
            "n_anchors",
            "n_matched",
            "n_within",
            "p50_latency_s",
            "p90_latency_s",
        )

    h1 = hop_row(1, "view->click", "t_0", "t_1", 600.0)
    h2 = hop_row(2, "click->purchase", "t_1", "t_2", 3600.0)
    return h1.unionByName(h2)


@register(
    "ts_xcorr_lag",
    f"""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS t_us, value FROM events
    ),
    xs AS (
      SELECT t_us - (t_us % {_XCORR_BUCKET_US}) AS b,
             sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS x
      FROM e WHERE event_type = 'click' GROUP BY 1
    ),
    ys AS (
      SELECT t_us - (t_us % {_XCORR_BUCKET_US}) AS b,
             sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS y
      FROM e WHERE event_type = 'purchase' GROUP BY 1
    ),
    lg AS (SELECT unnest(range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG + 1})) AS lag),
    yl AS (
      SELECT l.lag, y.b - l.lag * {_XCORR_BUCKET_US} AS b, y.y
      FROM ys y CROSS JOIN lg l
    ),
    m AS (
      SELECT yl.lag, count(*) AS n_overlap,
             sum(CAST(xs.x AS HUGEINT)) AS sx,
             sum(CAST(yl.y AS HUGEINT)) AS sy,
             sum(CAST(xs.x AS HUGEINT) * CAST(yl.y AS HUGEINT)) AS sxy,
             sum(CAST(xs.x AS HUGEINT) * CAST(xs.x AS HUGEINT)) AS sxx,
             sum(CAST(yl.y AS HUGEINT) * CAST(yl.y AS HUGEINT)) AS syy
      FROM xs JOIN yl ON xs.b = yl.b
      GROUP BY yl.lag
    )
    SELECT CAST(lag AS INT) AS lag, n_overlap,
           CASE WHEN CAST(n_overlap AS HUGEINT) * sxx - sx * sx > 0
                 AND CAST(n_overlap AS HUGEINT) * syy - sy * sy > 0
                THEN {R("CAST(CAST(n_overlap AS HUGEINT) * sxy - sx * sy AS DOUBLE)"
                        " / sqrt(CAST(CAST(n_overlap AS HUGEINT) * sxx - sx * sx AS DOUBLE)"
                        " * CAST(CAST(n_overlap AS HUGEINT) * syy - sy * sy AS DOUBLE))", 6)}
           END AS r
    FROM m
    """,
)
def _q_ts_xcorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation lag scan (`ts.xcorr_lag`): Pearson r of the
    hourly-bucketed click series against the purchase series at every
    lag in ±12 h — the channel-alignment probe (which lag best aligns
    B to A) the reference answers by eye with overlaid plots
    (`plot_manager.py`). Exact decimal moments over integer bucket
    sums (HUGEINT on the oracle side), one double division per lag.
    Plan: two partial-agg event scans; everything after is kilobytes
    (bounded bucket tables × 25 lags, equi-join on bucket)."""
    e = _events_us(spark, sf_dir)
    return ts.xcorr_lag(
        e, "click", "purchase",
        max_lag=_XCORR_MAX_LAG, bucket_us=_XCORR_BUCKET_US,
    )


@register(
    "ts_spectral_probe",
    f"""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS t_us, value FROM events
    ),
    st AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS sv
      FROM e GROUP BY 1
    ),
    p AS (SELECT unnest([{", ".join(str(p) for p in _SPECTRAL_PERIODS_US)}]) AS period_us),
    x AS (
      SELECT e.event_type, p.period_us, e.t_us,
             e.value - (CAST(st.sv AS DOUBLE) / (CAST(st.n AS DOUBLE) * 10000.0)) AS cv
      FROM e JOIN st USING (event_type) CROSS JOIN p
    ),
    a AS (
      SELECT event_type, period_us, count(*) AS n,
             sum(CAST({R("cv * cos(CAST(t_us % period_us AS DOUBLE) / CAST(period_us AS DOUBLE) * 6.283185307179586)", 4)} AS DECIMAL(38,6))) AS c,
             sum(CAST({R("cv * sin(CAST(t_us % period_us AS DOUBLE) / CAST(period_us AS DOUBLE) * 6.283185307179586)", 4)} AS DECIMAL(38,6))) AS s
      FROM x GROUP BY 1, 2
    )
    SELECT event_type, CAST(period_us / 3600000000 AS INT) AS period_h, n,
           {R("2.0 * sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE) + CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)", 6)} AS amp
    FROM a
    """,
)
def _q_ts_spectral_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency DFT probe (`ts.spectral_probe`): per channel,
    the amplitude of the daily and weekly components — the band-energy
    inspection the reference's Butterworth stack implies
    (`filter_engine.py:94-146` asks for cutoff frequencies; this
    measures where the energy IS), distributed as one plain
    aggregation per (channel × period) with integer-modulus phase
    arguments so cos/sin see identical doubles in both engines."""
    e = _events_us(spark, sf_dir)
    return ts.spectral_probe(e, periods_us=_SPECTRAL_PERIODS_US)


@register(
    "ts_interp_asof",
    f"""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS t, event_id AS id, value AS v,
             0 AS tag
      FROM events WHERE event_type = 'view'
    ),
    q AS (
      SELECT user_id, epoch_us(ts) AS t, event_id AS id,
             CAST(NULL AS DOUBLE) AS v, 1 AS tag
      FROM events WHERE event_type = 'click'
    ),
    u AS (SELECT * FROM s UNION ALL SELECT * FROM q),
    m AS (
      SELECT *,
        last_value(CASE WHEN tag = 0 THEN {{'t': t, 'v': v}} END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY t ASC, tag ASC, id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
        first_value(CASE WHEN tag = 0 THEN {{'t': t, 'v': v}} END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY t ASC, tag DESC, id ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM u
    )
    SELECT user_id, id AS event_id, t AS t_us,
           prev['t'] AS t_prev_us, nxt['t'] AS t_next_us,
           CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL THEN
             CASE WHEN nxt['t'] = prev['t'] THEN {R("prev['v']", 6)}
                  ELSE {R("prev['v'] + (nxt['v'] - prev['v'])"
                          " * (CAST(t - prev['t'] AS DOUBLE)"
                          " / CAST(nxt['t'] - prev['t'] AS DOUBLE))", 6)}
             END
           END AS v_interp
    FROM m WHERE tag = 1
    """,
)
def _q_ts_interp_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated as-of join (`edits.interp_asof_join`): evaluate
    each user's view-value series AT their click timestamps by linear
    interpolation between the bracketing samples — the resample-onto-
    a-master-clock primitive (the two-table form of the reference's
    within-channel interpolate, `filter_engine.py`). Single-exchange
    union trick: both tables share one user-keyed partition pass, two
    IGNORE-NULLS window sweeps resolve the brackets — no join at all."""
    e = _events_us(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click")
    views = e.filter(F.col("event_type") == "view")
    return edits.interp_asof_join(clicks, views)


@register(
    "ts_dtw_channel_pairs",
    f"""
    WITH RECURSIVE e AS (
      SELECT event_type AS ty, epoch_us(ts) AS t, value AS v FROM events
    ),
    rng AS (SELECT min(t) AS t0 FROM e),
    bk AS (
      SELECT ty, (t - t0) // {_DTW_B} AS b,
             CAST(floor(v * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM e CROSS JOIN rng
      WHERE (t - t0) // {_DTW_B} BETWEEN 0 AND {_DTW_L - 1}
    ),
    s AS (SELECT ty, b, CAST(sum(sv) AS BIGINT) AS s FROM bk GROUP BY 1, 2),
    tys AS (SELECT DISTINCT ty FROM e),
    grid AS (
      SELECT tys.ty, g.b
      FROM tys CROSS JOIN (SELECT unnest(range(0, {_DTW_L})) AS b) g
    ),
    dense AS (
      SELECT grid.ty, grid.b, COALESCE(s.s, 0) AS s
      FROM grid LEFT JOIN s ON s.ty = grid.ty AND s.b = grid.b
    ),
    ser AS (SELECT ty, list(s ORDER BY b) AS vs FROM dense GROUP BY ty),
    pairs AS (
      SELECT a.ty AS type_a, b.ty AS type_b, a.vs AS xs, b.vs AS ys
      FROM ser a JOIN ser b ON a.ty < b.ty
    ),
    r0 AS (
      SELECT type_a, type_b, xs, ys,
        list_reduce(
          list_transform(range(0, {_DTW_L}), j ->
            CASE WHEN j = 0 THEN [abs(xs[1] - ys[1])]
                 ELSE [CAST(j AS BIGINT)] END),
          (acc, x) -> list_append(acc,
            CASE WHEN x[1] > {_DTW_W} THEN {_DTW_INF}
                 ELSE abs(xs[1] - ys[x[1] + 1]) + acc[len(acc)] END)
        ) AS row
      FROM pairs
    ),
    dp AS (
      SELECT type_a, type_b, xs, ys, 0 AS i, row FROM r0
      UNION ALL
      SELECT type_a, type_b, xs, ys, i + 1,
        list_reduce(
          list_transform(range(0, {_DTW_L}), j ->
            CASE WHEN j = 0 THEN
              [CASE WHEN i + 1 > {_DTW_W} THEN {_DTW_INF}
                    ELSE abs(xs[i + 2] - ys[1]) + row[1] END]
            ELSE [CAST(j AS BIGINT)] END),
          (acc, x) -> list_append(acc,
            CASE WHEN abs((i + 1) - x[1]) > {_DTW_W} THEN {_DTW_INF}
                 ELSE abs(xs[i + 2] - ys[x[1] + 1])
                      + least(row[x[1] + 1], row[x[1]], acc[len(acc)]) END)
        )
      FROM dp WHERE i < {_DTW_L - 1}
    )
    SELECT type_a, type_b,
           CAST({_DTW_L} AS INTEGER) AS n_buckets,
           CAST({_DTW_W} AS INTEGER) AS band,
           row[{_DTW_L}] AS dtw_cost_e4,
           CAST(list_aggregate(list_transform(range(0, {_DTW_L}),
                j -> abs(xs[j + 1] - ys[j + 1])), 'sum') AS BIGINT)
             AS lockstep_cost_e4,
           {R(f"CAST(row[{_DTW_L}] AS DOUBLE) / 10000.0 / {float(_DTW_L)}", 6)}
             AS dtw_per_step
    FROM dp WHERE i = {_DTW_L - 1}
    """,
)
def _q_ts_dtw_channel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sakoe-Chiba banded DTW between every channel pair
    (`ts.dtw_band_distance`): the alignment-invariant distance — which
    channels move together modulo a local warp of ±8 six-hour buckets.
    The DP is a nested `F.aggregate` fold over integer arrays (pure
    Catalyst higher-order functions, exact bigint end-to-end); the
    oracle replays the identical recurrence with a recursive CTE +
    list_reduce, so costs compare EXACTLY. The lockstep (band-0)
    distance rides along: DTW ≤ lockstep is a pinned identity."""
    e = _events_us(spark, sf_dir)
    return ts.dtw_band_distance(
        e, bucket_us=_DTW_B, n_buckets=_DTW_L, band=_DTW_W
    )


@register("ts_holt_forecast", _holt_sql())
def _q_ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing forecast
    (`ts.holt_brown_forecast`): trend-corrected one-step-ahead
    ŷ = 3S1 − 2S2 per trial, truncated to exact integer weights (the
    triangular self-convolution) so the numerators are bit-portable
    ints under 2^53 and both engines divide identically ONCE. Rows
    without the full 2D−1 history are NULL by contract. One
    trial-keyed window pass."""
    e = _events_us(spark, sf_dir)
    return ts.holt_brown_forecast(e, depth=_HOLT_D)


# ---------------------------------------------------------------------------
# r7 wave 41: hysteresis burst segments
# ---------------------------------------------------------------------------


@register(
    "ts_burst_segments",
    f"""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS t, event_id FROM events
    ),
    d AS (
      SELECT event_type, t, event_id, t - lag(t) OVER w AS gap
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY t ASC, event_id ASC)
    ),
    st AS (
      SELECT event_type, count(gap) AS n, sum(CAST(gap AS HUGEINT)) AS sg
      FROM d GROUP BY 1
    ),
    m AS (
      SELECT d.event_type, d.t, d.event_id, d.gap,
             CASE WHEN d.gap IS NULL THEN 0
                  WHEN CAST(d.gap AS HUGEINT) * st.n * 3 < st.sg THEN 1
                  WHEN CAST(d.gap AS HUGEINT) * st.n > st.sg THEN 0
             END AS marker
      FROM d JOIN st USING (event_type)
    ),
    f AS (
      SELECT *, COALESCE(last_value(marker IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY t ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
             AS inb
      FROM m
    ),
    c AS (
      SELECT *, CASE WHEN COALESCE(lag(inb) OVER (PARTITION BY event_type
                          ORDER BY t ASC, event_id ASC), 0) <> inb
                     THEN 1 ELSE 0 END AS chg
      FROM f
    ),
    s AS (
      SELECT *, sum(chg) OVER (PARTITION BY event_type
                               ORDER BY t ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS seg
      FROM c
    )
    SELECT event_type, min(t) AS start_us, max(t) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           {R("CAST(sum(CAST(gap AS HUGEINT)) AS DOUBLE) / count(*) / 1000000.0", 6)}
             AS mean_gap_s
    FROM s WHERE inb = 1
    GROUP BY event_type, seg
    """,
)
def _q_ts_burst_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis burst detector (`ts.burst_segments`): contiguous
    faster-than-norm arrival runs per channel — enter below mean/3,
    exit above the mean, so borderline gaps can't flicker segments.
    The WHERE answer to `stats_interarrival_expfit`'s THAT (non-
    Poisson arrivals). The 1-bit state machine is re-expressed as an
    IGNORE-NULLS forward-fill of threshold CROSSINGS (no fold, no
    per-key arrays — one trial-keyed Exchange carries lag, fill and
    island numbering); thresholds compare exact integers
    (gap·n·3 < Σgap in decimal/HUGEINT), so membership is
    bit-portable."""
    e = _events_us(spark, sf_dir)
    return ts.burst_segments(e)


@register(
    "events_ohlc_hourly",
    f"""
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
             epoch_us(ts) AS us, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, hour_bucket, value,
             row_number() OVER (PARTITION BY event_type, hour_bucket
                                ORDER BY us ASC, event_id ASC) AS rn_a,
             row_number() OVER (PARTITION BY event_type, hour_bucket
                                ORDER BY us DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT event_type, hour_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           {R("max(CASE WHEN rn_a = 1 THEN value END)", 2)} AS open,
           {R("max(value)", 2)} AS high,
           {R("min(value)", 2)} AS low,
           {R("max(CASE WHEN rn_d = 1 THEN value END)", 2)} AS close
    FROM r GROUP BY event_type, hour_bucket
    """,
)
def _q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars per (event_type, hour) — the classic time-series
    downsample-for-monitoring shape (finance candles, metrics rollups):
    open/close are the first/last value by (time, event_id) — a
    DETERMINISTIC tie-break, where naive min_by/max_by on the bare
    timestamp would be engine-undefined under equal timestamps — and
    high/low are plain extrema. One keyed exchange carries both
    row-number windows and the aggregation; output is
    |types| × |hours| rows at any input size. Complements
    `ts_m4_downsample` (min/max/first/last per pixel bucket for viz)
    and `twap_value_by_user_hour` (time-weighted mean) in the bar
    family."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    e = ev.select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias(
            "hour_bucket"
        ),
        F.expr("unix_micros(cast(ts as timestamp))").alias("__us"),
        "event_id",
        "value",
    )
    wa = Window.partitionBy("event_type", "hour_bucket").orderBy(
        F.col("__us").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("event_type", "hour_bucket").orderBy(
        F.col("__us").desc(), F.col("event_id").desc()
    )
    r = e.select(
        "event_type",
        "hour_bucket",
        "value",
        F.row_number().over(wa).alias("__ra"),
        F.row_number().over(wd).alias("__rd"),
    )
    return r.groupBy("event_type", "hour_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        rd(F.max(F.when(F.col("__ra") == 1, F.col("value"))), 2).alias("open"),
        rd(F.max("value"), 2).alias("high"),
        rd(F.min("value"), 2).alias("low"),
        rd(F.max(F.when(F.col("__rd") == 1, F.col("value"))), 2).alias("close"),
    )


@register(
    "ts_hampel_filter",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, ts, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    fr AS (
      SELECT event_id, user_id, event_type, v,
             list_sort(list(v) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
      FROM e
    ),
    md AS (
      SELECT event_id, user_id, event_type, v, arr,
             (arr[CAST(floor((len(arr) + 1) / 2) AS INT)]
              + arr[CAST(floor(len(arr) / 2) AS INT) + 1]) / 2.0 AS med
      FROM fr
    ),
    dv AS (
      SELECT event_id, user_id, event_type, v, med,
             list_sort(list_transform(arr, x -> abs(x - med))) AS arr2
      FROM md
    ),
    mz AS (
      SELECT event_id, user_id, event_type, v, med,
             (arr2[CAST(floor((len(arr2) + 1) / 2) AS INT)]
              + arr2[CAST(floor(len(arr2) / 2) AS INT) + 1]) / 2.0 AS mad
      FROM dv
    )
    SELECT event_id, user_id, event_type,
           {R("med", 6)} AS med,
           {R("mad", 6)} AS mad,
           CAST(CASE WHEN abs(v - med) > 3.0 * (1.4826 * mad) THEN 1 ELSE 0 END AS INTEGER) AS is_outlier,
           {R("CASE WHEN abs(v - med) > 3.0 * (1.4826 * mad) THEN med ELSE v END", 6)} AS filtered
    FROM mz
    """,
)
def _q_ts_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMPEL FILTER — the robust despiking standard for sensor
    streams: a centered 7-row window per event type, the window
    MEDIAN as the local level and the window MAD (median absolute
    deviation, ×1.4826 for Gaussian consistency) as the robust sigma;
    a point farther than 3σ̂ from the local median is an outlier and
    is REPLACED by it. The robust sibling of a Bollinger/z-score
    despiker: one spike cannot inflate its own rejection threshold
    the way it inflates a rolling stddev (`ts_mad_outliers` is the
    GLOBAL member; this is the rolling one). Built exactly like
    `f2_rolling_median`: the frame collects into a sorted array once,
    the median AND the MAD (a second sort over the absolute
    deviations from that median — a pure array expression, no second
    window) both come off it, edges shrink naturally. The window keys on (user_id,
    event_type) — per-ENTITY series, so partition count scales with
    the data (a type-keyed window would leave |types| tasks at
    100 TB) and each frame stays O(7). Interpolated (mean-of-middle-pair) medians keep
    both engines on the same rational."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "event_type", "ts", F.col("value").alias("__v"))
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    arr = F.sort_array(F.collect_list("__v").over(w.rowsBetween(-3, 3)))
    fr = ev.select("event_id", "user_id", "event_type", "__v", arr.alias("__arr"))

    def _med(a):
        n = F.size(a)
        lo = F.element_at(a, F.floor((n + F.lit(1)) / F.lit(2)).cast("int"))
        hi = F.element_at(a, F.floor(n / F.lit(2)).cast("int") + F.lit(1))
        return (lo + hi) / F.lit(2.0)

    md = fr.select(
        "event_id", "user_id", "event_type", "__v", "__arr", _med(F.col("__arr")).alias("__med")
    )
    arr2 = F.sort_array(
        F.transform(F.col("__arr"), lambda x: F.abs(x - F.col("__med")))
    )
    mz = md.select(
        "event_id", "user_id", "event_type", "__v", "__med", _med(arr2).alias("__mad")
    )
    hit = F.abs(F.col("__v") - F.col("__med")) > F.lit(3.0) * (
        F.lit(1.4826) * F.col("__mad")
    )
    return mz.select(
        "event_id",
        "user_id",
        "event_type",
        rd(F.col("__med"), 6).alias("med"),
        rd(F.col("__mad"), 6).alias("mad"),
        F.when(hit, 1).otherwise(0).cast("int").alias("is_outlier"),
        rd(F.when(hit, F.col("__med")).otherwise(F.col("__v")), 6).alias("filtered"),
    )


@register("ts_holt_backtest_mase", _holt_backtest_sql())
def _q_ts_holt_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-STEP BACKTEST of the Holt forecaster against the
    random-walk naive — the eval that decides whether
    `ts_holt_forecast` earns its keep on this data (a forecaster that
    loses to "predict the last value" should not ship): per evaluable
    row, |next − ŷ_holt| vs |next − current|, reduced to MAE both
    sides, their MASE-style ratio (<1 = model wins), and the per-row
    win rate. Errors are 6-dp-rounded and decimal-summed
    (order-independent); the forecast is the SAME truncated-exact
    integer convolution the forecast query surfaces, so backtest and
    forecast can never disagree. One user-keyed window pass (the
    convolution + the lead share it), one global agg. 1-row output."""
    from time_series_data_trimmer_spark.operators import timeseries as tso
    from time_series_data_trimmer_spark.sources.events import event_micros

    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        "user_id",
        event_micros(ev).alias("t_us"),
        "event_id",
        "value",
    )
    fc = tso.holt_brown_forecast(
        base, key_col="user_id", value_col="value",
        order_cols=("t_us", "event_id"), depth=_HOLT_D,
    ).select("user_id", "t_us", "event_id", "forecast_next")
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc(), F.col("event_id").asc()
    )
    scaled = F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5)).cast("long")
    nxt = base.select(
        "user_id", "t_us", "event_id",
        F.lead(scaled).over(w).alias("__vnext"),
        scaled.alias("__v"),
    )
    j = nxt.join(fc.hint("shuffle_hash"), ["user_id", "t_us", "event_id"]).filter(
        F.col("forecast_next").isNotNull() & F.col("__vnext").isNotNull()
    )
    em = rd(
        F.abs(F.col("__vnext").cast("double") / F.lit(10000.0) - F.col("forecast_next")),
        6,
    )
    en = rd(
        F.abs(
            F.col("__vnext").cast("double") / F.lit(10000.0)
            - F.col("__v").cast("double") / F.lit(10000.0)
        ),
        6,
    )
    agg = j.select(em.alias("__em"), en.alias("__en")).agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        F.sum(F.col("__em").cast("decimal(38,6)")).cast("double").alias("__sm"),
        F.sum(F.col("__en").cast("decimal(38,6)")).cast("double").alias("__sn"),
        F.sum(F.when(F.col("__em") < F.col("__en"), 1).otherwise(0))
        .cast("long")
        .alias("__wins"),
    )
    return agg.select(
        "n_evals",
        rd(F.col("__sm") / F.col("n_evals"), 6).alias("mae_model"),
        rd(F.col("__sn") / F.col("n_evals"), 6).alias("mae_naive"),
        F.when(F.col("__sn") > 0.0, rd(F.col("__sm") / F.col("__sn"), 6)).alias(
            "mase_vs_naive"
        ),
        rd(F.col("__wins").cast("double") / F.col("n_evals"), 6).alias("win_rate"),
    )


# ---------------------------------------------------------------------------
# r11 wave 2: Ljung-Box whiteness test per event type — "is there any
# autocorrelation left", the formal test next to autocorr's argmax.
# ---------------------------------------------------------------------------

_LB_H = 6


def _lb_ck_sql(k: int) -> str:
    prod = R(f"(__v - __m) * (__v{k} - __m)", 6)
    return (
        f"CAST(sum(CASE WHEN __v{k} IS NOT NULL THEN "
        f"CAST({prod} AS DECIMAL(38,6)) END) AS DOUBLE) AS c{k}"
    )


@register(
    "ts_ljungbox_whiteness",
    f"""
    WITH e AS (
      SELECT event_type, event_id, ts, value, epoch_us(ts) AS us FROM events
    ),
    base AS (
      SELECT event_type, CAST(value AS DOUBLE) AS __v,
             CAST(sum(CAST({R("CAST(value AS DOUBLE)", 6)} AS DECIMAL(38,6)))
                    OVER (PARTITION BY event_type) AS DOUBLE)
               / CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE)
               AS __m,
             {", ".join(f"lead(CAST(value AS DOUBLE), {k}) OVER w AS __v{k}" for k in range(1, _LB_H + 1))}
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
    ),
    agg AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST({R("(__v - __m) * (__v - __m)", 6)}
                  AS DECIMAL(38,6))) AS DOUBLE) AS c0,
             {", ".join(_lb_ck_sql(k) for k in range(1, _LB_H + 1))}
      FROM base GROUP BY event_type
    ),
    rho AS (
      SELECT event_type, n,
             {", ".join(f"{R(f'c{k} / c0', 6)} AS r{k}" for k in range(1, _LB_H + 1))}
      FROM agg
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, r1 AS rho1,
           {R("CAST(n AS DOUBLE) * (n + 2) * CAST(("
              + " + ".join(f"CAST({sql_rd(f'r{k} * r{k} / (n - {k})', 9)} AS DECIMAL(18,9))" for k in range(1, _LB_H + 1))
              + ") AS DOUBLE)", 4)} AS q_stat,
           CAST({_LB_H} AS INTEGER) AS df
    FROM rho
    """,
)
def _q_ts_ljungbox_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau whiteness test per event type (lags
    1-{_LB_H}): Q = n(n+2)·Σ ρ̂²_k/(n−k), the formal "is there ANY
    autocorrelation left" statistic (χ² with {_LB_H} df under the
    white-noise null; Q ≫ 12.6 at α=.05 rejects) — the hypothesis
    -test companion to `autocorr_peak_lag_by_user`'s descriptive
    argmax and the residual-diagnostic the forecast family
    (ts_holt_*, ts_seasonal_*) needs to claim a model captured the
    structure. Exactness discipline is the autocorr family's: type
    mean from a decimal sum of 6-dp values, each lag product
    6-dp-rounded and decimal-summed (c_k over the n−k aligned pairs,
    c_0 over all), ρ_k = one IEEE division rounded to the 6-dp grid,
    Q assembled from 9-dp decimal terms and reported on the 4-dp
    grid. Plan: ONE type-partitioned window pass carries the mean and
    all {_LB_H} leads (shared Exchange), one map-side-combined
    aggregate, |types| output rows. Time-series extension (reference
    repo has no test surface)."""
    from time_series_data_trimmer_spark.sources.events import event_micros

    e = _table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        event_micros(e, "ts").asc(), F.col("event_id").asc()
    )
    wfull = Window.partitionBy("event_type")
    v = F.col("value").cast("double")
    m = (
        F.sum(rd(v, 6).cast("decimal(38,6)")).over(wfull).cast("double")
        / F.count(F.lit(1)).over(wfull).cast("double")
    )
    base = e.select(
        "event_type",
        v.alias("__v"),
        m.alias("__m"),
        *[
            F.lead(v, k).over(w).alias(f"__v{k}")
            for k in range(1, _LB_H + 1)
        ],
    )
    d = F.col("__v") - F.col("__m")
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rd(d * d, 6).cast("decimal(38,6)")).cast("double").alias("c0"),
        *[
            F.sum(
                F.when(
                    F.col(f"__v{k}").isNotNull(),
                    rd(d * (F.col(f"__v{k}") - F.col("__m")), 6).cast(
                        "decimal(38,6)"
                    ),
                )
            )
            .cast("double")
            .alias(f"c{k}")
            for k in range(1, _LB_H + 1)
        ],
    )
    rho = agg.select(
        "event_type",
        "n",
        *[
            rd(F.col(f"c{k}") / F.col("c0"), 6).alias(f"r{k}")
            for k in range(1, _LB_H + 1)
        ],
    )
    qsum = None
    for k in range(1, _LB_H + 1):
        term = rd(
            F.col(f"r{k}") * F.col(f"r{k}") / (F.col("n") - F.lit(k)), 9
        ).cast("decimal(18,9)")
        qsum = term if qsum is None else qsum + term
    return rho.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("r1").alias("rho1"),
        rd(
            F.col("n").cast("double")
            * (F.col("n") + F.lit(2))
            * qsum.cast("double"),
            4,
        ).alias("q_stat"),
        F.lit(_LB_H).cast("int").alias("df"),
    )


@register(
    "ts_mann_kendall_daily_trend",
    f"""
    WITH d AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS s,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    dm AS (
      SELECT event_type, day,
             (s // c) * 1000000 + ((s % c) * 1000000) // c AS mq
      FROM d
    ),
    pr AS (
      SELECT a.event_type,
             CASE WHEN b.mq > a.mq THEN 1
                  WHEN b.mq < a.mq THEN -1 ELSE 0 END AS sg
      FROM dm a JOIN dm b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    sstat AS (
      SELECT event_type, sum(sg) AS s_stat FROM pr GROUP BY event_type
    ),
    ties AS (
      SELECT a.event_type, a.day, count(*) AS e
      FROM dm a JOIN dm b
        ON a.event_type = b.event_type AND b.mq = a.mq
      GROUP BY a.event_type, a.day
    ),
    tt AS (
      SELECT event_type,
             count(*) AS n_days,
             sum((e - 1) * (2 * e + 5)) AS tie_term
      FROM ties GROUP BY event_type
    )
    SELECT t.event_type,
           CAST(t.n_days AS BIGINT) AS n_days,
           CAST(ss.s_stat AS BIGINT) AS s_stat,
           {R("(CAST(t.n_days AS DOUBLE) * (t.n_days - 1) * (2 * t.n_days + 5)"
              " - t.tie_term) / 18.0", 6)} AS var_s,
           CASE WHEN (t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                      - t.tie_term) > 0 THEN
             {R("(CASE WHEN ss.s_stat > 0 THEN ss.s_stat - 1.0"
                "      WHEN ss.s_stat < 0 THEN ss.s_stat + 1.0"
                "      ELSE 0.0 END)"
                " / sqrt((CAST(t.n_days AS DOUBLE) * (t.n_days - 1)"
                "         * (2 * t.n_days + 5) - t.tie_term) / 18.0)", 6)}
           END AS z_mk,
           CASE WHEN (t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                      - t.tie_term) <= 0 THEN 'flat'
                WHEN (CASE WHEN ss.s_stat > 0 THEN ss.s_stat - 1.0
                           WHEN ss.s_stat < 0 THEN ss.s_stat + 1.0
                           ELSE 0.0 END)
                     / sqrt((CAST(t.n_days AS DOUBLE) * (t.n_days - 1)
                             * (2 * t.n_days + 5) - t.tie_term) / 18.0)
                     > 1.959964 THEN 'increasing'
                WHEN (CASE WHEN ss.s_stat > 0 THEN ss.s_stat - 1.0
                           WHEN ss.s_stat < 0 THEN ss.s_stat + 1.0
                           ELSE 0.0 END)
                     / sqrt((CAST(t.n_days AS DOUBLE) * (t.n_days - 1)
                             * (2 * t.n_days + 5) - t.tie_term) / 18.0)
                     < -1.959964 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM tt t JOIN sstat ss ON ss.event_type = t.event_type
    """,
)
def _q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL nonparametric trend test per event_type over the
    daily mean series — the distribution-free complement to the
    Theil-Sen slope (`ts_theilsen_lag_slope` estimates the magnitude,
    MK tests the existence): S = Σ_{{i<j}} sign(m̄_j − m̄_i) with the
    tie-corrected normal approximation
    Var = [n(n−1)(2n+5) − Σ_k t_k(t_k−1)(2t_k+5)]/18 and the
    continuity-corrected z. Engine-exactness choices: daily means
    land on the OVERFLOW-SAFE fixed integer grid
    (s div c)·10⁶ + ((s mod c)·10⁶) div c (the exact-identity split —
    no intermediate exceeds ~10¹⁵ even at 10⁹ rows/day/type, where a
    naive s_j·c_i cross-product would overflow int64 and ANSI Spark
    would throw while DuckDB promoted — same grid as
    `ts_variance_ratio_test`), so sign comparisons and ties are plain
    integer compares; the tie term avoids group-by-equal-mean via the
    identity Σ_k t_k(t_k−1)(2t_k+5) = Σ_i (e_i−1)(2e_i+5) where
    e_i = #days whose grid-mean EQUALS day i's (self-inclusive) —
    per-day tie degrees, no canonical rational key needed. The day-pair join is keyed on
    event_type over the BOUNDED daily table (≤31 rows/type at any
    corpus size — the pair space is calendar-bounded, not
    corpus-bounded), so the op costs one events scan + one tiny keyed
    self-join at 100 TB."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    us = event_micros(ev)
    d = (
        ev.select(
            "event_type",
            (us / F.lit(86400000000)).cast("long").alias("day"),
            F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5))
            .cast("long")
            .alias("__vq"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("__vq").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    dm = d.select(
        "event_type",
        "day",
        F.expr(
            "(s div c) * 1000000 + (pmod(s, c) * 1000000) div c"
        ).alias("mq"),
    )
    a = dm.select(
        F.col("event_type"),
        F.col("day").alias("__da"),
        F.col("mq").alias("__ma"),
    )
    b = dm.select(
        F.col("event_type"),
        F.col("day").alias("__db"),
        F.col("mq").alias("__mb"),
    )
    lhs = F.col("__mb")
    rhs = F.col("__ma")
    pr = a.join(b.hint("shuffle_hash"), "event_type").filter(
        F.col("__da") < F.col("__db")
    )
    sstat = pr.groupBy("event_type").agg(
        F.sum(
            F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0)
        ).alias("s_stat")
    )
    ties = (
        a.join(b.hint("shuffle_hash"), "event_type")
        .filter(lhs == rhs)
        .groupBy("event_type", "__da")
        .agg(F.count(F.lit(1)).alias("__e"))
    )
    tt = ties.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum((F.col("__e") - 1) * (2 * F.col("__e") + 5)).alias("__tt"),
    )
    j = tt.join(sstat.hint("shuffle_hash"), "event_type")
    nvar = (
        F.col("n_days").cast("double")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("__tt")
    ) / F.lit(18.0)
    ivar = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("__tt")
    )
    numer = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - F.lit(1.0))
        .when(F.col("s_stat") < 0, F.col("s_stat") + F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    z = numer / F.sqrt(nvar)
    return j.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("s_stat").cast("long").alias("s_stat"),
        rd(nvar, 6).alias("var_s"),
        F.when(ivar > 0, rd(z, 6)).alias("z_mk"),
        F.when(ivar <= 0, F.lit("flat"))
        .when(z > F.lit(1.959964), F.lit("increasing"))
        .when(z < F.lit(-1.959964), F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
    )


_VR_Q = 5


@register(
    "ts_variance_ratio_test",
    f"""
    WITH d AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS s,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    m AS (
      -- overflow-safe fixed-grid mean: (s*10^6) div c via the exact
      -- identity (s div c)*10^6 + ((s mod c)*10^6) div c, so no
      -- intermediate exceeds ~10^15 even at 10^9 rows/day/type
      SELECT event_type, day,
             (s // c) * 1000000 + ((s % c) * 1000000) // c AS mq
      FROM d
    ),
    r AS (
      SELECT event_type,
             mq - lag(mq) OVER (PARTITION BY event_type ORDER BY day)
               AS r1,
             mq - lag(mq, {_VR_Q}) OVER (PARTITION BY event_type
                                         ORDER BY day) AS rq
      FROM m
    ),
    v1 AS (
      SELECT event_type, count(*) AS n1,
             sum(r1) AS sr, sum(CAST(r1 AS DECIMAL(38,0)) * r1) AS srr
      FROM r WHERE r1 IS NOT NULL GROUP BY event_type
    ),
    vq AS (
      SELECT event_type, count(*) AS nq,
             sum(rq) AS sq, sum(CAST(rq AS DECIMAL(38,0)) * rq) AS sqq
      FROM r WHERE rq IS NOT NULL GROUP BY event_type
    )
    SELECT v1.event_type,
           CAST(v1.n1 AS BIGINT) AS n_returns,
           {R("(CAST(vq.sqq AS DOUBLE) / vq.nq"
              " - (CAST(vq.sq AS DOUBLE) / vq.nq)"
              " * (CAST(vq.sq AS DOUBLE) / vq.nq))"
              f" / ({_VR_Q}.0 * (CAST(v1.srr AS DOUBLE) / v1.n1"
              " - (CAST(v1.sr AS DOUBLE) / v1.n1)"
              " * (CAST(v1.sr AS DOUBLE) / v1.n1)))", 6)} AS vr,
           {R("((CAST(vq.sqq AS DOUBLE) / vq.nq"
              " - (CAST(vq.sq AS DOUBLE) / vq.nq)"
              " * (CAST(vq.sq AS DOUBLE) / vq.nq))"
              f" / ({_VR_Q}.0 * (CAST(v1.srr AS DOUBLE) / v1.n1"
              " - (CAST(v1.sr AS DOUBLE) / v1.n1)"
              " * (CAST(v1.sr AS DOUBLE) / v1.n1))) - 1.0)"
              f" * sqrt(3.0 * v1.n1 * {_VR_Q}.0"
              f" / (2.0 * (2.0 * {_VR_Q} - 1.0) * ({_VR_Q} - 1.0)))", 6)}
             AS z_vr
    FROM v1 JOIN vq ON vq.event_type = v1.event_type
    """,
)
def _q_ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LO-MACKINLAY VARIANCE-RATIO random-walk test per event_type on
    the daily-mean series: VR(q) = Var(q-day change)/(q·Var(1-day
    change)); under a random walk VR = 1, mean reversion pulls it
    below, trending/momentum above — the standard pre-model test for
    "is there exploitable serial structure in this metric at horizon
    q={_VR_Q}, or is tracking it day-by-day just noise?" (complements
    `ts_ljungbox_whiteness`: Ljung-Box asks "any autocorrelation at
    all", VR asks the horizon-q aggregation question forecasters
    actually face). z is the homoskedastic asymptotic statistic.
    Engine exactness: daily means land on a fixed integer grid
    ((s·10⁶) div c — non-negative operands so Spark DIV and DuckDB //
    agree), both variance legs come from exact integer/decimal power
    sums, and only the final ratio/z are doubles (rd-6). The lag
    windows are event_type-keyed over the calendar-bounded daily
    table — constant-size state at any corpus scale."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    us = event_micros(ev)
    d = (
        ev.select(
            "event_type",
            (us / F.lit(86400000000)).cast("long").alias("day"),
            F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5))
            .cast("long")
            .alias("__vq"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("__vq").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    m = d.select(
        "event_type",
        "day",
        F.expr(
            "(s div c) * 1000000 + (pmod(s, c) * 1000000) div c"
        ).alias("mq"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
    r = m.select(
        "event_type",
        (F.col("mq") - F.lag("mq", 1).over(w)).alias("r1"),
        (F.col("mq") - F.lag("mq", _VR_Q).over(w)).alias("rq"),
    )
    v1 = (
        r.filter(F.col("r1").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum("r1").alias("sr"),
            F.sum(F.col("r1").cast("decimal(38,0)") * F.col("r1")).alias(
                "srr"
            ),
        )
    )
    vq = (
        r.filter(F.col("rq").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("nq"),
            F.sum("rq").alias("sq"),
            F.sum(F.col("rq").cast("decimal(38,0)") * F.col("rq")).alias(
                "sqq"
            ),
        )
    )
    j = v1.join(vq.hint("shuffle_hash"), "event_type")
    mean1 = F.col("sr").cast("double") / F.col("n1")
    var1 = F.col("srr").cast("double") / F.col("n1") - mean1 * mean1
    meanq = F.col("sq").cast("double") / F.col("nq")
    varq = F.col("sqq").cast("double") / F.col("nq") - meanq * meanq
    vr = varq / (F.lit(float(_VR_Q)) * var1)
    zf = F.sqrt(
        F.lit(3.0)
        * F.col("n1")
        * F.lit(float(_VR_Q))
        / F.lit(2.0 * (2.0 * _VR_Q - 1.0) * (_VR_Q - 1.0))
    )
    return j.select(
        "event_type",
        F.col("n1").cast("long").alias("n_returns"),
        rd(vr, 6).alias("vr"),
        rd((vr - F.lit(1.0)) * zf, 6).alias("z_vr"),
    )


_ATTR_WINDOWS_S = (600, 3600, 21600, 86400)


@register(
    "funnel_attribution_window_sweep",
    f"""
    WITH v AS (
      SELECT user_id, event_id, epoch(ts) AS t
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, epoch(ts) AS pt FROM events
      WHERE event_type = 'purchase' GROUP BY user_id, epoch(ts)
    ),
    vp AS (
      SELECT v.user_id, v.t, p.pt
      FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.t <= p.pt
    ),
    w AS (SELECT unnest([{", ".join(str(w) for w in _ATTR_WINDOWS_S)}])
            AS win_s)
    SELECT CAST(w.win_s AS BIGINT) AS window_s,
           CAST(count(vp.t) AS BIGINT) AS n_clicks,
           CAST(count(CASE WHEN vp.pt - vp.t <= w.win_s THEN 1 END)
                AS BIGINT) AS n_converted,
           {R("CAST(count(CASE WHEN vp.pt - vp.t <= w.win_s THEN 1 END)"
              " AS DOUBLE) / count(vp.t)", 6)} AS conversion_rate,
           {R("quantile_cont(CASE WHEN vp.pt - vp.t <= w.win_s"
              " THEN vp.pt - vp.t END, 0.5)", 6)} AS p50_latency_s
    FROM w CROSS JOIN vp
    GROUP BY w.win_s
    """,
)
def _q_funnel_attribution_window_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ATTRIBUTION-WINDOW sensitivity sweep — the number every
    conversion metric silently depends on: click→purchase conversion
    rate and median latency at 10 min / 1 h / 6 h / 24 h windows,
    from ONE as-of join (the window is applied as a post-filter on
    the matched latency, so sweeping N windows costs N aggregate rows,
    not N joins — the reason to prefer as-of over a per-window range
    join, which would re-scan per window and degrade with window
    width). A rate that keeps climbing at 24 h means the attribution
    window is load-bearing and any A/B readout using a shorter one
    undercounts; a flat curve past 1 h says the metric is
    window-robust. Oracle: one native DuckDB ASOF LEFT JOIN × the
    same window constants."""
    ev = _events(spark, sf_dir)
    hops = edits.funnel(ev, ["click", "purchase"], [float(2**40)])
    lat = hops.select(
        F.col("t_0").alias("t"), (F.col("t_1") - F.col("t_0")).alias("dt")
    )
    w = F.explode(
        F.array(*[F.lit(int(x)) for x in _ATTR_WINDOWS_S])
    ).alias("window_s")
    sw = lat.select("t", "dt", w)
    conv = F.count(
        F.when(F.col("dt").isNotNull() & (F.col("dt") <= F.col("window_s")), 1)
    )
    within = F.when(
        F.col("dt").isNotNull() & (F.col("dt") <= F.col("window_s")),
        F.col("dt"),
    )
    return sw.groupBy("window_s").agg(
        F.count("t").cast("long").alias("n_clicks"),
        conv.cast("long").alias("n_converted"),
        rd(conv.cast("double") / F.count("t"), 6).alias("conversion_rate"),
        rd(F.percentile(within, F.lit(0.5)), 6).alias("p50_latency_s"),
    ).select(
        F.col("window_s").cast("long").alias("window_s"),
        "n_clicks",
        "n_converted",
        "conversion_rate",
        "p50_latency_s",
    )


@register(
    "seq_markov_order_test",
    f"""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS us, event_id
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type AS a,
             lead(event_type, 1) OVER w AS b,
             lead(event_type, 2) OVER w AS c
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    tri AS (
      SELECT a, b, c, count(*) AS n_abc
      FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
      GROUP BY a, b, c
    ),
    ab AS (SELECT a, b, sum(n_abc) AS n_ab FROM tri GROUP BY a, b),
    bc AS (SELECT b, c, sum(n_abc) AS n_bc FROM tri GROUP BY b, c),
    bb AS (SELECT b, sum(n_abc) AS n_b FROM tri GROUP BY b),
    g AS (
      SELECT CAST(sum(CAST({R("2.0 * t.n_abc * ln((CAST(t.n_abc AS DOUBLE)"
             " * bb.n_b) / (CAST(ab.n_ab AS DOUBLE) * bc.n_bc))", 9)}
             AS DECIMAL(38,9))) AS DOUBLE) AS g2,
             count(*) AS n_cells,
             sum(t.n_abc) AS n_triples
      FROM tri t
      JOIN ab ON ab.a = t.a AND ab.b = t.b
      JOIN bc ON bc.b = t.b AND bc.c = t.c
      JOIN bb ON bb.b = t.b
    ),
    k AS (SELECT count(DISTINCT b) AS k FROM tri)
    SELECT CAST(g.n_triples AS BIGINT) AS n_triples,
           CAST(g.n_cells AS BIGINT) AS n_observed_cells,
           {R("g.g2", 6)} AS g2_stat,
           CAST(k.k * (k.k - 1) * (k.k - 1) AS BIGINT) AS df,
           g.g2 > 124.342 AS second_order_significant
    FROM g CROSS JOIN k
    """,
)
def _q_seq_markov_order_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV ORDER-SELECTION test for the event-type process — the
    model-validation gate for everything the markov family computes
    (stationary distribution, entropy rate, removal-effect
    attribution ALL assume first-order memory): the G² likelihood-
    ratio of second-order vs first-order transitions,
    G² = 2 Σ_abc n_abc·ln(n_abc·n_b / (n_ab·n_bc)), asymptotically
    χ²(k(k−1)²) under the first-order null (124.342 = χ²₀.₉₅ at
    k=5 → df=80 for this corpus's 5 types; df is emitted so other
    corpora re-derive their own threshold). If this flags, the
    first-order chain underfits and attribution numbers inherit the
    bias — the query exists so that assumption is MEASURED, not
    hoped. Plan: one user-keyed lead window → (a,b,c) counts (k³
    bounded) → three bounded joins; the G² sum rides the rd-9 →
    decimal idiom over ≤k³ cells. One scan at any scale."""
    ev = _events(spark, sf_dir)
    us = event_micros(ev)
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    tri = (
        seq.filter(F.col("b").isNotNull() & F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n_abc"))
    )
    ab = tri.groupBy("a", "b").agg(F.sum("n_abc").alias("n_ab"))
    bc = tri.groupBy("b", "c").agg(F.sum("n_abc").alias("n_bc"))
    bb = tri.groupBy("b").agg(F.sum("n_abc").alias("n_b"))
    term = rd(
        F.lit(2.0)
        * F.col("n_abc")
        * F.log(
            (F.col("n_abc").cast("double") * F.col("n_b"))
            / (F.col("n_ab").cast("double") * F.col("n_bc"))
        ),
        9,
    )
    g = (
        tri.join(ab.hint("shuffle_hash"), ["a", "b"])
        .join(bc.hint("shuffle_hash"), ["b", "c"])
        .join(bb.hint("shuffle_hash"), "b")
        .agg(
            F.sum(term.cast("decimal(38,9)")).cast("double").alias("g2"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_abc").alias("n_triples"),
        )
    )
    k = tri.agg(F.countDistinct("b").alias("k"))
    return g.crossJoin(F.broadcast(k)).select(
        F.col("n_triples").cast("long").alias("n_triples"),
        F.col("n_cells").cast("long").alias("n_observed_cells"),
        rd(F.col("g2"), 6).alias("g2_stat"),
        (F.col("k") * (F.col("k") - 1) * (F.col("k") - 1))
        .cast("long")
        .alias("df"),
        (F.col("g2") > F.lit(124.342)).alias("second_order_significant"),
    )
