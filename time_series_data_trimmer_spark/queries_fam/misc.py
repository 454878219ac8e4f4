"""Misc-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "topk_orders_by_price",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def _q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TakeOrdered physical op: per-partition partial top-k, only k rows
    # per partition reach the driver-side merge — no global sort.
    return (
        _table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@register(
    "multimodal_fake_features",
    f"""
    WITH h AS (SELECT doc_id AS asset_id, md5(text) AS h1 FROM documents),
    hh AS (
      SELECT asset_id, h1, md5(h1) AS h2, md5(md5(h1)) AS h3, md5(md5(md5(h1))) AS h4
      FROM h
    )
    SELECT asset_id, {_MM_FEATS} FROM hh
    """,
)
def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal mapInPandas plumbing through the exact-value gate:
    documents' text bytes become binary payloads, the (fake, md5-seeded)
    decoder emits 16 features per asset inside an Arrow batch stream,
    and the oracle reproduces the iterated-digest features in SQL —
    payload bytes never shuffle (output schema is id + features only).
    The real-codec path keeps its documented NotImplementedError site."""
    from time_series_data_trimmer_spark.operators.multimodal import extract_features

    assets = _table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_features(assets, id_col="asset_id")
    return feats.select(
        "asset_id",
        *[F.element_at(F.col("features"), k + 1).alias(f"f{k}") for k in range(16)],
    )


@register(
    "f1_time_window_mean",
    f"""
    SELECT user_id, event_id,
           {R("CAST(sum(CAST(" + sql_rd("value", 2) + " AS DECIMAL(38,6))) OVER w AS DOUBLE)"
              " / CAST(count(*) OVER w AS DOUBLE)", 6)} AS tw_mean
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 2500000 PRECEDING AND 2500000 FOLLOWING
    )
    """,
)
def _q_time_window_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based rolling mean: a RANGE window frame over the time axis
    (±2.5 s of each sample) — the frame family the sample-count rolling
    ops (F1/F2/F11, ROW frames) cannot express when sampling is
    irregular. The order key is INTEGER epoch-microseconds (Spark's
    rangeBetween takes long offsets; micros are exact in both engines),
    frame = ±2,500,000 µs. Same single (user)-keyed Exchange + sort as
    the row-frame family; the frame bound is a value offset evaluated
    inside WindowExec, no extra pass. Decimal-accumulated sum / integer
    count so the mean is order-independent; identical-µs rows are
    RANGE-peers in both engines, making ties well-defined."""
    from time_series_data_trimmer_spark.sources.events import event_micros

    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev = df.withColumn("t_us", event_micros(df))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_us"))
        .rangeBetween(-2_500_000, 2_500_000)
    )
    s = F.sum(rd(F.col("value"), 2).cast("decimal(38,6)")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    return ev.select(
        "user_id", "event_id", rd(s / n, 6).alias("tw_mean")
    )


@register(
    "cdc_latest_event_per_user_type",
    f"""
    SELECT user_id, event_type, event_id, value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def _q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC/log-compaction dedup: keep the newest record per key — the
    # standard keep-latest operator for incremental training-data feeds.
    # max_by over a composite key would also work; row_number keeps the
    # full row without struct packing.
    df = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


@register(
    "distinct_event_types_per_user",
    """
    SELECT user_id,
           count(DISTINCT event_type) AS n_types,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def _q_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    return df.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "rollup_lineitem_status",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           {_sql_dsum("l_quantity", 2)} AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hierarchical totals in one pass (partial-agg friendly; Spark plans
    # rollup as Expand + single aggregation, not N scans)
    l = _table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(_dsum(F.col("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "pivot_returnflag_by_status",
    f"""
    SELECT l_returnflag AS returnflag,
           {_sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE NULL END", 2)} AS qty_o,
           {_sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE NULL END", 2)} AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pivot compiles to the same conditional-aggregate shape as the
    # portable CASE form in the oracle
    l = _table(spark, sf_dir, "lineitem")
    return (
        l.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            _dsum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")), 2).alias("qty_o"),
            _dsum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")), 2).alias("qty_f"),
        )
    )


@register(
    "a1_sample_rate_sketch",
    f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
    ),
    d AS (
      SELECT user_id, event_id,
             t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS dt
      FROM e
    ),
    pos AS (SELECT user_id, event_id, CAST(dt AS DOUBLE) AS dt FROM d WHERE dt > 0),
    h AS (
      SELECT user_id AS g, {sp.sql_hash_u32("event_id", _QSK_SEED)} AS u, dt AS v
      FROM pos
    ),
    regs AS (
      SELECT g, u, v FROM h
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY u ASC, v ASC) <= 32
    ),
    ranked AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v ASC, u ASC) AS vr,
             count(*) OVER (PARTITION BY g) AS n_kept
      FROM regs
    ),
    est AS (
      SELECT g, n_kept, v AS dt_med_est
      FROM ranked
      WHERE vr = greatest(1, CAST(ceil(0.5 * CAST(n_kept AS DOUBLE)) AS BIGINT))
    ),
    exact AS (SELECT user_id AS g, median(dt) AS dt_med FROM pos GROUP BY user_id)
    SELECT e.g AS user_id, e.n_kept,
           {sql_rd("1000000.0 / e.dt_med_est", 2)} AS rate_sketch,
           {sql_rd("1000000.0 / x.dt_med", 2)} AS rate_exact,
           {sql_rd("abs(e.dt_med_est - x.dt_med) / x.dt_med", 6)} AS dt_rel_err
    FROM est e JOIN exact x ON e.g = x.g
    """,
)
def _q_a1_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sample-rate inference (A1, data_model.py:116-126
    — the VERDICT r6 anchor for "the operation that stops scaling
    first") re-based on the mergeable quantile sketch: per-trial
    median inter-sample gap from ≤ k bottom-k registers instead of an
    exact full-sort percentile, exact rate alongside for audit. At
    100 TB the registers come from per-day sketch merges, never a
    corpus rescan; at test scale the relative error column shows what
    k=32 buys. Same one-Exchange register chain as
    `sketch_quantile_value_by_user`."""
    ev = _table(spark, sf_dir, "events")
    us = event_micros(ev)
    w = Window.partitionBy("user_id").orderBy(F.col("t_us").asc(), F.col("event_id").asc())
    d = ev.select("user_id", "event_id", us.alias("t_us")).withColumn(
        "dt", F.col("t_us") - F.lag("t_us").over(w)
    )
    pos = d.filter(F.col("dt") > 0).select(
        "user_id", "event_id", F.col("dt").cast("double").alias("dt")
    )
    regs = sk.quantile_sketch_registers(
        pos, "user_id", "dt", "event_id", k=_QSK_K, seed=_QSK_SEED
    )
    est = sk.quantile_sketch_estimate(regs, [0.5], group_col="g").select(
        "g", "n_kept", F.col("q_est").alias("dt_med_est")
    )
    exact = pos.groupBy(F.col("user_id").alias("g")).agg(
        F.median("dt").alias("dt_med")
    )
    out = est.join(exact.hint("shuffle_hash"), "g")
    return out.select(
        F.col("g").alias("user_id"),
        "n_kept",
        rd(F.lit(1_000_000.0) / F.col("dt_med_est"), 2).alias("rate_sketch"),
        rd(F.lit(1_000_000.0) / F.col("dt_med"), 2).alias("rate_exact"),
        rd(F.abs(F.col("dt_med_est") - F.col("dt_med")) / F.col("dt_med"), 6).alias(
            "dt_rel_err"
        ),
    )


@register(
    "cohort_retention",
    """
    WITH uw AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS w
      FROM events
    ),
    f AS (SELECT u, min(w) AS cw FROM uw GROUP BY u),
    sizes AS (SELECT cw, count(*) AS cohort_size FROM f GROUP BY cw),
    cells AS (
      SELECT f.cw, uw.w, count(*) AS n_active
      FROM uw JOIN f USING (u) GROUP BY f.cw, uw.w
    )
    SELECT cells.cw AS cohort_week,
           cells.w - cells.cw AS week_offset,
           n_active, cohort_size,
           CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retained_frac
    FROM cells JOIN sizes ON cells.cw = sizes.cw
    """,
)
def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle (`ag.cohort_retention`): users
    bucketed by first-seen epoch-week; per (cohort, offset) the active
    count and retained fraction. Integer epoch-week math, narrow
    distinct (user, week) pairs, bounded cohort-size broadcast."""
    return ag.cohort_retention(_table(spark, sf_dir, "events"))


@register(
    "overlap_join_user_sessions",
    """
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
      SELECT a.user_id AS ua, b.user_id AS ub,
             least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us) AS ov
      FROM sess a JOIN sess b
        ON a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.user_id < b.user_id
    )
    SELECT ua AS user_a, ub AS user_b,
           count(*) AS n_overlapping_sessions,
           CAST(sum(ov) AS BIGINT) AS total_overlap_us
    FROM p GROUP BY ua, ub
    """,
)
def _q_overlap_join_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user session concurrency matrix via the bucket-blocked
    interval-overlap join (`iv.overlap_join`): sessionize each user's
    events (30-min gap), then find every overlapping session pair
    between DIFFERENT users and aggregate per user pair. The naive
    form of this join is a BroadcastNestedLoopJoin (no equi-key);
    the operator's bucket explode turns it into ONE shuffle-hash
    equi-join with an exact-predicate filter — the production
    range-join shape. Output is bounded by |user pairs| at any scale.
    The oracle runs the naive quadratic join (DuckDB plans it as an
    IEJoin) — same pairs, proving the bucket blocking lossless.

    r7: the bucket is DERIVED (`iv.auto_bucket_us` = guarded median
    interval length): candidate volume 3.77M vs 13.05M with the fixed
    1-hour bucket at sf0.1 (3.5× fewer; 0.38B vs 1.31B at 10×) —
    results bucket-invariant, pytest-pinned (SCALING.md §r7)."""
    sess = ag.sessionize_user_events(_table(spark, sf_dir, "events"), gap_minutes=30)
    ivl = sess.select(
        "user_id",
        "session_idx",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )
    pairs = iv.overlap_join(ivl, ivl, bucket_us="auto").filter(
        F.col("user_id_a") < F.col("user_id_b")
    )
    return pairs.groupBy(
        F.col("user_id_a").alias("user_a"), F.col("user_id_b").alias("user_b")
    ).agg(
        F.count(F.lit(1)).alias("n_overlapping_sessions"),
        F.sum("overlap_us").alias("total_overlap_us"),
    )


# ---------------------------------------------------------------------------
# SCD2 state history + time-weighted average (window classics)
# ---------------------------------------------------------------------------


@register(
    "scd2_user_state_history",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type FROM events
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
      SELECT user_id, version,
             min(event_type) AS event_type,
             min(t_us) AS valid_from_us,
             count(*) AS n_events
      FROM v GROUP BY user_id, version
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           valid_from_us,
           lead(valid_from_us) OVER wv AS valid_to_us,
           lead(valid_from_us) OVER wv IS NULL AS is_current,
           CAST(n_events AS BIGINT) AS n_events
    FROM g WINDOW wv AS (PARTITION BY user_id ORDER BY version)
    """,
)
def _q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: compress each
    user's event stream into state-change runs (consecutive same
    event_type collapse) and emit validity intervals — valid_from /
    valid_to (null = current) / is_current — the batch upsert-history
    complement to `cdc_latest_event_per_user_type`'s keep-latest
    compaction.

    Plan: lag + running sum share ONE (user, t, id) window pass, the
    run-collapse is a map-side-combinable agg on the same key, and the
    valid_to lead runs over the already-collapsed version table (rows
    = state changes, not events). Everything is user-keyed — no global
    sort; the history table this builds is exactly the as-of-joinable
    dimension shape (`p7_asof_lookup` consumes such intervals)."""
    e = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc(), F.col("event_id").asc()
    )
    chg = F.when(
        F.lag("event_type", 1).over(w).isNull()
        | (F.lag("event_type", 1).over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    v = e.select(
        "user_id", "t_us", "event_id", "event_type", chg.alias("__chg")
    ).withColumn(
        "version",
        F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = v.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),
        F.min("t_us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy(F.col("version").asc())
    nxt = F.lead("valid_from_us", 1).over(wv)
    return g.select(
        "user_id",
        F.col("version").cast("long").alias("version"),
        "event_type",
        "valid_from_us",
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
        F.col("n_events").cast("long").alias("n_events"),
    )


@register(
    "twap_value_by_user_hour",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4
      FROM events
    ),
    d AS (
      SELECT user_id, t_us, v4,
             lead(t_us) OVER (
               PARTITION BY user_id ORDER BY t_us, event_id
             ) - t_us AS dur
      FROM e
    )
    SELECT user_id,
           t_us - (t_us % {_TWAP_HOUR_US}) AS hour_us,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(dur) AS BIGINT) AS held_us,
           {R("CAST(sum(CAST(v4 AS DECIMAL(38,0)) * dur) AS DOUBLE) / (CAST(sum(dur) AS DOUBLE) * 10000.0)", 6)} AS twap
    FROM d
    WHERE dur IS NOT NULL AND dur > 0
    GROUP BY user_id, hour_us
    """,
)
def _q_twap_by_user_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (user, hour): each sample is
    weighted by how long it was the CURRENT value (duration to the
    next sample — the held interval), the standard TWAP/position-
    weighting that plain AVG gets wrong on irregular sampling.

    Integer-exact inside: value scaled to int(4 dp), the held
    duration is integer micros, and Σ v4·dur accumulates in
    DECIMAL(38,0) (a year-held 10³-magnitude value is ~10²¹ — past
    bigint, Spark non-ANSI would wrap silently); ONE double division
    at the end, then the shared rounding grid. Plan: one user-keyed
    window for the lead, one (user, hour) aggregation — attribution
    is to the hour the sample STARTED in (no interval splitting;
    the split variant is `iv.coverage_sweep`'s job)."""
    e = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc(), F.col("event_id").asc()
    )
    from time_series_data_trimmer_spark.operators.timeseries import _scaled_int

    d = e.select(
        "user_id",
        "t_us",
        _scaled_int(F.col("value")).alias("__v4"),
        (F.lead("t_us", 1).over(w) - F.col("t_us")).alias("__dur"),
    ).filter(F.col("__dur").isNotNull() & (F.col("__dur") > 0))
    return (
        d.groupBy(
            "user_id",
            (F.col("t_us") - F.col("t_us") % F.lit(_TWAP_HOUR_US)).alias("hour_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("__dur").alias("__held"),
            F.sum(F.col("__v4").cast("decimal(38,0)") * F.col("__dur")).alias("__num"),
        )
        .select(
            "user_id",
            "hour_us",
            F.col("n_samples").cast("long").alias("n_samples"),
            F.col("__held").cast("long").alias("held_us"),
            rd(
                F.col("__num").cast("double")
                / (F.col("__held").cast("double") * F.lit(1e4)),
                6,
            ).alias("twap"),
        )
    )


@register(
    "export_manifest_shards",
    f"""
    WITH h AS (
      SELECT ({sp.sql_hash_u32("doc_id", "tsdt|shard")}) % {_EXPORT_SHARDS}
               AS shard,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             {sp.sql_hash_u32(
                 "concat_ws('|', CAST(doc_id AS VARCHAR), coalesce(text, ''),"
                 " coalesce(lang, ''), CAST(n_chars AS VARCHAR))",
                 'tsdt|fp')} AS u
      FROM documents
    )
    SELECT CAST(shard AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(u AS DECIMAL(38,0))) % 1000000000000000000 AS BIGINT)
             AS content_sum_mod,
           min(u) AS content_min, max(u) AS content_max
    FROM h GROUP BY shard
    """,
)
def _q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPORT MANIFEST for a sharded corpus handoff: per hash shard
    (the deterministic md5 shard every doc would be written to), the
    doc count, token count, and the order-insensitive content
    fingerprint — the receiving side recomputes this table on what
    arrived and diffs {_EXPORT_SHARDS} rows to localize any dropped /
    duplicated / corrupted shard WITHOUT re-reading the healthy ones
    (the `dq_content_fingerprint` reconciliation made shard-local, the
    integrity contract a 100 TB handoff signs). One scan, map-side-
    combined aggregation."""
    docs = _table(spark, sf_dir, "documents")
    row_repr = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
        F.col("n_chars").cast("string"),
    )
    h = docs.select(
        (sp.hash_u32(F.col("doc_id"), "tsdt|shard") % _EXPORT_SHARDS)
        .cast("int")
        .alias("shard"),
        tx.token_count(F.col("text")).cast("long").alias("__nt"),
        sp.hash_u32(row_repr, "tsdt|fp").alias("__u"),
    )
    return h.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("n_tokens"),
        (
            F.sum(F.col("__u").cast("decimal(38,0)"))
            % F.lit(1000000000000000000).cast("decimal(38,0)")
        )
        .cast("long")
        .alias("content_sum_mod"),
        F.min("__u").alias("content_min"),
        F.max("__u").alias("content_max"),
    )


@register(
    "linkage_golden_record",
    f"""
    WITH RECURSIVE {_LINKAGE_SCORED_SQL},
    me AS (
      SELECT id_a, id_b FROM scored WHERE score >= 8
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM me
      UNION
      SELECT id_b AS src, id_a AS dst FROM me
    ),
    reach(src, dst) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
    ),
    lbl AS (
      SELECT src AS doc_id, min(dst) AS entity_id FROM reach GROUP BY src
    ),
    g AS (
      SELECT l.entity_id, count(*) AS n_members,
             min(d.n_chars) AS min_n_chars, max(d.n_chars) AS max_n_chars
      FROM lbl l JOIN documents d ON d.doc_id = l.doc_id
      GROUP BY l.entity_id
    )
    SELECT g.entity_id, CAST(g.n_members AS BIGINT) AS n_members,
           dc.lang AS canonical_lang, dc.source AS canonical_source,
           g.min_n_chars, g.max_n_chars
    FROM g JOIN documents dc ON dc.doc_id = g.entity_id
    """,
)
def _q_linkage_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END of the linkage pipeline: transitive
    closure over the Fellegi-Sunter 'match' pairs (same factored
    candidate chain as `dedup_linkage_scores` — `_LINKAGE_SCORED_SQL`)
    into entities, then one GOLDEN RECORD per multi-member entity:
    entity_id = min member id, member count, the canonical (min-id)
    member's attributes, and the member size span. This is the
    master-data rollup a dedup decision feeds — pairwise scores alone
    can't be acted on until transitivity is resolved (A~B, B~C ⇒ one
    entity even when A,C never paired). Closure via the same
    min-label propagation + pointer-jumping as `dedup_clusters`
    (O(log n) rounds, (id,label) longs only); the oracle replays it
    with a recursive CTE. Canonical attributes come from ONE
    doc_id-keyed join against the entity id — no per-entity text ever
    shuffles."""
    docs = _table(spark, sf_dir, "documents")
    match_pairs = dd.linkage_scores(docs).filter(
        F.col("link_class") == "match"
    ).select("id_a", "id_b")
    lbl = dd.connected_components(match_pairs)
    g = (
        lbl.join(
            docs.select(F.col("doc_id"), F.col("n_chars")).hint("shuffle_hash"),
            "doc_id",
        )
        .groupBy(F.col("cluster_id").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("n_chars").alias("min_n_chars"),
            F.max("n_chars").alias("max_n_chars"),
        )
    )
    canon = docs.select(
        F.col("doc_id").alias("entity_id"),
        F.col("lang").alias("canonical_lang"),
        F.col("source").alias("canonical_source"),
    )
    return g.join(canon.hint("shuffle_hash"), "entity_id").select(
        "entity_id",
        "n_members",
        "canonical_lang",
        "canonical_source",
        "min_n_chars",
        "max_n_chars",
    )


@register(
    "orders_basket_lift_pairs",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem
    ),
    nord AS (SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS n FROM items),
    cnt AS (SELECT pk, count(*) AS c FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_pair
      FROM items a JOIN items b
        ON a.okey = b.okey AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    scored AS (
      SELECT p.part_a, p.part_b, p.n_pair,
             {R("CAST(p.n_pair AS DOUBLE) / nord.n", 6)} AS support,
             {R("CAST(p.n_pair AS DOUBLE) / ca.c", 6)} AS conf_a_b,
             {R("CAST(p.n_pair AS DOUBLE) / cb.c", 6)} AS conf_b_a,
             {R("(nord.n * p.n_pair) / (CAST(ca.c AS DOUBLE) * cb.c)", 6)} AS lift
      FROM pairs p
      JOIN cnt ca ON ca.pk = p.part_a
      JOIN cnt cb ON cb.pk = p.part_b
      CROSS JOIN nord
      WHERE p.n_pair >= 3
    )
    SELECT * FROM scored
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
)
def _q_orders_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules over order line items:
    support / directed confidence / lift per co-purchased part pair,
    top-20 by lift (min support 3 orders) — the classic retail
    analytics workload (Agrawal-Srikant Apriori at the pair level),
    and the relational sibling of `coengagement_type_pairs` (events)
    and `text_cooc_lift_pairs` (tokens). SCALE SHAPE is the whole
    point: pairs come from a basket-keyed self-join, and TPC-H
    baskets are ≤7 items, so the fan-out is ≤21 pairs per order —
    bounded by the BASKET size law, never by part popularity (the
    same bounded-pair-generator discipline as the dedup family,
    PLANS.md invariant 6); part marginals join keyed, the order
    count is the 1-row broadcast, the cut is TakeOrdered. Exact
    integer counts; four 6-dp ratios on top."""
    li = _table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("__okey"), F.col("l_partkey").alias("__pk")
    ).distinct()
    nord = items.agg(
        F.count_distinct(F.col("__okey")).cast("double").alias("__n")
    )
    cnt = items.groupBy("__pk").agg(F.count(F.lit(1)).alias("__c"))
    a = items.select(F.col("__okey"), F.col("__pk").alias("part_a"))
    b = items.select(F.col("__okey"), F.col("__pk").alias("part_b"))
    pairs = (
        a.join(b.hint("shuffle_hash"), "__okey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    ca = cnt.select(F.col("__pk").alias("part_a"), F.col("__c").alias("__ca"))
    cb = cnt.select(F.col("__pk").alias("part_b"), F.col("__c").alias("__cb"))
    scored = (
        pairs.join(ca.hint("shuffle_hash"), "part_a")
        .join(cb.hint("shuffle_hash"), "part_b")
        .crossJoin(F.broadcast(nord))
        .select(
            "part_a",
            "part_b",
            F.col("n_pair").cast("long").alias("n_pair"),
            rd(F.col("n_pair").cast("double") / F.col("__n"), 6).alias("support"),
            rd(F.col("n_pair").cast("double") / F.col("__ca"), 6).alias("conf_a_b"),
            rd(F.col("n_pair").cast("double") / F.col("__cb"), 6).alias("conf_b_a"),
            rd(
                (F.col("__n") * F.col("n_pair"))
                / (F.col("__ca").cast("double") * F.col("__cb")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# r11 wave 6: cohort LTV curve — the revenue companion to the
# retention triangle.
# ---------------------------------------------------------------------------


@register(
    "orders_cohort_ltv_curve",
    f"""
    WITH ow AS (
      SELECT o_custkey AS c,
             CAST(floor(epoch_us(o_orderdate) / 604800000000) AS BIGINT) AS w,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    f AS (SELECT c, min(w) AS cw FROM ow GROUP BY c),
    sizes AS (SELECT cw, count(*) AS cohort_size FROM f GROUP BY cw),
    cells AS (
      SELECT f.cw, ow.w - f.cw AS off, count(*) AS n_orders,
             sum(CAST(ow.cents AS DECIMAL(38,0))) AS rev_cents
      FROM ow JOIN f ON f.c = ow.c
      GROUP BY f.cw, ow.w - f.cw
    ),
    cum AS (
      SELECT cw, off, n_orders, rev_cents,
             sum(rev_cents) OVER (
               PARTITION BY cw ORDER BY off
               ROWS UNBOUNDED PRECEDING
             ) AS cum_cents
      FROM cells
    )
    SELECT cum.cw AS cohort_week,
           CAST(cum.off AS BIGINT) AS week_offset,
           CAST(cum.n_orders AS BIGINT) AS n_orders,
           {R("CAST(cum.rev_cents AS DOUBLE) / 100.0", 2)} AS revenue,
           {R("CAST(cum.cum_cents AS DOUBLE) / 100.0", 2)} AS cum_revenue,
           CAST(sizes.cohort_size AS BIGINT) AS cohort_size,
           {R("CAST(cum.cum_cents AS DOUBLE)"
              " / (100.0 * CAST(sizes.cohort_size AS DOUBLE))", 2)}
             AS cum_ltv_per_customer
    FROM cum JOIN sizes ON sizes.cw = cum.cw
    """,
)
def _q_orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LIFETIME-VALUE curve — the revenue companion to
    `cohort_retention`'s activity triangle: customers bucketed by
    first-order epoch week, then per (cohort, week-offset) the order
    count, revenue, RUNNING cumulative revenue, and cumulative LTV per
    original cohort customer — the curve whose flattening point is
    the payback-window decision. Same integer epoch-week convention
    as the retention triangle; revenue on the exact cent grid
    (floor(x·100+.5) BIGINT) summed as decimals, the running sum in a
    cohort-KEYED window over the bounded (cohort × offset) cell
    table, divided once per output on the 2-dp grid. One narrow scan
    of orders, one broadcast-size first-order table, cells-bounded
    output. Revenue-analytics extension (reference repo has no orders
    surface)."""
    o = _table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(604800000000)
        )
        .cast("long")
        .alias("w"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    f = o.groupBy("c").agg(F.min("w").alias("cw"))
    sizes = f.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    cells = (
        o.join(f.hint("shuffle_hash"), "c")
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("off"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("rev_cents"),
        )
    )
    wc = Window.partitionBy("cw").orderBy(F.col("off").asc())
    cum = cells.withColumn(
        "cum_cents",
        F.sum("rev_cents").over(
            wc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return cum.join(F.broadcast(sizes), "cw").select(
        F.col("cw").alias("cohort_week"),
        F.col("off").cast("long").alias("week_offset"),
        F.col("n_orders").cast("long").alias("n_orders"),
        rd(F.col("rev_cents").cast("double") / F.lit(100.0), 2).alias(
            "revenue"
        ),
        rd(F.col("cum_cents").cast("double") / F.lit(100.0), 2).alias(
            "cum_revenue"
        ),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        rd(
            F.col("cum_cents").cast("double")
            / (F.lit(100.0) * F.col("cohort_size").cast("double")),
            2,
        ).alias("cum_ltv_per_customer"),
    )


# ---------------------------------------------------------------------------
# r11 wave 6: Markov removal-effect attribution (Anderl et al. 2016).
# ---------------------------------------------------------------------------

_ATTR_CHANNELS = ["click", "error", "signup", "view"]  # alphabetical
_ATTR_ITERS = 12
_ATTR_TRANS_SQL = """ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS newf
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT *, sum(newf) OVER (
        PARTITION BY user_id ORDER BY us, event_id
        ROWS UNBOUNDED PRECEDING) AS sess
      FROM m
    ),
    r0 AS (
      SELECT *, row_number() OVER ws AS rn
      FROM s WINDOW ws AS (PARTITION BY user_id, sess ORDER BY us, event_id)
    ),
    r1 AS (
      SELECT *,
             min(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id, sess) AS prn,
             max(rn) OVER (PARTITION BY user_id, sess) AS mxrn
      FROM r0
    ),
    kept AS (SELECT * FROM r1 WHERE rn <= coalesce(prn, mxrn)),
    edges AS (
      SELECT coalesce(lag(event_type) OVER wk, 'START') AS src,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS dst
      FROM kept WINDOW wk AS (PARTITION BY user_id, sess ORDER BY rn)
      UNION ALL
      SELECT event_type AS src, 'NULLE' AS dst
      FROM kept WHERE rn = mxrn AND prn IS NULL
    ),
    trans AS (SELECT src, dst, count(*) AS cnt FROM edges GROUP BY 1, 2),
    prob AS (
      SELECT src, dst,
             {P} AS p
      FROM trans
    )""".replace(
    "{P}",
    sql_rd("CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY src)", 9),
)


def _attr_scenario_sql(tag: str, chans: list[str]) -> str:
    """Unrolled absorption-probability CTE chain for one channel set:
    a_{k+1}(s) = rd9(P(s→CONV) + Σ_{d∈chans} rd9(P(s→d)·a_k(d))) —
    per-term 9-dp grid so the ≤|chans|+1-term sum is exact and
    order-free in both engines."""
    cl = ", ".join(f"'{c}'" for c in chans)
    arr = ", ".join(f"'{c}'" for c in chans)
    parts = [
        f"""a_{tag}_0 AS (
      SELECT unnest(ARRAY[{arr}]) AS s, CAST(0 AS DOUBLE) AS a
    )"""
    ]
    step = sql_rd("t.p * coalesce(prev.a, 0)", 9)
    for k in range(1, _ATTR_ITERS + 1):
        parts.append(f"""a_{tag}_{k} AS (
      SELECT t.src AS s,
             {sql_rd(
                 "coalesce(max(CASE WHEN t.dst = 'CONV' THEN t.p END), 0)"
                 f" + coalesce(sum(CASE WHEN t.dst IN ({cl})"
                 f" THEN {step} END), 0)", 9)} AS a
      FROM prob t LEFT JOIN a_{tag}_{k - 1} prev ON prev.s = t.dst
      WHERE t.src IN ({cl})
      GROUP BY t.src
    )""")
    parts.append(f"""conv_{tag} AS (
      SELECT {sql_rd(
          "coalesce(max(CASE WHEN t.dst = 'CONV' THEN t.p END), 0)"
          f" + coalesce(sum(CASE WHEN t.dst IN ({cl})"
          f" THEN {step} END), 0)", 9)} AS conv
      FROM prob t LEFT JOIN a_{tag}_{_ATTR_ITERS} prev ON prev.s = t.dst
      WHERE t.src = 'START'
    )""")
    return ",\n    ".join(parts)


def _attr_sql() -> str:
    scen = [_attr_scenario_sql("base", _ATTR_CHANNELS)]
    for c in _ATTR_CHANNELS:
        scen.append(
            _attr_scenario_sql(
                f"no_{c}", [x for x in _ATTR_CHANNELS if x != c]
            )
        )
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT '{c}' AS channel,
           {R("b.conv", 6)} AS conv_rate_base,
           {R("r.conv", 6)} AS conv_rate_removed,
           CASE WHEN b.conv > 0 THEN
             {R("(b.conv - r.conv) / b.conv", 6)} END AS removal_effect
    FROM conv_base b CROSS JOIN conv_no_{c} r"""
        for c in _ATTR_CHANNELS
    )
    return (
        "WITH "
        + _ATTR_TRANS_SQL
        + ",\n    "
        + ",\n    ".join(scen)
        + "\n    "
        + rows
    )


@register("events_markov_attribution", _attr_sql())
def _q_events_markov_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MARKOV REMOVAL-EFFECT attribution (Anderl et al. 2016 — the
    data-driven alternative to last-touch): model each user session as
    a chain over event-type states with absorbing CONV (first
    purchase; the path truncates there) and NULL (session end), fit
    transition probabilities from the corpus, and score each channel
    by how much the chain's START→CONV absorption probability drops
    when the channel is removed (transitions into it redirect to
    NULL, transitions out of it vanish). Absorption probabilities are
    a {_ATTR_ITERS}-step unrolled fixpoint on the 9-dp grid — each
    product rounds before the ≤5-term (exact, order-free) sum, the
    PageRank/PPR convention — so the recurrence replays bit-for-bit
    as SQL. Plan: sessionize + truncate + lag edges in keyed windows
    (one exchange family), ONE bounded driver collect of the
    ≤(|types|+1)² probability matrix (the IVF-centroid precedent),
    and the 5 scenario folds run in pure Python on that tiny matrix —
    at 100 TB the corpus cost is the transition count, constant in
    everything but the scan. Attribution extension (reference repo
    has no marketing-analytics surface)."""
    import math

    ev = _table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    m = ev.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("us"),
        F.when(
            F.lag(us).over(w).isNull()
            | (us - F.lag(us).over(w) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("newf"),
    )
    s = m.withColumn(
        "sess",
        F.sum("newf").over(
            Window.partitionBy("user_id")
            .orderBy(F.col("us").asc(), F.col("event_id").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = Window.partitionBy("user_id", "sess").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    wsf = Window.partitionBy("user_id", "sess")
    r0 = s.withColumn("rn", F.row_number().over(ws))
    r1 = r0.withColumn(
        "prn",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).over(wsf),
    ).withColumn("mxrn", F.max("rn").over(wsf))
    kept = r1.filter(F.col("rn") <= F.coalesce(F.col("prn"), F.col("mxrn")))
    wk = Window.partitionBy("user_id", "sess").orderBy(F.col("rn").asc())
    edges = kept.select(
        F.coalesce(F.lag("event_type").over(wk), F.lit("START")).alias(
            "src"
        ),
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
    ).unionByName(
        kept.filter(
            (F.col("rn") == F.col("mxrn")) & F.col("prn").isNull()
        ).select(
            F.col("event_type").alias("src"), F.lit("NULLE").alias("dst")
        )
    )
    trans = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    wsrc = Window.partitionBy("src")
    prob = trans.select(
        "src",
        "dst",
        rd(
            F.col("cnt").cast("double") / F.sum("cnt").over(wsrc), 9
        ).alias("p"),
    )
    P = {(r["src"], r["dst"]): r["p"] for r in prob.collect()}

    def rd9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    def conv(chans: list[str]) -> float:
        a = {c: 0.0 for c in chans}
        for _ in range(_ATTR_ITERS):
            a = {
                st: rd9(
                    P.get((st, "CONV"), 0.0)
                    + sum(
                        rd9(P[(st, d)] * a[d])
                        for d in chans
                        if (st, d) in P
                    )
                )
                for st in chans
            }
        return rd9(
            P.get(("START", "CONV"), 0.0)
            + sum(
                rd9(P[("START", d)] * a[d])
                for d in chans
                if ("START", d) in P
            )
        )

    def rd6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    base = conv(_ATTR_CHANNELS)
    rows = []
    for c in _ATTR_CHANNELS:
        removed = conv([x for x in _ATTR_CHANNELS if x != c])
        eff = rd6((base - removed) / base) if base > 0 else None
        rows.append((c, rd6(base), rd6(removed), eff))
    return spark.createDataFrame(
        rows,
        "channel string, conv_rate_base double, conv_rate_removed double,"
        " removal_effect double",
    )


@register(
    "eval_regression_user_baseline",
    f"""
    WITH e AS (
      SELECT event_type, user_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL
    ),
    u AS (
      SELECT user_id, sum(vq) AS su, count(*) AS cu
      FROM e GROUP BY user_id
    ),
    g AS (
      SELECT event_type, sum(vq) AS st, count(*) AS ct
      FROM e GROUP BY event_type
    ),
    err AS (
      SELECT e.event_type,
             e.vq - (u.su - e.vq) // (u.cu - 1) AS er,
             e.vq - g.st // g.ct AS et
      FROM e
      JOIN u ON u.user_id = e.user_id AND u.cu >= 2
      JOIN g ON g.event_type = e.event_type
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_scored,
           {R("CAST(sum(abs(er)) AS DOUBLE) / count(*) / 10000.0", 6)} AS mae,
           {R("sqrt(CAST(sum(CAST(er AS DECIMAL(38,0)) * er) AS DOUBLE)"
              " / count(*)) / 10000.0", 6)} AS rmse,
           {R("1.0 - CAST(sum(CAST(er AS DECIMAL(38,0)) * er) AS DOUBLE)"
              " / CAST(sum(CAST(et AS DECIMAL(38,0)) * et) AS DOUBLE)", 6)}
             AS r2_vs_type_mean
    FROM err GROUP BY event_type
    """,
)
def _q_eval_regression_user_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REGRESSION-EVAL metrics (MAE / RMSE / R²) for the standard
    leakage-safe baseline: predict each event's value from its USER's
    leave-one-out mean — the feature-store sanity check that tells a
    modeling team whether user identity explains the target before
    they spend a training run (R² > 0 = signal; ≈ 0 = the per-user
    feature is noise vs the per-type mean). Completes the eval family
    with its regression half (AUC/PR/ECE/F1 cover classification
    only). Engine-exactness: values quantize to integer
    ten-thousandths; the LOO prediction is the INTEGER division
    (su − vq) div (cu − 1) (non-negative operands — Spark DIV
    truncation and DuckDB // floor agree; quantization grid 1e-4,
    stated in-unit by the /10000 rescale), so every residual is exact
    int64 in both engines and the squared sums ride decimal(38,0).
    Users with one event are excluded (LOO undefined). Plan: two
    user/type-keyed aggregates broadcast-joined back to one events
    scan — three shuffles total, no window, scales as the scan."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    e = ev.select(
        "event_type",
        "user_id",
        F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("__vq"),
    )
    u = e.groupBy("user_id").agg(
        F.sum("__vq").alias("__su"), F.count(F.lit(1)).alias("__cu")
    )
    g = e.groupBy("event_type").agg(
        F.sum("__vq").alias("__st"), F.count(F.lit(1)).alias("__ct")
    )
    err = (
        e.join(
            u.filter(F.col("__cu") >= 2).hint("shuffle_hash"), "user_id"
        )
        .join(F.broadcast(g), "event_type")
        .select(
            "event_type",
            (
                F.col("__vq")
                - F.expr("(__su - __vq) div (__cu - 1)")
            ).alias("__er"),
            (F.col("__vq") - F.expr("__st div __ct")).alias("__et"),
        )
    )
    sse = F.sum(F.col("__er").cast("decimal(38,0)") * F.col("__er"))
    sst = F.sum(F.col("__et").cast("decimal(38,0)") * F.col("__et"))
    n = F.count(F.lit(1))
    return err.groupBy("event_type").agg(
        n.cast("long").alias("n_scored"),
        rd(
            F.sum(F.abs(F.col("__er"))).cast("double")
            / n
            / F.lit(10000.0),
            6,
        ).alias("mae"),
        rd(
            F.sqrt(sse.cast("double") / n) / F.lit(10000.0), 6
        ).alias("rmse"),
        rd(F.lit(1.0) - sse.cast("double") / sst.cast("double"), 6).alias(
            "r2_vs_type_mean"
        ),
    )


@register(
    "orders_kaplan_meier_repeat",
    f"""
    WITH o AS (
      SELECT o_custkey,
             CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
             o_orderkey
      FROM orders
    ),
    gmax AS (SELECT max(day) AS gday FROM o),
    seq AS (
      SELECT o_custkey, day,
             lead(day) OVER (PARTITION BY o_custkey
                             ORDER BY day, o_orderkey) AS nxt
      FROM o
    ),
    dur AS (
      SELECT CASE WHEN nxt IS NOT NULL THEN nxt - day
                  ELSE gmax.gday - day END AS t,
             CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM seq CROSS JOIN gmax
    ),
    byt AS (
      SELECT t, sum(ev) AS d, sum(1 - ev) AS c FROM dur GROUP BY t
    ),
    one AS (
      SELECT list_sort(list(struct_pack(t := t, d := d, c := c))) AS a,
             sum(d + c) AS n
      FROM byt
    ),
    step AS (
      SELECT a[k].t AS t, a[k].d AS d,
             n - coalesce(list_sum(list_transform(a[1:k-1],
                                                  x -> x.d + x.c)), 0)
               AS n_risk
      FROM one, LATERAL (SELECT unnest(generate_series(1, len(a))) AS k)
    ),
    terms AS (
      SELECT t, d, n_risk,
             {R("1.0 - CAST(d AS DOUBLE) / n_risk", 9)} AS term
      FROM step
    ),
    tb AS (
      SELECT list_sort(list(struct_pack(t := t, term := term, d := d,
                                        n_risk := n_risk))) AS b
      FROM terms
    )
    SELECT b[k].t AS t_days,
           CAST(b[k].n_risk AS BIGINT) AS n_risk,
           CAST(b[k].d AS BIGINT) AS n_events,
           {R("list_reduce(list_prepend(CAST(1.0 AS DOUBLE),"
              " list_transform(b[1:k], x -> x.term)),"
              " (x, y) -> x * y)", 6)} AS survival
    FROM tb, LATERAL (SELECT unnest(generate_series(1, len(b))) AS k)
    WHERE b[k].d > 0
    """,
)
def _q_orders_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve for REPEAT-PURCHASE time — the
    censoring-correct answer to "how long until a customer orders
    again?" (a plain histogram of gaps UNDERSTATES long waits because
    every customer's final order is still waiting — right-censored at
    the observation end; KM is the standard estimator that uses those
    censored spells correctly). Subjects: every order→next-order gap
    (event) plus every customer's last-order→corpus-end spell
    (censored); S(t) = Π_(t_i ≤ t) (1 − d_i/n_i) over event times.

    Plan shape: the per-customer gap derivation is a customer-keyed
    window; everything after runs on the per-duration table, which is
    CALENDAR-BOUNDED (≤ ~2.4k distinct day gaps regardless of corpus
    size), so the risk-set prefix and the survival product use the
    bounded sorted-array double-posexplode (waterfill precedent) —
    never a keyless window on the Spark side. Engine exactness: d and
    n_risk are exact integers; each KM factor is one double division
    rounded to 9 dp; the product multiplies those identical doubles
    in identical ascending-t order (fold both sides — Spark aggregate
    vs DuckDB list_reduce with 1.0 prepended), then rounds to 6 dp."""
    o = _table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("__day"),
        "o_orderkey",
    )
    gmax = o.agg(F.max("__day").alias("__gday"))
    seq = o.select(
        "o_custkey",
        "__day",
        F.lead("__day")
        .over(
            Window.partitionBy("o_custkey").orderBy(
                F.col("__day").asc(), F.col("o_orderkey").asc()
            )
        )
        .alias("__nxt"),
    )
    dur = seq.crossJoin(F.broadcast(gmax)).select(
        F.when(
            F.col("__nxt").isNotNull(), F.col("__nxt") - F.col("__day")
        )
        .otherwise(F.col("__gday") - F.col("__day"))
        .alias("t"),
        F.when(F.col("__nxt").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__ev"),
    )
    byt = dur.groupBy("t").agg(
        F.sum("__ev").alias("d"),
        F.sum(F.lit(1) - F.col("__ev")).alias("c"),
    )
    one = byt.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("t"), F.col("d"), F.col("c")))
        ).alias("a"),
        F.sum(F.col("d") + F.col("c")).alias("n"),
    )
    step = one.select(
        "n", "a", F.posexplode("a").alias("__k0", "__s")
    ).select(
        F.col("__s.t").alias("t"),
        F.col("__s.d").alias("d"),
        (
            F.col("n")
            - F.expr(
                "aggregate(slice(a, 1, __k0), CAST(0 AS BIGINT),"
                " (acc, x) -> acc + x.d + x.c)"
            )
        ).alias("n_risk"),
    )
    terms = step.select(
        "t",
        "d",
        "n_risk",
        rd(
            F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"), 9
        ).alias("term"),
    )
    tb = terms.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("t"), F.col("term"), F.col("d"), F.col("n_risk")
                )
            )
        ).alias("b")
    )
    return (
        tb.select("b", F.posexplode("b").alias("__k0", "__s"))
        .select(
            F.col("__s.t").alias("t_days"),
            F.col("__s.n_risk").cast("long").alias("n_risk"),
            F.col("__s.d").cast("long").alias("n_events"),
            rd(
                F.expr(
                    "aggregate(slice(b, 1, __k0 + 1), CAST(1.0 AS DOUBLE),"
                    " (acc, x) -> acc * x.term)"
                ),
                6,
            ).alias("survival"),
        )
        .filter(F.col("n_events") > 0)
    )


_DPQ_BINS = 64
_DPQ_LO = 0.0
_DPQ_HI = 640.0
_DPQ_W = (_DPQ_HI - _DPQ_LO) / _DPQ_BINS  # 10.0 — binary-exact
_DPQ_EPS = 1.0


@register(
    "privacy_dp_quantile_utility",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(least(greatest(floor(value / {_DPQ_W}), 0),
                        {_DPQ_BINS - 1}) AS INTEGER) AS bin
      FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT event_type, bin, count(*) AS c FROM e GROUP BY event_type, bin
    ),
    grid AS (
      SELECT t.event_type, g.b
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT unnest(generate_series(0, {_DPQ_BINS - 1})) AS b) g
    ),
    cum AS (
      SELECT grid.event_type, grid.b,
             (SELECT coalesce(sum(h.c), 0) FROM h
              WHERE h.event_type = grid.event_type AND h.bin < grid.b)
               AS below,
             (SELECT sum(h.c) FROM h
              WHERE h.event_type = grid.event_type) AS n
      FROM grid
    ),
    u AS (
      SELECT event_type, b, n,
             -abs(2 * below - n) AS u2   -- 2*|rank error|, integer
      FROM cum
    ),
    mx AS (SELECT event_type, max(u2) AS umax FROM u GROUP BY event_type),
    w AS (
      SELECT u.event_type, u.b, u.n, u.u2, mx.umax,
             {R(f"exp({_DPQ_EPS} * (u.u2 - mx.umax) / 4.0)", 9)} AS wt
      FROM u JOIN mx ON mx.event_type = u.event_type
    ),
    z AS (
      SELECT event_type,
             CAST(sum(CAST(wt AS DECIMAL(38,9))) AS DOUBLE) AS zz
      FROM w GROUP BY event_type
    ),
    map AS (
      SELECT event_type, b, n, u2, wt
      FROM w
      QUALIFY row_number() OVER (PARTITION BY event_type
                                 ORDER BY u2 DESC, b ASC) = 1
    )
    SELECT m.event_type,
           CAST(m.b AS INTEGER) AS map_bin,
           {R(f"m.b * {_DPQ_W} + {_DPQ_W / 2.0}", 6)} AS map_bin_mid,
           CAST(m.n AS BIGINT) AS n_rows,
           CAST(-m.u2 AS BIGINT) AS map_rank_error_x2,
           {R("m.wt / z.zz", 6)} AS map_probability
    FROM map m JOIN z ON z.event_type = m.event_type
    """,
)
def _q_privacy_dp_quantile_utility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DP MEDIAN release planner via the EXPONENTIAL MECHANISM — the
    quantile companion to `privacy_dp_count_report`: over a fixed
    {_DPQ_BINS}-bin grid, each bin's utility is −|rank error| against
    the true median, selection weight ∝ exp(ε·u/2) (sensitivity-1
    rank utility, ε={_DPQ_EPS}). This query releases the
    DETERMINISTIC planning view: the MAP bin (what the mechanism
    returns most often), its exact selection probability, and the
    rank error it carries — the table a privacy reviewer reads to
    decide whether ε buys acceptable accuracy BEFORE any noisy draw
    happens (the draw itself is one multinomial sample downstream).
    Exactness: utilities are exact integers (doubled to avoid n/2
    halves), weights are log-sum-exp-SHIFTED by the per-type max
    before exp (no underflow at any n), rd-9 rounded, decimal-summed;
    the MAP pick is an integer-utility argmax with bin-index
    tie-break — no float ordering anywhere. One scan + one
    (type, bin)-keyed count; the {_DPQ_BINS}-bin grid is constant at
    any scale."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    e = ev.select(
        "event_type",
        F.least(
            F.greatest(
                F.floor(F.col("value") / F.lit(_DPQ_W)), F.lit(0)
            ),
            F.lit(_DPQ_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
    )
    h = e.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    # bounded per-type fold: 64-entry histogram array -> below/n per bin
    one = h.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bin"), F.col("c")))
        ).alias("a"),
        F.sum("c").alias("n"),
    )
    grid = one.select(
        "event_type",
        "n",
        "a",
        F.explode(F.sequence(F.lit(0), F.lit(_DPQ_BINS - 1))).alias("b"),
    ).select(
        "event_type",
        "n",
        "b",
        F.expr(
            "aggregate(filter(a, x -> x.bin < b), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x.c)"
        ).alias("below"),
    )
    u = grid.select(
        "event_type",
        "b",
        "n",
        (-F.abs(F.lit(2) * F.col("below") - F.col("n"))).alias("u2"),
    )
    mx = u.groupBy("event_type").agg(F.max("u2").alias("__umax"))
    w = u.join(mx.hint("shuffle_hash"), "event_type").select(
        "event_type",
        "b",
        "n",
        "u2",
        rd(
            F.exp(
                F.lit(_DPQ_EPS)
                * (F.col("u2") - F.col("__umax"))
                / F.lit(4.0)
            ),
            9,
        ).alias("wt"),
    )
    z = w.groupBy("event_type").agg(
        F.sum(F.col("wt").cast("decimal(38,9)")).cast("double").alias("__z")
    )
    mapped = w.select(
        "event_type",
        "b",
        "n",
        "u2",
        "wt",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("u2").desc(), F.col("b").asc()
            )
        )
        .alias("__rn"),
    ).filter(F.col("__rn") == 1)
    return mapped.join(z.hint("shuffle_hash"), "event_type").select(
        "event_type",
        F.col("b").cast("int").alias("map_bin"),
        rd(
            F.col("b") * F.lit(_DPQ_W) + F.lit(_DPQ_W / 2.0), 6
        ).alias("map_bin_mid"),
        F.col("n").cast("long").alias("n_rows"),
        (-F.col("u2")).cast("long").alias("map_rank_error_x2"),
        rd(F.col("wt") / F.col("__z"), 6).alias("map_probability"),
    )


@register(
    "stats_chapman_source_overlap",
    f"""
    WITH fp AS (
      SELECT DISTINCT coalesce(CAST(source AS VARCHAR), '<NULL>') AS src,
             md5(coalesce(text, '<null>')) AS f
      FROM documents
    ),
    sz AS (SELECT src, count(*) AS n FROM fp GROUP BY src),
    ov AS (
      SELECT a.src AS src_a, b.src AS src_b, count(*) AS m
      FROM fp a JOIN fp b ON a.f = b.f AND a.src < b.src
      GROUP BY a.src, b.src
    ),
    pairs AS (
      SELECT x.src AS src_a, y.src AS src_b,
             x.n AS n_a, y.n AS n_b,
             coalesce(ov.m, 0) AS m
      FROM sz x JOIN sz y ON x.src < y.src
      LEFT JOIN ov ON ov.src_a = x.src AND ov.src_b = y.src
    )
    SELECT src_a, src_b,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(m AS BIGINT) AS n_shared,
           CAST(n_a + n_b - m AS BIGINT) AS n_union_observed,
           {R("(CAST(n_a AS DOUBLE) + 1.0) * (n_b + 1.0) / (m + 1.0)"
              " - 1.0", 6)} AS chapman_total_est,
           {R("greatest(0.0, ((CAST(n_a AS DOUBLE) + 1.0) * (n_b + 1.0)"
              " / (m + 1.0) - 1.0) - (n_a + n_b - m))", 6)}
             AS est_unseen
    FROM pairs
    """,
)
def _q_stats_chapman_source_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CAPTURE-RECAPTURE corpus forensics (Chapman estimator): treat
    each pair of sources as two independent "captures" of a shared
    underlying document population (distinct content fingerprints);
    the overlap size m then estimates the TOTAL population
    N̂ = (n_a+1)(n_b+1)/(m+1) − 1 — and N̂ minus the observed union is
    the estimated UNSEEN mass: content both crawls missed. This is
    the standard ecology estimator applied to crawl-coverage
    planning ("how much more is out there if we keep crawling these
    two mirrors?") — a pair with large m and small est_unseen is
    saturated (stop crawling), a pair with m≈0 is disjoint and the
    independence assumption (and hence N̂) is meaningless, which the
    raw m column exposes. All counts are exact integers off one
    fingerprint-keyed self-join (distinct-collapsed first, so the
    join is |distinct contents|-bounded); the source-pair space is
    |sources|²-bounded. Chapman's +1 form keeps the estimator finite
    at m=0."""
    docs = _table(spark, sf_dir, "documents")
    fp = docs.select(
        F.coalesce(F.col("source").cast("string"), F.lit("<NULL>")).alias(
            "src"
        ),
        F.md5(F.coalesce(F.col("text"), F.lit("<null>"))).alias("f"),
    ).distinct()
    sz = fp.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a = fp.select(F.col("src").alias("src_a"), "f")
    b = fp.select(F.col("src").alias("src_b"), "f")
    ov = (
        a.join(b.hint("shuffle_hash"), "f")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    # source-pair grid via the bounded-array double-explode (|sources|
    # rows collapse to ONE sorted array, then two explodes) — an
    # inequality join here would compile to a BNLJ with a multi-row
    # build side, the exact plan class the sweep bans
    one = sz.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("src"), F.col("n")))
        ).alias("a")
    )
    grid = (
        one.select("a", F.explode("a").alias("x"))
        .select("x", F.explode("a").alias("y"))
        .filter(F.col("x.src") < F.col("y.src"))
        .select(
            F.col("x.src").alias("src_a"),
            F.col("y.src").alias("src_b"),
            F.col("x.n").alias("n_a"),
            F.col("y.n").alias("n_b"),
        )
    )
    pairs = grid.join(
        F.broadcast(ov), ["src_a", "src_b"], "left"
    ).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        F.coalesce(F.col("m"), F.lit(0)).alias("m"),
    )
    chap = (
        (F.col("n_a").cast("double") + F.lit(1.0))
        * (F.col("n_b") + F.lit(1.0))
        / (F.col("m") + F.lit(1.0))
        - F.lit(1.0)
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("m").cast("long").alias("n_shared"),
        (F.col("n_a") + F.col("n_b") - F.col("m"))
        .cast("long")
        .alias("n_union_observed"),
        rd(chap, 6).alias("chapman_total_est"),
        rd(
            F.greatest(
                F.lit(0.0),
                chap - (F.col("n_a") + F.col("n_b") - F.col("m")),
            ),
            6,
        ).alias("est_unseen"),
    )


@register(
    "dq_candidate_key_audit",
    """
    WITH n AS (SELECT count(*) AS n_rows FROM events),
    k1 AS (SELECT count(DISTINCT event_id) AS d FROM events),
    k2 AS (SELECT count(*) AS d FROM
           (SELECT DISTINCT user_id, ts FROM events)),
    k3 AS (SELECT count(*) AS d FROM
           (SELECT DISTINCT user_id, event_id FROM events)),
    rows_k AS (
      SELECT 'event_id' AS candidate_key, k1.d AS n_distinct FROM k1
      UNION ALL
      SELECT 'user_id,ts', k2.d FROM k2
      UNION ALL
      SELECT 'user_id,event_id', k3.d FROM k3
    )
    SELECT candidate_key,
           CAST(n.n_rows AS BIGINT) AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n.n_rows - n_distinct AS BIGINT) AS n_violations,
           n_distinct = n.n_rows AS is_key
    FROM rows_k CROSS JOIN n
    """,
)
def _q_dq_candidate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANDIDATE-KEY audit — the uniqueness half of the DQ contract
    (`dq_functional_dependency` checks determinations, this checks
    keys): for each declared candidate key, distinct-count vs row
    count and the violation mass. A key that silently stops being
    unique is how double-delivery and replay bugs reach training data
    (the dedup family then "fixes" what ingestion broke — this audit
    names the breakage at the source). Each distinct count is one
    hash aggregate; the three run as independent keyed aggregates
    cross-joined to the 1-row total (sanctioned scalar shape) —
    no Expand blow-up, no sort, scales as three scans (or one, once
    a caller fuses them; kept separate here so each key's cost is
    attributable)."""
    ev = _events(spark, sf_dir)
    n = ev.agg(F.count(F.lit(1)).alias("n_rows"))
    k1 = ev.agg(F.countDistinct("event_id").alias("d")).select(
        F.lit("event_id").alias("candidate_key"), "d"
    )
    k2 = (
        ev.select("user_id", "ts")
        .distinct()
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.lit("user_id,ts").alias("candidate_key"), "d")
    )
    k3 = (
        ev.select("user_id", "event_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.lit("user_id,event_id").alias("candidate_key"), "d")
    )
    rows_k = k1.unionByName(k2).unionByName(k3)
    return rows_k.crossJoin(F.broadcast(n)).select(
        "candidate_key",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("d").cast("long").alias("n_distinct"),
        (F.col("n_rows") - F.col("d")).cast("long").alias("n_violations"),
        (F.col("d") == F.col("n_rows")).alias("is_key"),
    )


_MDE_Z = 2.801585218  # z_{0.975} + z_{0.80}: alpha=.05 two-sided, power=.80


@register(
    "stats_power_analysis_mde",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, count(*) AS n, sum(vq) AS s,
             sum(CAST(vq AS DECIMAL(38,0)) * vq) AS ss
      FROM e GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_obs,
           {R("CAST(s AS DOUBLE) / n / 10000.0", 6)} AS mean_value,
           {R("sqrt(CAST(ss AS DOUBLE) / n"
              " - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
              " / 10000.0", 6)} AS sd_value,
           {R(f"{_MDE_Z} * (sqrt(CAST(ss AS DOUBLE) / n"
              " - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
              " / 10000.0) * sqrt(2.0 / n)", 6)} AS mde_abs,
           {R(f"CASE WHEN s > 0 THEN ({_MDE_Z} * sqrt(CAST(ss AS DOUBLE)"
              " / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
              " * sqrt(2.0 / n)) / (CAST(s AS DOUBLE) / n) END", 6)}
             AS mde_rel
    FROM g
    """,
)
def _q_stats_power_analysis_mde(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT calculator per event_type — the
    experiment-design half of the stats family (SRM/CUPED/TOST judge
    a FINISHED experiment; this sizes the NEXT one): at α=0.05
    two-sided and 80% power with today's traffic split evenly, the
    smallest mean shift a two-sample z-test can detect is
    (z_.975+z_.80)·σ·√(2/n). A team reads mde_rel before launching —
    if the effect they hope for is under it, the experiment is
    underpowered BY CONSTRUCTION and needs more traffic or CUPED
    variance reduction. Engine exactness: σ comes from integer/
    decimal power sums of quantized values (one grouped aggregate);
    the z-sum is a folded literal; only the final products are
    doubles (rd-6). One scan, |types| rows, any scale."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    g = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("__vq"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__vq").alias("s"),
        F.sum(F.col("__vq").cast("decimal(38,0)") * F.col("__vq")).alias(
            "ss"
        ),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(F.col("ss").cast("double") / F.col("n") - mean * mean)
    mde = F.lit(_MDE_Z) * sd * F.sqrt(F.lit(2.0) / F.col("n"))
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        rd(mean / F.lit(10000.0), 6).alias("mean_value"),
        rd(sd / F.lit(10000.0), 6).alias("sd_value"),
        rd(mde / F.lit(10000.0), 6).alias("mde_abs"),
        rd(F.when(F.col("s") > 0, mde / mean), 6).alias("mde_rel"),
    )


@register(
    "profile_documents_columns",
    """
    WITH t AS (SELECT count(*) AS n FROM documents),
    cols AS (
      SELECT 'doc_id' AS col,
             count(doc_id) AS n_filled,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(NULL AS BIGINT) AS sum_len
      FROM documents
      UNION ALL
      SELECT 'text', count(text), count(DISTINCT md5(text)),
             sum(length(text))
      FROM documents
      UNION ALL
      SELECT 'lang', count(lang), count(DISTINCT lang),
             sum(length(lang))
      FROM documents
      UNION ALL
      SELECT 'source', count(source), count(DISTINCT source),
             sum(length(source))
      FROM documents
      UNION ALL
      SELECT 'n_chars', count(n_chars), count(DISTINCT n_chars),
             CAST(NULL AS BIGINT)
      FROM documents
    )
    SELECT col,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.n - n_filled AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(sum_len AS BIGINT) AS total_chars
    FROM cols CROSS JOIN t
    """,
)
def _q_profile_documents_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANALYZE-style column profile of the documents table (the
    corpus twin of `profile_events_columns`): per column, null mass,
    exact distinct count (text via md5 digest so wide strings never
    shuffle whole), and character mass — the first table a curation
    run prints, and the statistics a cost-based planner wants. Five
    independent hash aggregates unioned and cross-joined to the 1-row
    total (sanctioned scalar) — each column's cost attributable, no
    Expand blow-up."""
    docs = _table(spark, sf_dir, "documents")
    t = docs.agg(F.count(F.lit(1)).alias("n"))

    def col_row(name, filled, distinct, slen):
        return docs.agg(
            F.lit(name).alias("col"),
            filled.alias("n_filled"),
            distinct.alias("n_distinct"),
            slen.alias("sum_len"),
        )

    rows = (
        col_row(
            "doc_id",
            F.count("doc_id"),
            F.countDistinct("doc_id"),
            F.lit(None).cast("long"),
        )
        .unionByName(
            col_row(
                "text",
                F.count("text"),
                F.countDistinct(F.md5("text")),
                F.sum(F.length("text")),
            )
        )
        .unionByName(
            col_row(
                "lang",
                F.count("lang"),
                F.countDistinct("lang"),
                F.sum(F.length("lang")),
            )
        )
        .unionByName(
            col_row(
                "source",
                F.count("source"),
                F.countDistinct("source"),
                F.sum(F.length("source")),
            )
        )
        .unionByName(
            col_row(
                "n_chars",
                F.count("n_chars"),
                F.countDistinct("n_chars"),
                F.lit(None).cast("long"),
            )
        )
    )
    return rows.crossJoin(F.broadcast(t)).select(
        "col",
        F.col("n").cast("long").alias("n_rows"),
        (F.col("n") - F.col("n_filled")).cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("sum_len").cast("long").alias("total_chars"),
    )


@register(
    "dq_timestamp_monotonicity_audit",
    f"""
    WITH e AS (
      SELECT event_type, user_id, epoch_us(ts) AS us, event_id
      FROM events
    ),
    arr AS (
      SELECT event_type, user_id,
             list_transform(
               list_sort(list(struct_pack(us := us, eid := event_id))),
               x -> x.eid) AS ids
      FROM e GROUP BY event_type, user_id
    ),
    inv AS (
      SELECT event_type, user_id, len(ids) AS n,
             CAST(len(ids) * (len(ids) - 1) // 2 AS BIGINT) AS n_pairs,
             coalesce(list_sum(list_transform(
               generate_series(1, len(ids)),
               i -> len(list_filter(ids[i+1:len(ids)],
                                    y -> y < ids[i])))), 0) AS n_inv
      FROM arr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
           CAST(sum(n_inv) AS BIGINT) AS n_inversions,
           {R("CASE WHEN sum(n_pairs) > 0 THEN CAST(sum(n_inv) AS DOUBLE)"
              " / sum(n_pairs) ELSE 0.0 END", 6)} AS inversion_frac
    FROM inv GROUP BY event_type
    """,
)
def _q_dq_timestamp_monotonicity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INGESTION-ORDER audit: per (event_type, user), the fraction of
    event pairs whose event_id order INVERTS their event-time order —
    the Kendall-style disarray between assignment order and time
    order. This is the measurement behind the streaming family's
    order contract (`_cusum_plan` and every order-dependent state
    machine assume near-in-order arrival; `stream_watermark_lateness
    _audit` measures CROSS-batch lateness, this measures WITHIN-key
    disorder at the source): inversion_frac ≈ 0 certifies the
    assumption, a hot type with high disarray needs a reorder buffer
    in front. Per-user event counts are BOUNDED (a user's events per
    type, ~tens), so the pairwise inversion count runs as a bounded
    sorted-array fold inside each group — no window, no join, one
    user-keyed aggregate; cost is Σ n_u² with n_u bounded, linear in
    users at any scale."""
    ev = _events(spark, sf_dir)
    us = event_micros(ev)
    e = ev.select("event_type", "user_id", us.alias("__us"), "event_id")
    arr = e.groupBy("event_type", "user_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("__us"), F.col("event_id")))
            ),
            lambda x: x.getField("event_id"),
        ).alias("ids")
    )
    n = F.size("ids")
    inv = arr.select(
        "event_type",
        n.alias("__n"),
        F.expr("CAST(size(ids) * (size(ids) - 1) DIV 2 AS BIGINT)").alias(
            "__pairs"
        ),
        F.coalesce(
            F.expr(
                "aggregate(transform(sequence(1, size(ids)),"
                " i -> size(filter(slice(ids, i + 1, size(ids)),"
                " y -> y < ids[i - 1]))),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ),
            F.lit(0),
        ).alias("__inv"),
    )
    return inv.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("__pairs").cast("long").alias("n_pairs"),
        F.sum("__inv").cast("long").alias("n_inversions"),
        rd(
            F.when(
                F.sum("__pairs") > 0,
                F.sum("__inv").cast("double") / F.sum("__pairs"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("inversion_frac"),
    )
