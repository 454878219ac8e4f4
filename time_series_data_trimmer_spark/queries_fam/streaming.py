"""Streaming-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# Structured Streaming: tumbling-window aggregation over events
# ---------------------------------------------------------------------------


@register(
    "stream_tumbling_hour_agg",
    f"""
    SELECT user_id, date_trunc('hour', ts) AS window_start,
           count(*) AS n_events,
           {_sql_dsum("value", 2)} AS sum_value
    FROM events
    GROUP BY user_id, date_trunc('hour', ts)
    """,
)
def _q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming plan (readStream → watermark → tumbling
    window → memory sink, availableNow trigger) whose final state must
    equal the batch oracle — the streaming generalization of the
    reference's seasonal fold (SURVEY §2.10/E11)."""
    from time_series_data_trimmer_spark.streaming.stream_ops import tumbling_hour_agg

    return tumbling_hour_agg(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_quantile_value_by_type",
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
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY u ASC, v ASC) <= 32
    ),
    ranked AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v ASC, u ASC) AS vr,
             count(*) OVER (PARTITION BY g) AS n_kept
      FROM regs
    ),
    qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q)
    SELECT g AS event_type, q, n_kept, v AS q_est
    FROM ranked CROSS JOIN qs
    WHERE vr = greatest(1, CAST(ceil(q * CAST(n_kept AS DOUBLE)) AS BIGINT))
    """,
)
def _q_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-event-type value percentiles
    (`stream_ops.stream_quantile_sketch`): the bottom-k quantile
    registers live in GroupState (≤ k (hash, value) pairs per group),
    every emission re-merges after the run, and bottom-k's closure
    under union makes the estimates independent of micro-batch
    boundaries — BIT-EQUAL to the batch sketch, same exact oracle.
    The streaming-monitoring shape (latency/size percentiles over an
    unbounded stream) without a watermark, because the sketch is a
    pure function of the set of rows seen."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_quantile_sketch,
    )

    return stream_quantile_sketch(
        spark, os.path.join(sf_dir, "events.parquet"),
        group_col="event_type", value_col="value", id_col="event_id",
        qs=(0.5, 0.9), k=32,
    )


@register(
    "stream_kmv_distinct_users",
    f"""
    WITH hashed AS (
      SELECT DISTINCT event_type AS g,
             {sp.sql_hash_u32("user_id", "tsdt|kmv")} AS u
      FROM events
    ),
    ranked AS (
      SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rn
      FROM hashed
    ),
    kept AS (
      SELECT g, count(*) AS n_kept, max(u) AS kth
      FROM ranked WHERE rn <= 64 GROUP BY g
    )
    SELECT g AS event_type, n_kept,
           {sql_rd(
               "CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)"
               " ELSE 63.0 * 4294967296.0 / CAST(kth AS DOUBLE) END",
               6,
           )} AS est_distinct
    FROM kept
    """,
)
def _q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct-users-per-event-type
    (`stream_ops.stream_kmv_distinct`): bottom-k md5 registers held in
    GroupState (`applyInPandasWithState`, ≤ k longs per group), every
    emission re-merged after the run — bottom-k's closure under union
    makes the estimate independent of micro-batch boundaries, so the
    streaming answer is BIT-EQUAL to the batch sketch and the same
    exact DuckDB oracle applies. The sketch family's streaming face:
    the register lifecycle (registers/merge/estimate) is untouched;
    only the accumulation site moved into the stream."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_kmv_distinct,
    )

    return stream_kmv_distinct(
        spark, os.path.join(sf_dir, "events.parquet"),
        group_col="event_type", key_col="user_id", k=64,
    )


@register(
    "stream_spike_counts",
    """
    SELECT user_id, count(*) AS n_spikes
    FROM events WHERE value > 150.0
    GROUP BY user_id
    """,
)
def _q_stream_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user spike counter (threshold filter inside the
    stream); final complete-mode state == the batch filtered count."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        streaming_spike_counts,
    )

    out = streaming_spike_counts(spark, os.path.join(sf_dir, "events.parquet"), 150.0)
    return out.select("user_id", F.col("n_spikes"))


@register(
    "stream_dedup",
    """
    SELECT DISTINCT user_id,
           md5(coalesce(event_type, '<null>') || '|' ||
               coalesce(CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS VARCHAR),
                        '<null>'))
             AS content_key
    FROM events
    """,
)
def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication on a content digest
    (dropDuplicatesWithinWatermark): exactly-once emission per distinct
    (user, content) observation — the streaming twin of exact_dedup.
    The digest quantizes the float channel to integer cents before
    hashing so the DuckDB oracle reproduces it bit-for-bit (raw
    double→string casts differ across engines). With the delay
    covering the corpus span, the appended rows equal batch DISTINCT."""
    from time_series_data_trimmer_spark.streaming.stream_ops import stream_dedup

    return stream_dedup(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_sliding_mean",
    f"""
    WITH slotted AS (
      SELECT user_id, epoch(ts) AS t, value,
             unnest([CAST(floor(epoch(ts) / 1800.0) AS BIGINT),
                     CAST(floor(epoch(ts) / 1800.0) AS BIGINT) - 1]) AS slot
      FROM events
    )
    SELECT user_id,
           {R("slot * 1800.0", 3)} AS window_start,
           {R("slot * 1800.0 + 3600.0", 3)} AS window_end,
           {R("CAST(sum(CAST(" + sql_rd("value", 2) + " AS DECIMAL(38,6))) AS DOUBLE) / count(*)", 6)} AS mean_value,
           count(*) AS n_events
    FROM slotted
    WHERE t >= slot * 1800.0 AND t < slot * 1800.0 + 3600.0
    GROUP BY user_id, slot
    """,
)
def _q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h / 30 min) streaming mean: every event lands
    in exactly two windows; the oracle materializes the same two slots
    per event with unnest and reproduces the decimal-sum mean. Final
    complete-mode state == the batch fixpoint."""
    from time_series_data_trimmer_spark.streaming.stream_ops import sliding_mean

    out = sliding_mean(spark, os.path.join(sf_dir, "events.parquet"))
    return out.select(
        "user_id",
        rd(F.col("window_start").cast("double"), 3).alias("window_start"),
        rd(F.col("window_end").cast("double"), 3).alias("window_end"),
        rd(F.col("mean_value"), 6).alias("mean_value"),
        "n_events",
    )


@register(
    "stream_session_agg",
    f"""
    WITH gaps AS (
      SELECT user_id, epoch(ts) AS t,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY epoch(ts)) >= 1800.0
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    ids AS (
      SELECT user_id, t,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id,
           {R("min(t)", 3)} AS session_start,
           {R("max(t) + 1800.0", 3)} AS session_end,
           count(*) AS n_events
    FROM ids GROUP BY user_id, session_id
    """,
)
def _q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming session windows (session_window merge
    state) whose final state must equal the batch gaps-and-islands
    fixpoint. Spark session semantics modeled exactly in the oracle:
    a session BREAKS on gap >= 30 min (merge requires next_start
    strictly inside the window) and session end = last event + gap."""
    from time_series_data_trimmer_spark.streaming.stream_ops import session_agg

    out = session_agg(spark, os.path.join(sf_dir, "events.parquet"), gap="30 minutes")
    return out.select(
        "user_id",
        rd(F.col("session_start").cast("double"), 3).alias("session_start"),
        rd(F.col("session_end").cast("double"), 3).alias("session_end"),
        "n_events",
    )


@register(
    "stream_static_enriched_counts",
    f"""
    WITH dim AS (
      SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events
    )
    SELECT d.cohort, count(*) AS n_events,
           {_sql_dsum("e.value", 2)} AS sum_value
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY d.cohort
    """,
)
def _q_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event STREAM joins a broadcast
    static cohort dimension per micro-batch and aggregates per cohort —
    the events ⋈ user-profile production shape. Final streaming state
    must equal the batch join + groupBy the oracle runs."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_static_enriched_counts,
    )

    return stream_static_enriched_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )


@register(
    "stream_upsert_latest_state",
    """
    SELECT user_id, value FROM (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def _q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink (foreachBatch CDC apply): latest state per
    key maintained across micro-batches in hash-bucketed plain parquet
    with dynamic partition overwrite — idempotent latest-wins merge, so
    at-least-once batch replays converge (exactly-once-effective
    without an ACID table format). Final table must equal the batch
    latest-per-key oracle."""
    import shutil
    import tempfile

    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_upsert_to_keyed_parquet,
    )

    work = tempfile.mkdtemp(prefix="tsdt_upsert_")
    try:
        out = stream_upsert_to_keyed_parquet(
            spark,
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(work, "table"),
            os.path.join(work, "ckpt"),
        )
        result = out.select("user_id", "value")
        # materialize before the temp dir vanishes
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "stream_stream_click_purchase_join",
    f"""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
           {sql_rd("p.value", 2)} AS purchase_value
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def _q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (attribution shape): clicks and
    purchases are two live watermarked streams; the event-time interval
    in the join condition bounds both sides' state to the
    watermark+window horizon. Finals (append-mode, availableNow) must
    equal the batch interval join the oracle runs."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_stream_interval_join,
    )

    return stream_stream_interval_join(
        spark, os.path.join(sf_dir, "events.parquet")
    )


# ---------------------------------------------------------------------------
# Streaming ordered funnel (stream_ops.stream_funnel)
# ---------------------------------------------------------------------------


@register(
    "stream_funnel_users",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (
      SELECT user_id, min(us) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.us) AS t2
      FROM e JOIN s1 ON s1.user_id = e.user_id AND e.us > s1.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.us) AS t3
      FROM e JOIN s2 ON s2.user_id = e.user_id AND e.us > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    u AS (SELECT DISTINCT user_id FROM e)
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS stage_reached,
           s1.t1 AS t1_us, s2.t2 AS t2_us, s3.t3 AS t3_us
    FROM u
    LEFT JOIN s1 ON s1.user_id = u.user_id
    LEFT JOIN s2 ON s2.user_id = u.user_id
    LEFT JOIN s3 ON s3.user_id = u.user_id
    """,
)
def _q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel (`stream_ops.stream_funnel`): a
    constant-size per-user state machine in GroupState latches the
    earliest strictly-after timestamp of each stage across
    micro-batches; with event-time-ordered arrival the final emission
    equals the batch staged-min-join answer row for row, which is what
    the oracle checks. The batch funnel reports the aggregate
    (stage, users) counts; this one keeps per-user conversion times —
    the row-level feed a real-time attribution sink consumes."""
    from time_series_data_trimmer_spark.streaming.stream_ops import stream_funnel

    return stream_funnel(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_dq_violations",
    f"""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS window_start, value, event_type
      FROM events
    ),
    g AS (
      SELECT window_start,
             count(*) AS c0,
             count(*) FILTER (WHERE value IS NULL) AS v0,
             count(*) FILTER (WHERE value IS NOT NULL) AS c1,
             count(*) FILTER (WHERE value IS NOT NULL
                              AND (value < 0.0 OR value > 300.0)) AS v1,
             count(*) FILTER (WHERE event_type IS NOT NULL) AS c2,
             count(*) FILTER (WHERE event_type IS NOT NULL AND event_type
                              NOT IN ('view','click','purchase','signup')) AS v2
      FROM w GROUP BY window_start
    ),
    u AS (
      SELECT window_start, 'not_null(value)' AS rule, c0 AS n_checked, v0 AS n_violations FROM g
      UNION ALL
      SELECT window_start, 'in_range(value,0.0,300.0)', c1, v1 FROM g
      UNION ALL
      SELECT window_start, 'in_set(event_type)', c2, v2 FROM g
    )
    SELECT window_start, rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           {R("CASE WHEN n_checked > 0 THEN CAST(n_violations AS DOUBLE)"
              " / CAST(n_checked AS DOUBLE) ELSE 0.0 END", 6)} AS violation_rate
    FROM u
    """,
)
def _q_stream_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest-quality monitor
    (`stream_ops.stream_dq_violations`): the wave-8 declarative RowRule
    suite compiled into one stateless tumbling-hour streaming
    aggregation — per-window per-rule violation counts and rates as
    data lands (here the 'error' event type and the >300 value tail
    trip the set/range rules non-trivially). Watermarked like every
    tumbling query; state per open window is one counter row. The
    fold is window-pure, so complete-mode final state equals the
    batch GROUP BY oracle exactly."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_dq_violations,
    )

    return stream_dq_violations(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_content_fingerprint",
    f"""
    WITH h AS (
      SELECT source,
             {sp.sql_hash_u32(
                 "concat_ws('|', CAST(doc_id AS VARCHAR), coalesce(text, ''),"
                 " coalesce(lang, ''), CAST(n_chars AS VARCHAR))",
                 'tsdt|fp')} AS u
      FROM documents
    )
    SELECT source, count(*) AS n_rows,
           CAST(sum(CAST(u AS DECIMAL(38,0))) % 1000000000000000000 AS BIGINT)
             AS content_sum_mod,
           min(u) AS content_min, max(u) AS content_max
    FROM h GROUP BY source
    """,
)
def _q_stream_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest-integrity fingerprint
    (`stream_ops.stream_content_fingerprint`): the order-insensitive
    reconciliation sum maintained as streaming state while document
    files arrive — because count/sum/min/max are merge-equals-one-shot,
    the final streaming state must equal the BATCH fingerprint of the
    same corpus bit-for-bit (the oracle here IS the batch
    `dq_content_fingerprint` SQL, unchanged — that equality is the
    entire point: continuous handoffs verify without batch re-reads)."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_content_fingerprint,
    )

    return stream_content_fingerprint(
        spark, os.path.join(sf_dir, "documents.parquet")
    )


# ---------------------------------------------------------------------------
# r7 wave 35: streaming PSI drift monitor
# ---------------------------------------------------------------------------


@register(
    "stream_psi_drift_daily",
    f"""
    WITH ev AS (
      SELECT event_type, ts, value FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
      SELECT event_type,
             quantile_cont(value, [{", ".join(str(q) for q in _PSI_DECILES)}]) AS bs
      FROM ev GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type, date_trunc('day', e.ts) AS window_start,
             len(list_filter(b.bs, q -> e.value > q)) AS bin
      FROM ev e JOIN bounds b USING (event_type)
    ),
    refc AS (
      SELECT event_type, bin, count(*) AS rc FROM binned GROUP BY 1, 2
    ),
    reft AS (SELECT event_type, sum(rc) AS nr FROM refc GROUP BY 1),
    wc AS (
      SELECT event_type, window_start, bin, count(*) AS cw
      FROM binned GROUP BY 1, 2, 3
    ),
    wt AS (
      SELECT event_type, window_start, sum(cw) AS n
      FROM wc GROUP BY 1, 2
    ),
    grid AS (
      SELECT wt.event_type, wt.window_start, wt.n, g.bin
      FROM wt CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g
    ),
    terms AS (
      SELECT grid.event_type, grid.window_start, grid.n,
             COALESCE(wc.cw, 0) AS cw, COALESCE(refc.rc, 0) AS rc, reft.nr,
             CASE WHEN COALESCE(wc.cw, 0) > 0 AND COALESCE(refc.rc, 0) > 0
                  THEN 1 ELSE 0 END AS used,
             CASE WHEN COALESCE(wc.cw, 0) > 0 AND COALESCE(refc.rc, 0) > 0
               THEN CAST({R("(CAST(wc.cw AS DOUBLE) / CAST(grid.n AS DOUBLE)"
                            " - CAST(refc.rc AS DOUBLE) / CAST(reft.nr AS DOUBLE))"
                            " * ln((CAST(wc.cw AS DOUBLE) / CAST(grid.n AS DOUBLE))"
                            " / (CAST(refc.rc AS DOUBLE) / CAST(reft.nr AS DOUBLE)))", 8)}
                    AS DECIMAL(38,8))
             END AS term
      FROM grid
      LEFT JOIN wc ON wc.event_type = grid.event_type
                  AND wc.window_start = grid.window_start
                  AND wc.bin = grid.bin
      LEFT JOIN refc ON refc.event_type = grid.event_type
                    AND refc.bin = grid.bin
      JOIN reft ON reft.event_type = grid.event_type
    )
    SELECT window_start, event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(sum(used) AS BIGINT) AS n_bins_used,
           CAST(count(*) - sum(used) AS BIGINT) AS n_bins_skipped,
           {R("CAST(sum(term) AS DOUBLE)", 6)} AS psi
    FROM terms GROUP BY window_start, event_type
    """,
)
def _q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor (`stream_ops.stream_psi_drift`):
    per tumbling DAY window and channel, the PSI of that window's
    value distribution against the corpus-wide reference deciles — the
    continuous twin of `stats_psi_halves_by_type` (same bins, same
    term arithmetic, same skip-and-report contract). Streaming state
    is 10 bin counters + a total per open (window, type) — pure
    map-side-combinable sums, so the complete-mode final state equals
    the batch GROUP BY and the exact oracle applies; bin assignment is
    a stateless stream-static broadcast array fold."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_psi_drift,
    )

    return stream_psi_drift(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_state_partition_report",
    """
    WITH ev AS (
      SELECT user_id, event_type,
             epoch_us(ts) // 3600000000 AS hour_bucket,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    classes AS (
      SELECT 'join_stream_stream' AS state_class,
             (SELECT count(*) FROM ev
              WHERE event_type IN ('click', 'purchase')) AS n_state_keys
      UNION ALL
      SELECT 'dedup_within_watermark',
             (SELECT count(*) FROM (
                SELECT DISTINCT user_id,
                       md5(coalesce(event_type, '<null>') || '|' ||
                           coalesce(CAST(cents AS VARCHAR), '<null>'))
                FROM ev))
      UNION ALL
      SELECT 'groupstate_by_user',
             (SELECT count(DISTINCT user_id) FROM ev)
      UNION ALL
      SELECT 'groupstate_by_type',
             (SELECT count(DISTINCT event_type) FROM ev)
      UNION ALL
      SELECT 'window_agg_hour_type',
             (SELECT count(*) FROM (
                SELECT DISTINCT hour_bucket, event_type FROM ev))
    )
    SELECT state_class,
           CAST(n_state_keys AS BIGINT) AS n_state_keys,
           CAST(n_state_keys * 87 AS BIGINT) AS state_bytes_est,
           CAST(greatest(4, CAST(ceil(n_state_keys / 25000.0) AS BIGINT))
                AS BIGINT) AS recommended_partitions
    FROM classes
    """,
)
def _q_stream_state_partition_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Invariant 18 made AUDITABLE (VERDICT r8 #4): the data-derived
    state-partition recommendation per streaming state-op CLASS,
    computed from the batch corpus the stream would ingest. Each
    class's state-size driver: the stream-stream join buffers both
    filtered sides within the watermark horizon (rows); watermarked
    dedup holds one entry per distinct (key, content digest);
    GroupState ops hold one entry per group (user / type); window aggs
    hold one row per open (window, type). Recommendation =
    max(4, ceil(keys / 25 000)) — `_auto_state_partitions`' formula
    UNCAPPED (the session-width cap is a deploy-time bound, not a data
    property); `state_bytes_est` prices capacity at the measured
    ≈87 B/key RocksDB footprint (COVERAGE.md, sf0.01 dedup
    measurement). The same numbers `state_store_metrics` reports at
    runtime, predicted from data — what a capacity planner runs BEFORE
    the stream exists; the r9 state-partition matrix (SCALING.md)
    validates the recommendation per class."""
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    base = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias(
            "hour_bucket"
        ),
        cents.alias("cents"),
    )
    digest = F.md5(
        F.concat(
            F.coalesce(F.col("event_type"), F.lit("<null>")),
            F.lit("|"),
            F.coalesce(F.col("cents").cast("string"), F.lit("<null>")),
        )
    )
    join_keys = base.filter(
        F.col("event_type").isin("click", "purchase")
    ).agg(F.count(F.lit(1)).alias("n"))
    dedup_keys = (
        base.select("user_id", digest.alias("ck"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    user_keys = base.agg(F.countDistinct("user_id").alias("n"))
    type_keys = base.agg(F.countDistinct("event_type").alias("n"))
    win_keys = (
        base.select("hour_bucket", "event_type")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = [
        ("join_stream_stream", join_keys),
        ("dedup_within_watermark", dedup_keys),
        ("groupstate_by_user", user_keys),
        ("groupstate_by_type", type_keys),
        ("window_agg_hour_type", win_keys),
    ]
    out = None
    for name, agg in rows:
        r = agg.select(
            F.lit(name).alias("state_class"),
            F.col("n").cast("long").alias("n_state_keys"),
            (F.col("n") * F.lit(87)).cast("long").alias("state_bytes_est"),
            F.greatest(
                F.lit(4), F.ceil(F.col("n") / F.lit(25000.0)).cast("long")
            ).cast("long").alias("recommended_partitions"),
        )
        out = r if out is None else out.unionByName(r)
    return out


@register(
    "stream_cusum_level_alerts",
    f"""
    WITH e AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) - 1050000 AS d
      FROM events WHERE value IS NOT NULL
    ),
    c AS (
      SELECT event_type, ts, event_id, d,
             sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM e
    ),
    s AS (
      SELECT event_type, d, cum,
             cum - least(CAST(0 AS BIGINT),
                         min(cum) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING)) AS sc
      FROM c
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_obs,
           {sql_rd("CAST(max(sc) AS DOUBLE) / 10000.0", 4)} AS max_cusum,
           CAST(sum(CASE WHEN sc > 5000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
           {sql_rd("CAST(sum(d) - least(CAST(0 AS BIGINT), min(cum)) AS DOUBLE) / 10000.0", 4)} AS cusum_now
    FROM s GROUP BY event_type
    """,
)
def _q_stream_cusum_level_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM level-shift monitor (`stream_cusum_alert`,
    Page 1954) per event type — the ORDER-DEPENDENT state-machine
    member of the streaming family (counters/sketches/windows commute
    with batching; this one does not, which is exactly why it needs
    `applyInPandasWithState`): S⁺ = max(0, S⁺ + (x−μ₀−κ)) with alerts
    on S⁺ > h, carried across micro-batches as O(1) integer state via
    the closed form S⁺_n = cum_n − min(0, min prefix cum). Values
    quantize to integer ten-thousandths scan-side, so stream state
    and the oracle's two window passes are EXACT INT64 end-to-end —
    the final streaming state equals the batch fixpoint bit-for-bit
    (μ₀=100, κ=5, h=500 on the events value scale). Emits running
    totals per trigger; the registry entry reduces emissions to the
    final state per key (n_obs is monotone)."""
    from time_series_data_trimmer_spark.streaming.stream_ops import (
        stream_cusum_alert,
    )

    out = stream_cusum_alert(spark, os.path.join(sf_dir, "events.parquet"))
    agg = out.groupBy("event_type").agg(
        F.max(
            F.struct("n_obs", "n_alerts", "max_cusum", "cusum_now")
        ).alias("__s")
    )
    return agg.select(
        "event_type",
        F.col("__s.n_obs").alias("n_obs"),
        F.col("__s.max_cusum").alias("max_cusum"),
        F.col("__s.n_alerts").alias("n_alerts"),
        F.col("__s.cusum_now").alias("cusum_now"),
    )


# ---------------------------------------------------------------------------
# r11 wave 3: out-of-orderness audit -> data-derived watermark delay.
# ---------------------------------------------------------------------------

_WM_QS = ((50, 0.5), (95, 0.95), (99, 0.99))


@register(
    "stream_watermark_lateness_audit",
    f"""
    WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS us FROM events
    ),
    lat AS (
      SELECT event_type,
             max(us) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS UNBOUNDED PRECEDING
             ) - us AS lateness_us
      FROM e
    ),
    rk AS (
      SELECT event_type, lateness_us,
             row_number() OVER (
               PARTITION BY event_type ORDER BY lateness_us
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM lat
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           {", ".join(
             f"CAST(max(CASE WHEN rn = CAST(ceil({q} * n) AS BIGINT) "
             f"THEN lateness_us END) AS BIGINT) AS p{p}_lateness_us"
             for p, q in _WM_QS)},
           CAST(max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                THEN lateness_us END) AS BIGINT) AS watermark_delay_us
    FROM rk GROUP BY event_type
    """,
)
def _q_stream_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OUT-OF-ORDERNESS audit → data-derived watermark delay: for each
    event type, the distribution of event-time LATENESS relative to
    the max event time already seen in arrival order (event_id — the
    ingest sequence), i.e. exactly the quantity a Structured Streaming
    watermark bounds. `withWatermark(delay)` drops events later than
    delay behind the frontier; picking delay by folklore either drops
    data (too small) or balloons state (too large — the invariant-18
    capacity term). This query makes the choice a measurement: p50/
    p95/p99 lateness as exact ORDER STATISTICS (ceil(q·n)-th smallest
    — engine-identical values, invariant 21) and the p99 as the
    recommended delay, the complement to
    `stream_state_partition_report`'s state sizing. Plan: one
    type-keyed running-max window pass in arrival order, one
    type-keyed rank pass, one aggregate; |types| rows out at any
    scale. Streaming-family extension."""
    ev = _table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "event_id", event_micros(ev, "ts").alias("us")
    )
    wa = Window.partitionBy("event_type").orderBy(F.col("event_id").asc())
    lat = e.select(
        "event_type",
        (
            F.max("us").over(wa.rowsBetween(Window.unboundedPreceding, 0))
            - F.col("us")
        ).alias("lateness_us"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("lateness_us").asc())
    wf = Window.partitionBy("event_type")
    rk = lat.select(
        "event_type",
        "lateness_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wf).alias("n"),
    )
    qcols = [
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")),
                F.col("lateness_us"),
            )
        )
        .cast("long")
        .alias(f"p{p}_lateness_us")
        for p, q in _WM_QS
    ]
    return rk.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum((F.col("lateness_us") > 0).cast("int"))
        .cast("long")
        .alias("n_late"),
        *qcols,
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.99) * F.col("n")),
                F.col("lateness_us"),
            )
        )
        .cast("long")
        .alias("watermark_delay_us"),
    )
