"""Stats-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403


@register(
    "stats_spearman_value_vs_hour",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS xv,
             (epoch_us(ts) // 3600000000) % 24 AS yv
      FROM events
    ),
    rx AS (
      SELECT event_type, xv, yv,
             2 * rank() OVER (PARTITION BY event_type ORDER BY xv)
               + count(*) OVER (PARTITION BY event_type, xv) - 1 AS rx2,
             2 * rank() OVER (PARTITION BY event_type ORDER BY yv)
               + count(*) OVER (PARTITION BY event_type, yv) - 1 AS ry2
      FROM e
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(rx2) AS sx, sum(ry2) AS sy,
             sum(CAST(rx2 AS DECIMAL(38,0)) * ry2) AS sxy,
             sum(CAST(rx2 AS DECIMAL(38,0)) * rx2) AS sxx,
             sum(CAST(ry2 AS DECIMAL(38,0)) * ry2) AS syy
      FROM rx GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {R(_SPEARMAN_RHO_SQL, 6)} AS spearman_rho
    FROM s
    """,
)
def _q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between value and hour-of-day per
    event type — the robust monotone-association screen (is this
    signal diurnal?). EXACT with no special functions: tie-averaged
    ranks are half-integers, so DOUBLED ranks are integers
    (2·avg_rank = 2·min_rank + ties − 1), every moment accumulates as
    an exact decimal, and rho is one IEEE expression over exact sums —
    the doubling cancels in the correlation. r13 (guide §2.2): the
    doubled rank of a value depends only on its marginal cumulative
    count (2·cum − cnt + 1), so both rank maps come from DISTINCT-value
    histograms joined back onto the joint (xv, yv) histogram — one
    combinable groupBy over the rows, windows over distinct values
    only, never a per-row rank sort."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("xv"),
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24
        ).alias("yv"),
    )
    joint = ev.groupBy("event_type", "xv", "yv").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    xr = _sv_cum_hist(
        joint.select(
            "event_type", F.col("xv").alias("sv"), "cnt"
        ).groupBy("event_type", "sv").agg(F.sum("cnt").alias("cnt")),
        ["event_type"],
        pre_counted=True,
    ).select(
        "event_type",
        F.col("sv").alias("xv"),
        (2 * F.col("cum") - F.col("cnt") + 1).alias("rx2"),
    )
    yr = _sv_cum_hist(
        joint.select(
            "event_type", F.col("yv").alias("sv"), "cnt"
        ).groupBy("event_type", "sv").agg(F.sum("cnt").alias("cnt")),
        ["event_type"],
        pre_counted=True,
    ).select(
        "event_type",
        F.col("sv").alias("yv"),
        (2 * F.col("cum") - F.col("cnt") + 1).alias("ry2"),
    )
    r = (
        joint.join(xr.hint("shuffle_hash"), ["event_type", "xv"])
        .join(yr.hint("shuffle_hash"), ["event_type", "yv"])
        .select("event_type", "cnt", "rx2", "ry2")
    )
    s = r.groupBy("event_type").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("rx2")).alias("sx"),
        F.sum(F.col("cnt") * F.col("ry2")).alias("sy"),
        F.sum(
            F.col("rx2").cast("decimal(38,0)") * F.col("ry2") * F.col("cnt")
        ).alias("sxy"),
        F.sum(
            F.col("rx2").cast("decimal(38,0)") * F.col("rx2") * F.col("cnt")
        ).alias("sxx"),
        F.sum(
            F.col("ry2").cast("decimal(38,0)") * F.col("ry2") * F.col("cnt")
        ).alias("syy"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        rd(
            (F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "stats_chi2_type_vs_hour",
    f"""
    WITH o AS (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod,
             count(*) AS obs
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(obs) AS rtot FROM o GROUP BY event_type),
    ct AS (SELECT hod, sum(obs) AS ctot FROM o GROUP BY hod),
    g AS (SELECT sum(obs) AS total FROM o),
    grid AS (
      SELECT rt.event_type, ct.hod, rt.rtot, ct.ctot FROM rt CROSS JOIN ct
    ),
    cells AS (
      SELECT gr.event_type, gr.hod, COALESCE(o.obs, 0) AS obs,
             CAST(gr.rtot AS DOUBLE) * gr.ctot / g.total AS expected
      FROM grid gr
      LEFT JOIN o ON o.event_type = gr.event_type AND o.hod = gr.hod
      CROSS JOIN g
    )
    SELECT CAST(sum(CAST({sql_rd(
               "(obs - expected) * (obs - expected) / expected", 6
           )} AS DECIMAL(38,6))) AS DOUBLE) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT hod) - 1) AS BIGINT) AS dof,
           CAST(sum(obs) AS BIGINT) AS n
    FROM cells
    """,
)
def _q_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence statistic for event_type ×
    hour-of-day — the categorical drift / association test a pipeline
    monitor runs on every ingest slice. Expected counts are one IEEE
    expression over exact integer margins; per-cell terms are
    6-dp-rounded and decimal-summed (order-independent); the
    margin-grid rebuild gives ZERO cells their expected mass — a
    type absent from an hour is evidence of dependence, not a row to
    drop (r9 fix, caught by the Cramér's-V perfect-association
    pytest). The
    contingency table is |types|·24 cells no matter how many rows
    scanned — margins and cells all ride map-side combines."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24
        ).alias("hod"),
    )
    o = ev.groupBy("event_type", "hod").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("rtot"))
    ct = o.groupBy("hod").agg(F.sum("obs").alias("ctot"))
    g = o.agg(F.sum("obs").alias("total"))
    grid = rt.select(
        "event_type",
        "rtot",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(23).cast("long"))).alias(
            "hod"
        ),
    ).join(F.broadcast(ct), "hod")
    cells = (
        grid.join(o.hint("shuffle_hash"), ["event_type", "hod"], "left")
        .crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "hod",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
            (
                F.col("rtot").cast("double") * F.col("ctot") / F.col("total")
            ).alias("expected"),
        )
    )
    return cells.agg(
        F.sum(
            rd(
                (F.col("obs") - F.col("expected"))
                * (F.col("obs") - F.col("expected"))
                / F.col("expected"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("chi2"),
        ((F.count_distinct(F.col("event_type")) - 1) * (F.count_distinct(F.col("hod")) - 1))
        .cast("long")
        .alias("dof"),
        F.sum("obs").cast("long").alias("n"),
    )


@register(
    "stats_w1_value_drift_by_type",
    f"""
    WITH e AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < {_W1_SPLIT_US} THEN 0 ELSE 1 END AS half,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv,
             event_id
      FROM events
    ),
    r AS (
      SELECT event_type, half, sv,
             row_number() OVER (
               PARTITION BY event_type, half ORDER BY sv, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY event_type, half) AS n
      FROM e
    ),
    q AS (
      SELECT event_type, half, d.d AS decile, min(sv) AS qv, min(n) AS n
      FROM r JOIN generate_series(1, 9) d(d)
        ON r.rn = CAST(ceil(d.d * r.n / 10.0) AS BIGINT)
      GROUP BY event_type, half, d.d
    )
    SELECT a.event_type,
           CAST(max(a.n) AS BIGINT) AS n_first_half,
           CAST(max(b.n) AS BIGINT) AS n_second_half,
           {R("CAST(sum(abs(a.qv - b.qv)) AS DOUBLE) / 9.0 / 10000.0", 6)} AS w1_decile_drift
    FROM q a JOIN q b
      ON a.event_type = b.event_type AND a.decile = b.decile
     AND a.half = 0 AND b.half = 1
    GROUP BY a.event_type
    """,
)
def _q_w1_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric distribution drift per event type: decile-matched 1-D
    Wasserstein distance between the month's two halves — chi-square
    (`stats_chi2_type_vs_hour`) covers the categorical axis, this one
    covers numeric columns, the pair every ingest monitor needs.
    Nearest-rank deciles over 4-dp scaled INTEGERS (value-histogram
    cumulative counts on the (type, half) key — map-side-combined,
    never a per-row rank sort), so the nine quantile gaps are exact
    integer differences and the final score is one IEEE division.
    Output is |types| rows; quantile extraction is a cumulative-count
    bin probe, not a sort-collect."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.when(
            F.expr("unix_micros(cast(ts as timestamp))") < _W1_SPLIT_US, 0
        )
        .otherwise(1)
        .alias("half"),
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    # r13 (guide §2.2): nearest-rank deciles off the VALUE HISTOGRAM
    # instead of a per-row rank window. The old row_number window
    # sorted every event row inside |types|×2 partitions — 10 tasks
    # total no matter the core count, the straggler shape that
    # inflated `pipeline_drift_report` under load. The histogram
    # groupBy is map-side combined (full parallelism), and the cum-sum
    # window runs over DISTINCT scaled values only. Equivalent by
    # construction: the sv bin covering rank positions
    # (cum−cnt, cum] contains rank ⌈d·n/10⌉ iff that rank's order
    # statistic equals sv (ties share a bin, and the event_id
    # tiebreak never changes WHICH VALUE sits at a given rank).
    h = ev.groupBy("event_type", "half", "sv").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type", "half")
        .orderBy("sv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type", "half")
    ch = h.select(
        "event_type",
        "half",
        "sv",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    # decile membership scan-side via explode(sequence) — a 9-row
    # dimension joined on a mixed-side expression would plan as an
    # unsanctioned BNLJ (caught by the plan sweep); exploding the 9
    # candidate deciles onto each narrow histogram row keeps it
    # join-free (the text_vocab_growth idiom)
    rank = F.ceil(F.col("decile") * F.col("n") / F.lit(10.0)).cast("long")
    q = (
        ch.select(
            "event_type",
            "half",
            "sv",
            "cnt",
            "cum",
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile"),
        )
        .filter((rank > F.col("cum") - F.col("cnt")) & (rank <= F.col("cum")))
        .select(
            "event_type",
            "half",
            "decile",
            F.col("sv").alias("qv"),
            "n",
        )
    )
    a = q.filter(F.col("half") == 0).select(
        "event_type", "decile", F.col("qv").alias("qa"), F.col("n").alias("na")
    )
    b = q.filter(F.col("half") == 1).select(
        "event_type", "decile", F.col("qv").alias("qb"), F.col("n").alias("nb")
    )
    return (
        a.join(b.hint("shuffle_hash"), ["event_type", "decile"])
        .groupBy("event_type")
        .agg(
            F.max("na").cast("long").alias("n_first_half"),
            F.max("nb").cast("long").alias("n_second_half"),
            rd(
                F.sum(F.abs(F.col("qa") - F.col("qb"))).cast("double")
                / 9.0
                / 10000.0,
                6,
            ).alias("w1_decile_drift"),
        )
    )


# ---------------------------------------------------------------------------
# Markov entropy rate (predictability of the event chain)
# ---------------------------------------------------------------------------


@register(
    "stats_markov_entropy_rate",
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
    t AS (SELECT src, sum(n) AS tot FROM c GROUP BY src),
    g AS (SELECT sum(n) AS total FROM c)
    SELECT CAST(sum(CAST({sql_rd(
               "-(CAST(c.n AS DOUBLE) / g.total)"
               " * log2(CAST(c.n AS DOUBLE) / t.tot)", 6
           )} AS DECIMAL(38,6))) AS DOUBLE) AS entropy_rate_bits,
           CAST(max(g.total) AS BIGINT) AS n_transitions
    FROM c JOIN t ON t.src = c.src CROSS JOIN g
    """,
)
def _q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical entropy rate of the event-type Markov chain:
    H = −Σ p(i,j)·log2 p(j|i) — how predictable the next event is
    given the current one (0 = deterministic flows, log2|types| =
    uniform noise). Composes the `markov_event_transitions` counts;
    everything after the transition aggregation is |types|² rows, with
    the bigram-LM log2 discipline (6-dp terms, decimal sum) and the
    corpus total riding the sanctioned 1-row broadcast."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = o.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("src").agg(F.sum("n").alias("tot"))
    g = c.agg(F.sum("n").alias("total"))
    term = rd(
        -(F.col("n").cast("double") / F.col("total"))
        * F.log2(F.col("n").cast("double") / F.col("tot")),
        6,
    )
    return (
        c.join(t.hint("shuffle_hash"), "src")
        .crossJoin(F.broadcast(g))
        .agg(
            F.sum(term.cast("decimal(38,6)")).cast("double").alias("entropy_rate_bits"),
            F.max("total").cast("long").alias("n_transitions"),
        )
    )


# ---------------------------------------------------------------------------
# Robust aggregation: trimmed mean + Tukey IQR fences
# ---------------------------------------------------------------------------


@register(
    "stats_trimmed_mean_by_type",
    f"""
    WITH e AS (
      SELECT event_type, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    r AS (
      SELECT event_type, sv,
             row_number() OVER (
               PARTITION BY event_type ORDER BY sv, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(max(n) - 2 * (max(n) // 10) AS BIGINT) AS n_kept,
           {R("CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10"
              " THEN sv END) AS DOUBLE)"
              " / (max(n) - 2 * (max(n) // 10)) / 10000.0", 6)} AS trimmed_mean,
           {R("CAST(sum(sv) AS DOUBLE) / max(n) / 10000.0", 6)} AS raw_mean
    FROM r GROUP BY event_type
    """,
)
def _q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-each-tail trimmed mean per event type — the robust location
    estimate that survives the fat tails a raw mean is wrecked by,
    next to the raw mean so the gap itself is the contamination
    signal. One rank window on the type key, then a conditional
    EXACT-integer sum — no second pass, no percentile interpolation
    (the trim boundary is a rank, so integer sums stay exact)."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    # r13 (guide §2.2): band sum off the cumulative value histogram —
    # a value bin covering rank span (cum−cnt, cum] contributes
    # sv × |overlap with the kept band (t, n−t]| — replacing the
    # per-row rank window (|types| sort tasks) with a combinable
    # groupBy; identical integer totals term for term.
    ch = _sv_cum_hist(ev, ["event_type"])
    t = F.expr("n div 10")
    inband = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - t)
        - F.greatest(F.col("cum") - F.col("cnt"), t),
    )
    return ch.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        (F.max("n") - 2 * F.expr("max(n) div 10")).cast("long").alias("n_kept"),
        rd(
            F.sum(F.col("sv") * inband).cast("double")
            / (F.max("n") - 2 * F.expr("max(n) div 10"))
            / 10000.0,
            6,
        ).alias("trimmed_mean"),
        rd(
            F.sum(F.col("sv") * F.col("cnt")).cast("double")
            / F.max("n")
            / 10000.0,
            6,
        ).alias("raw_mean"),
    )


@register(
    "stats_iqr_fences_by_type",
    f"""
    WITH e AS (
      SELECT event_type, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events
    ),
    r AS (
      SELECT event_type, sv,
             row_number() OVER (
               PARTITION BY event_type ORDER BY sv, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    q AS (
      SELECT event_type, max(n) AS n,
             max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN sv END) AS q1,
             max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN sv END) AS q3
      FROM r GROUP BY event_type
    ),
    f AS (
      SELECT event_type, n, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
      FROM q
    )
    SELECT f.event_type, CAST(f.n AS BIGINT) AS n,
           {R("max(f.q1) / 10000.0", 6)} AS q1,
           {R("max(f.q3) / 10000.0", 6)} AS q3,
           CAST(count(*) FILTER (WHERE r.sv < f.lo OR r.sv > f.hi) AS BIGINT)
             AS n_outliers
    FROM f JOIN r ON r.event_type = f.event_type
    GROUP BY f.event_type, f.n
    """,
)
def _q_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey box-plot fences per event type: nearest-rank Q1/Q3 on
    4-dp scaled integers, fences at ±1.5·IQR, and the exact count
    outside them — the third member of the robust-outlier family
    (σ-rule in A5, median/MAD in ts_mad_outliers). The fence compare
    is one IEEE expression over exact integers; the quartiles are rank
    filters on the same type-keyed window the trimmed mean uses."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    # r13 (guide §2.2): quartiles via cumulative-histogram bin probe
    # (rank r lives in the unique bin with cum−cnt < r ≤ cum) and the
    # fence count as Σ cnt over out-of-fence bins — replacing the
    # per-row rank window and the full-row re-join with histogram-
    # sized work after one combinable groupBy.
    ch = _sv_cum_hist(ev, ["event_type"])
    r1 = F.ceil(0.25 * F.col("n")).cast("long")
    r3 = F.ceil(0.75 * F.col("n")).cast("long")
    q = ch.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(
                (r1 > F.col("cum") - F.col("cnt")) & (r1 <= F.col("cum")),
                F.col("sv"),
            )
        ).alias("q1"),
        F.max(
            F.when(
                (r3 > F.col("cum") - F.col("cnt")) & (r3 <= F.col("cum")),
                F.col("sv"),
            )
        ).alias("q3"),
    )
    f = q.select(
        "event_type",
        "n",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        ch.select("event_type", "sv", "cnt")
        .join(f.hint("shuffle_hash"), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(F.col("n")).cast("long").alias("n"),
            rd(F.max("q1").cast("double") / 10000.0, 6).alias("q1"),
            rd(F.max("q3").cast("double") / 10000.0, 6).alias("q3"),
            F.sum(
                F.when(
                    (F.col("sv") < F.col("lo")) | (F.col("sv") > F.col("hi")),
                    F.col("cnt"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality expectations, sketch roll-ups, compaction planning
# ---------------------------------------------------------------------------


@register(
    "dq_expectations_report",
    f"""
    WITH rr AS (
      SELECT 'not_null(o_custkey)' AS rule,
             count(*) AS n_checked,
             count(*) FILTER (WHERE o_custkey IS NULL) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'in_range(o_totalprice,0.0,100000.0)',
             count(*) FILTER (WHERE o_totalprice IS NOT NULL),
             count(*) FILTER (WHERE o_totalprice IS NOT NULL
                              AND (o_totalprice < 0.0 OR o_totalprice > 100000.0))
      FROM orders
      UNION ALL
      SELECT 'in_set(o_orderstatus)',
             count(*) FILTER (WHERE o_orderstatus IS NOT NULL),
             count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('F', 'O'))
      FROM orders
      UNION ALL
      SELECT 'priority_format',
             count(*) FILTER (WHERE o_orderpriority IS NOT NULL),
             count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
      FROM orders
    ),
    uq AS (
      SELECT 'unique(o_orderkey)' AS rule,
             count(o_orderkey) AS n_checked,
             count(o_orderkey) - count(DISTINCT o_orderkey) AS n_violations
      FROM orders
    ),
    fk AS (
      SELECT 'fk(o_custkey)' AS rule,
             (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL) AS n_checked,
             (SELECT count(*) FROM orders o
              WHERE o.o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS n_violations
    ),
    allr AS (
      SELECT * FROM rr UNION ALL SELECT * FROM uq UNION ALL SELECT * FROM fk
    )
    SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           {R("CASE WHEN n_checked > 0 THEN CAST(n_violations AS DOUBLE)"
              " / CAST(n_checked AS DOUBLE) ELSE 0.0 END", 6)} AS violation_rate
    FROM allr
    """,
)
def _q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the orders drop
    (`quality.expectations_report`): null / range / set / format rules
    answered by ONE scan (the whole row-rule suite folds into a single
    map-side-combined aggregation, unpivoted via explode on the 1-row
    result — no per-rule re-scan, the thing Great-Expectations-style
    suites get wrong at 100 TB), plus the exact PK-uniqueness
    aggregation and the o_custkey → customer referential-integrity
    LEFT ANTI join (narrow key columns only). Range/set/format bounds
    are deliberately tight so the violation counters are exercised
    non-trivially on clean TPC-H data.

    Reference anchor: the reference's CSV bad-cell coercion + mask
    (data_model.py bad-mask path) generalized to declarative rule
    suites with per-rule accounting."""
    from time_series_data_trimmer_spark.operators import quality as dq

    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    return dq.expectations_report(
        orders,
        row_rules=[
            dq.not_null("o_custkey"),
            dq.in_range("o_totalprice", 0.0, 100000.0),
            dq.in_set("o_orderstatus", ["F", "O"]),
            dq.matches("o_orderpriority", "^[1-3]-", label="priority_format"),
        ],
        unique_cols=["o_orderkey"],
        fks=[("o_custkey", cust, "c_custkey")],
    )


# ---------------------------------------------------------------------------
# Wave 9: data forensics + reconciliation + robust trend
# ---------------------------------------------------------------------------


@register(
    "dq_content_fingerprint",
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
def _q_dq_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-source CONTENT FINGERPRINT for cross-
    engine / cross-store reconciliation: the decimal sum (+ min/max +
    count) of a portable md5 row hash over the full row payload. Sum
    is commutative-associative, so the fingerprint is independent of
    partitioning, file order, and engine — copy a 100 TB corpus
    between stores, run this on both sides, diff G rows. A dropped,
    duplicated, or bit-flipped row moves the sum with probability
    ~1-2⁻³². ONE scan, map-side-combined aggregation; the hash
    evaluates scan-side so only (source, u) shuffles."""
    docs = _table(spark, sf_dir, "documents")
    row_repr = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
        F.col("n_chars").cast("string"),
    )
    return (
        docs.select(
            "source", sp.hash_u32(row_repr, "tsdt|fp").alias("__u")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(
                F.sum(F.col("__u").cast("decimal(38,0)")),
                F.lit(1000000000000000000).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("content_sum_mod"),
            F.min("__u").alias("content_min"),
            F.max("__u").alias("content_max"),
        )
    )


@register(
    "dq_benford_first_digit",
    f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    ),
    d AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM c
    ),
    g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS total FROM g)
    SELECT g.digit, CAST(g.n AS BIGINT) AS n,
           {R("CAST(g.n AS DOUBLE) / CAST(t.total AS DOUBLE)", 6)} AS pct,
           {R("log10(1.0 + 1.0 / CAST(g.digit AS DOUBLE))", 6)} AS benford_pct,
           {R("CAST(g.n AS DOUBLE) / CAST(t.total AS DOUBLE)"
              " - log10(1.0 + 1.0 / CAST(g.digit AS DOUBLE))", 6)} AS deviation
    FROM g CROSS JOIN t
    """,
)
def _q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over order totals —
    the classic fabricated-/truncated-data forensic (synthetic or
    clipped value distributions drift hard from log10(1+1/d)). Digit
    extraction goes through EXACT integer cents and integer→string
    (both engines render integers identically — no float→string, no
    floor(log10()) edge cases at powers of ten). One 9-row aggregation
    + the sanctioned 1-row total broadcast."""
    orders = _table(spark, sf_dir, "orders")
    cents = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("long")
            .alias("__cents")
        )
    )
    g = (
        cents.select(
            F.substring(F.col("__cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = g.agg(F.sum("n").alias("__total"))
    pct = F.col("n").cast("double") / F.col("__total").cast("double")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return g.crossJoin(t).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        rd(pct, 6).alias("pct"),
        rd(benford, 6).alias("benford_pct"),
        rd(pct - benford, 6).alias("deviation"),
    )


@register(
    "stats_moments_by_type",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS DECIMAL(12,0)) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    p AS (
      SELECT event_type, sv,
             CAST(sv * sv AS DECIMAL(19,0)) AS p2
      FROM e
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(sv AS DECIMAL(38,0))) AS s1,
             sum(CAST(p2 AS DECIMAL(38,0))) AS s2,
             sum(CAST(p2 * sv AS DECIMAL(38,0))) AS s3,
             sum(CAST(p2 * p2 AS DECIMAL(38,0))) AS s4
      FROM p GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM s
    ),
    cm AS (
      SELECT event_type, n, mu,
             r2 - mu * mu AS m2,
             r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
             r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4
      FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {R("mu / 10000.0", 6)} AS mean,
           {R("sqrt(m2) / 10000.0", 6)} AS std_pop,
           {R("m3 / power(m2, 1.5)", 6)} AS skewness,
           {R("m4 / (m2 * m2) - 3.0", 6)} AS excess_kurtosis
    FROM cm
    """,
)
def _q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact higher moments per event type — skewness and excess
    kurtosis, the tail-shape numbers that decide between the mean±kσ
    spike rule (A5) and the robust MAD/IQR family. Raw power sums
    S1..S4 accumulate 4-dp scaled INTEGERS in decimal(38,0) (sv⁴ ≤
    ~10²⁸ per term, ~10³⁴ summed — exact, partial-agg-order-proof);
    the central-moment combination is one identical IEEE expression in
    both engines, and skew/kurtosis are scale-invariant so the 1e4
    scaling cancels. ONE map-side-combined aggregation."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    sv = (
        F.floor(F.col("value") * 10000.0 + 0.5)
        .cast("long")
        .cast("decimal(12,0)")
    )
    e = ev.select("event_type", sv.alias("__sv")).withColumn(
        "__p2", (F.col("__sv") * F.col("__sv")).cast("decimal(19,0)")
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__sv").cast("decimal(38,0)")).alias("__s1"),
        F.sum(F.col("__p2").cast("decimal(38,0)")).alias("__s2"),
        F.sum((F.col("__p2") * F.col("__sv")).cast("decimal(38,0)")).alias("__s3"),
        F.sum((F.col("__p2") * F.col("__p2")).cast("decimal(38,0)")).alias("__s4"),
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("__s1").cast("double") / F.col("n")).alias("__mu"),
        (F.col("__s2").cast("double") / F.col("n")).alias("__r2"),
        (F.col("__s3").cast("double") / F.col("n")).alias("__r3"),
        (F.col("__s4").cast("double") / F.col("n")).alias("__r4"),
    )
    cm = m.select(
        "event_type",
        "n",
        "__mu",
        (F.col("__r2") - F.col("__mu") * F.col("__mu")).alias("__m2"),
        (
            F.col("__r3")
            - F.lit(3.0) * F.col("__mu") * F.col("__r2")
            + F.lit(2.0) * F.col("__mu") * F.col("__mu") * F.col("__mu")
        ).alias("__m3"),
        (
            F.col("__r4")
            - F.lit(4.0) * F.col("__mu") * F.col("__r3")
            + F.lit(6.0) * F.col("__mu") * F.col("__mu") * F.col("__r2")
            - F.lit(3.0)
            * F.col("__mu")
            * F.col("__mu")
            * F.col("__mu")
            * F.col("__mu")
        ).alias("__m4"),
    )
    return cm.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        rd(F.col("__mu") / 10000.0, 6).alias("mean"),
        rd(F.sqrt(F.col("__m2")) / 10000.0, 6).alias("std_pop"),
        rd(F.col("__m3") / F.pow(F.col("__m2"), 1.5), 6).alias("skewness"),
        rd(
            F.col("__m4") / (F.col("__m2") * F.col("__m2")) - F.lit(3.0), 6
        ).alias("excess_kurtosis"),
    )


@register(
    "stats_mutual_info_type_hour",
    f"""
    WITH e AS (
      SELECT event_type AS t, CAST(hour(ts) AS BIGINT) AS h FROM events
    ),
    cells AS (SELECT t, h, count(*) AS c FROM e GROUP BY t, h),
    mt AS (SELECT t, sum(c) AS ct FROM cells GROUP BY t),
    mh AS (SELECT h, sum(c) AS ch FROM cells GROUP BY h),
    n AS (SELECT sum(c) AS nn FROM cells),
    mi AS (
      SELECT CAST(max(n.nn) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(CAST(
               {sql_rd("(CAST(cells.c AS DOUBLE) / CAST(n.nn AS DOUBLE))"
                       " * log2((CAST(cells.c AS DOUBLE) * CAST(n.nn AS DOUBLE))"
                       " / (CAST(mt.ct AS DOUBLE) * CAST(mh.ch AS DOUBLE)))", 6)}
               AS DECIMAL(38,6))) AS DOUBLE) AS mi_bits
      FROM cells
      JOIN mt ON mt.t = cells.t
      JOIN mh ON mh.h = cells.h
      CROSS JOIN n
    ),
    ht AS (
      SELECT CAST(sum(CAST(
               {sql_rd("-(CAST(mt.ct AS DOUBLE) / CAST(n.nn AS DOUBLE))"
                       " * log2(CAST(mt.ct AS DOUBLE) / CAST(n.nn AS DOUBLE))", 6)}
               AS DECIMAL(38,6))) AS DOUBLE) AS h_type_bits
      FROM mt CROSS JOIN n
    ),
    hh AS (
      SELECT CAST(sum(CAST(
               {sql_rd("-(CAST(mh.ch AS DOUBLE) / CAST(n.nn AS DOUBLE))"
                       " * log2(CAST(mh.ch AS DOUBLE) / CAST(n.nn AS DOUBLE))", 6)}
               AS DECIMAL(38,6))) AS DOUBLE) AS h_hour_bits
      FROM mh CROSS JOIN n
    )
    SELECT mi.n, mi.n_cells,
           {R("mi.mi_bits", 6)} AS mi_bits,
           {R("ht.h_type_bits", 6)} AS h_type_bits,
           {R("hh.h_hour_bits", 6)} AS h_hour_bits
    FROM mi CROSS JOIN ht CROSS JOIN hh
    """,
)
def _q_stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (bits) between event type and hour-of-day —
    the behavioral-dependence audit: MI ≈ 0 says the type mix is
    stationary across the day (time-based train/val splits are safe);
    high MI says temporal splits leak the type distribution. Exact
    counts into |types|·24 bounded cells; every −p·log₂p and
    p·log₂(pN/(p_t·p_h)) term is 6-dp rounded then DECIMAL-summed
    (the token-entropy discipline) so the sums are
    partial-agg-order-proof. The marginal entropies come from their
    OWN tiny aggregations (|types| and 24 rows) — no shared-scan
    trickery that would divide rounded terms and re-round. Everything
    after the first aggregation is O(cells); the three 1-row results
    cross-join (sanctioned scalars)."""
    ev = _events(spark, sf_dir)
    e = ev.select(
        F.col("event_type").alias("t"),
        F.hour(F.col("ts")).cast("long").alias("h"),
    )
    cells = e.groupBy("t", "h").agg(F.count(F.lit(1)).alias("c"))
    mt = cells.groupBy("t").agg(F.sum("c").alias("ct"))
    mh = cells.groupBy("h").agg(F.sum("c").alias("ch"))
    n = cells.agg(F.sum("c").alias("nn"))
    cd = F.col("c").cast("double")
    nd = F.col("nn").cast("double")
    ctd = F.col("ct").cast("double")
    chd = F.col("ch").cast("double")
    mi = (
        cells.join(mt.hint("shuffle_hash"), "t")
        .join(mh.hint("shuffle_hash"), "h")
        .crossJoin(n)
        .select(
            "nn",
            rd((cd / nd) * F.log2((cd * nd) / (ctd * chd)), 6).alias("__mi"),
        )
        .agg(
            F.max("nn").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum(F.col("__mi").cast("decimal(38,6)"))
            .cast("double")
            .alias("__mi_bits"),
        )
    )
    ht = (
        mt.crossJoin(n)
        .select(rd(-(ctd / nd) * F.log2(ctd / nd), 6).alias("__t"))
        .agg(F.sum(F.col("__t").cast("decimal(38,6)")).cast("double").alias("__ht"))
    )
    hh = (
        mh.crossJoin(n)
        .select(rd(-(chd / nd) * F.log2(chd / nd), 6).alias("__t"))
        .agg(F.sum(F.col("__t").cast("decimal(38,6)")).cast("double").alias("__hh"))
    )
    return (
        mi.crossJoin(ht)
        .crossJoin(hh)
        .select(
            "n",
            "n_cells",
            rd(F.col("__mi_bits"), 6).alias("mi_bits"),
            rd(F.col("__ht"), 6).alias("h_type_bits"),
            rd(F.col("__hh"), 6).alias("h_hour_bits"),
        )
    )


@register(
    "stats_ks_halves_by_type",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) AS us, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    rng AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
    f AS (
      SELECT event_type, v,
             CASE WHEN us <= (u0 + u1) // 2 THEN 1 ELSE 0 END AS isa
      FROM ev CROSS JOIN rng
    ),
    r AS (
      SELECT event_type, v,
             sum(isa) OVER (PARTITION BY event_type ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS ca,
             sum(1 - isa) OVER (PARTITION BY event_type ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cb,
             sum(isa) OVER (PARTITION BY event_type) AS na,
             sum(1 - isa) OVER (PARTITION BY event_type) AS nb,
             lead(v) OVER (PARTITION BY event_type ORDER BY v) AS nv
      FROM f
    ),
    l AS (SELECT * FROM r WHERE nv IS NULL OR nv <> v),
    m AS (
      SELECT event_type,
             max(abs(CAST(ca AS DECIMAL(38,0)) * nb
                     - CAST(cb AS DECIMAL(38,0)) * na)) AS dnum,
             max(na) AS n_a, max(nb) AS n_b
      FROM l GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           {R("CAST(dnum AS DOUBLE)"
              " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))", 6)} AS ks_stat,
           {R("1.358 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
              " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))", 6)}
             AS c_alpha_05,
           CAST(CASE WHEN {R("CAST(dnum AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))", 6)}
                   > {R("1.358 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))", 6)}
              THEN 1 ELSE 0 END AS INTEGER) AS drift_flag
    FROM m WHERE n_a > 0 AND n_b > 0
    """,
)
def _q_stats_ks_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test per event type:
    the value distribution of the first time-half of the corpus vs the
    second (split at the integer midpoint of the event-time range) —
    the NONPARAMETRIC member of the drift family (chi2 = categorical,
    W1 = decile-matched magnitude, KS = max CDF gap, sensitive to
    shape changes W1's decile matching smooths over). The statistic is
    computed in EXACT INTEGER arithmetic end-to-end: the max CDF gap
    is max |ca·nb − cb·na| over decimal(38,0) cross-products (no float
    until the single final division), evaluated only at the last tie
    row of each distinct value (lead(v) ≠ v), which makes intra-tie
    window order irrelevant in both engines. One Exchange on
    event_type carries the two running sums, the partition totals, the
    lead, and the final max; the time-range midpoint is the sanctioned
    1-row scalar cross join. Output is |types| rows with the KS stat,
    the α=0.05 critical value (1.358·√((na+nb)/(na·nb)), IEEE sqrt is
    correctly rounded so both engines agree bit-for-bit), and the
    drift flag."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    us = event_micros(ev)
    base = ev.select("event_type", us.alias("__us"), F.col("value").alias("__v"))
    rng = base.agg(F.min("__us").alias("__u0"), F.max("__us").alias("__u1"))
    flagged = base.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "__v",
        F.when(
            F.col("__us") <= F.expr("(__u0 + __u1) DIV 2"), 1
        ).otherwise(0).alias("__isa"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("__v").asc())
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("event_type")
    r = flagged.select(
        "event_type",
        "__v",
        F.sum("__isa").over(wcum).alias("__ca"),
        F.sum(F.lit(1) - F.col("__isa")).over(wcum).alias("__cb"),
        F.sum("__isa").over(wall).alias("__na"),
        F.sum(F.lit(1) - F.col("__isa")).over(wall).alias("__nb"),
        F.lead("__v").over(w).alias("__nv"),
    )
    last = r.filter(F.col("__nv").isNull() | (F.col("__nv") != F.col("__v")))
    num = F.abs(
        F.col("__ca").cast("decimal(38,0)") * F.col("__nb")
        - F.col("__cb").cast("decimal(38,0)") * F.col("__na")
    )
    m = last.groupBy("event_type").agg(
        F.max(num).alias("__dnum"),
        F.max("__na").alias("__fna"),
        F.max("__nb").alias("__fnb"),
    ).filter((F.col("__fna") > 0) & (F.col("__fnb") > 0))
    ks = rd(
        F.col("__dnum").cast("double")
        / (F.col("__fna").cast("double") * F.col("__fnb").cast("double")),
        6,
    )
    c05 = rd(
        F.lit(1.358)
        * F.sqrt(
            (F.col("__fna").cast("double") + F.col("__fnb").cast("double"))
            / (F.col("__fna").cast("double") * F.col("__fnb").cast("double"))
        ),
        6,
    )
    return m.select(
        "event_type",
        F.col("__fna").cast("long").alias("n_a"),
        F.col("__fnb").cast("long").alias("n_b"),
        ks.alias("ks_stat"),
        c05.alias("c_alpha_05"),
        F.when(ks > c05, 1).otherwise(0).cast("int").alias("drift_flag"),
    )


@register(
    "stats_anova_value_by_type",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)
                  AS DECIMAL(12,0)) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(sv AS DECIMAL(38,0))) AS s1,
             sum(CAST(CAST(sv * sv AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS s2
      FROM e GROUP BY event_type
    ),
    t AS (
      SELECT event_type, n, s1, s2,
             CAST({R("CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n"
                     " / 100000000.0", 6)}
                  AS DECIMAL(38,6)) AS tg
      FROM g
    ),
    a AS (
      SELECT count(*) AS k, sum(n) AS nn,
             sum(s1) AS s1t, sum(s2) AS s2t, sum(tg) AS t1
      FROM t
    ),
    d AS (
      SELECT k, nn,
             {R("CAST(t1 AS DOUBLE) - " + R("CAST(s1t AS DOUBLE) * CAST(s1t AS DOUBLE) / nn / 100000000.0", 6), 6)} AS ssb,
             {R(R("CAST(s2t AS DOUBLE) / 100000000.0", 6) + " - CAST(t1 AS DOUBLE)", 6)} AS ssw
      FROM a
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n,
           ssb AS ss_between, ssw AS ss_within,
           {R("(ssb / (k - 1)) / (ssw / (nn - k))", 6)} AS f_stat,
           {R("ssb / (ssb + ssw)", 6)} AS eta_squared
    FROM d
    """,
)
def _q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of value across event types — the parametric
    complement of the drift family (chi2/W1/KS ask "did it move over
    time"; ANOVA asks "do the type populations differ at all", the
    gate before type-conditioned normalization). Exact-arithmetic
    discipline throughout (the moments-query pattern): 4-dp scaled
    integer power sums in decimal(38,0) (partial-agg-order-proof), the
    per-group S²/n term computed once in IEEE double, DESCALED by the
    1e8 squared-scale factor BEFORE its 6-dp rounding (rd's floor
    lands in a long, which overflows for magnitudes past ~9.2e12 —
    descale-then-round keeps every rounded value inside the exact-long
    window; caught by the oracle gate), then decimal-summed across
    groups (order-independent). Two aggregations — one
    keyed by type (map-side combined), one over the |types|-row frame —
    no joins at all. Output: one row (k, N, SSB, SSW, F, η²)."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    sv = (
        F.floor(F.col("value") * 10000.0 + 0.5)
        .cast("long")
        .cast("decimal(12,0)")
    )
    e = ev.select("event_type", sv.alias("__sv"))
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__sv").cast("decimal(38,0)")).alias("__s1"),
        F.sum(
            (F.col("__sv") * F.col("__sv"))
            .cast("decimal(19,0)")
            .cast("decimal(38,0)")
        ).alias("__s2"),
    )
    t = g.select(
        "n",
        "__s1",
        "__s2",
        rd(
            F.col("__s1").cast("double")
            * F.col("__s1").cast("double")
            / F.col("n")
            / F.lit(100000000.0),
            6,
        )
        .cast("decimal(38,6)")
        .alias("__tg"),
    )
    a = t.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("__s1").alias("__s1t"),
        F.sum("__s2").alias("__s2t"),
        F.sum("__tg").alias("__t1"),
    )
    ssb = rd(
        F.col("__t1").cast("double")
        - rd(
            F.col("__s1t").cast("double")
            * F.col("__s1t").cast("double")
            / F.col("nn")
            / F.lit(100000000.0),
            6,
        ),
        6,
    )
    ssw = rd(
        rd(F.col("__s2t").cast("double") / F.lit(100000000.0), 6)
        - F.col("__t1").cast("double"),
        6,
    )
    d = a.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
    )
    return d.select(
        "k_groups",
        "n",
        "ss_between",
        "ss_within",
        rd(
            (F.col("ss_between") / (F.col("k_groups") - 1))
            / (F.col("ss_within") / (F.col("n") - F.col("k_groups"))),
            6,
        ).alias("f_stat"),
        rd(
            F.col("ss_between")
            / (F.col("ss_between") + F.col("ss_within")),
            6,
        ).alias("eta_squared"),
    )


@register(
    "stats_cuped_halves",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    rng AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
    f AS (
      SELECT user_id, sv,
             CASE WHEN us <= (u0 + u1) // 2 THEN 1 ELSE 0 END AS isa
      FROM ev CROSS JOIN rng
    ),
    u AS (
      SELECT user_id,
             sum(CASE WHEN isa = 1 THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN isa = 1 THEN sv ELSE 0 END) AS sa,
             sum(CASE WHEN isa = 0 THEN 1 ELSE 0 END) AS nb,
             sum(CASE WHEN isa = 0 THEN sv ELSE 0 END) AS sb
      FROM f GROUP BY user_id
    ),
    xy AS (
      SELECT user_id,
             {R("CAST(sa AS DOUBLE) / na / 10000.0", 6)} AS x,
             {R("CAST(sb AS DOUBLE) / nb / 10000.0", 6)} AS y
      FROM u WHERE na > 0 AND nb > 0
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST({sql_rd("x", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST({sql_rd("y", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST({sql_rd("x * x", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST({sql_rd("y * y", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS syy,
             CAST(sum(CAST({sql_rd("x * y", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM xy
    ),
    m AS (
      SELECT n,
             sxx / n - (sx / n) * (sx / n) AS vx,
             syy / n - (sy / n) * (sy / n) AS vy,
             sxy / n - (sx / n) * (sy / n) AS cxy
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           {R("cxy / vx", 6)} AS theta,
           {R("vy", 6)} AS var_y,
           {R("vy - cxy * cxy / vx", 6)} AS var_y_adjusted,
           {R("(cxy * cxy / vx) / vy", 6)} AS variance_reduction
    FROM m
    """,
)
def _q_stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013 — the experimentation
    workhorse): per user, the FIRST time-half mean value is the
    pre-experiment covariate x, the second-half mean the metric y;
    θ = cov/var(x) and var(y − θ(x − x̄)) = var(y) − cov²/var(x) (the
    closed form — no second pass). `variance_reduction` is the
    fraction of metric variance the covariate removes, i.e. how much
    smaller an A/B test this corpus could run. Exactness: per-user
    sums are 4-dp scaled integers; user means are 6-dp rounded; the
    cross-user moment sums accumulate on fixed decimal grids
    (x·y exact at 12 dp), so θ reproduces bit-for-bit. One user-keyed
    aggregation + one 1-row combine; the midpoint is the sanctioned
    scalar."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    us = event_micros(ev)
    sv = F.floor(F.col("value") * 10000.0 + 0.5).cast("long")
    base = ev.select("user_id", us.alias("__us"), sv.alias("__sv"))
    rng = base.agg(F.min("__us").alias("__u0"), F.max("__us").alias("__u1"))
    f = base.crossJoin(F.broadcast(rng)).select(
        "user_id",
        "__sv",
        F.when(F.col("__us") <= F.expr("(__u0 + __u1) DIV 2"), 1)
        .otherwise(0)
        .alias("__isa"),
    )
    u = f.groupBy("user_id").agg(
        F.sum(F.when(F.col("__isa") == 1, 1).otherwise(0)).alias("__na"),
        F.sum(F.when(F.col("__isa") == 1, F.col("__sv")).otherwise(0)).alias(
            "__sa"
        ),
        F.sum(F.when(F.col("__isa") == 0, 1).otherwise(0)).alias("__nb"),
        F.sum(F.when(F.col("__isa") == 0, F.col("__sv")).otherwise(0)).alias(
            "__sb"
        ),
    )
    xy = u.filter((F.col("__na") > 0) & (F.col("__nb") > 0)).select(
        rd(F.col("__sa").cast("double") / F.col("__na") / 10000.0, 6).alias(
            "__x"
        ),
        rd(F.col("__sb").cast("double") / F.col("__nb") / 10000.0, 6).alias(
            "__y"
        ),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rd(F.col("__x"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sx"),
        F.sum(rd(F.col("__y"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(rd(F.col("__x") * F.col("__x"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum(rd(F.col("__y") * F.col("__y"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("syy"),
        F.sum(rd(F.col("__x") * F.col("__y"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
    )
    m = s.select(
        "n",
        (
            F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
        ).alias("vx"),
        (
            F.col("syy") / F.col("n")
            - (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("vy"),
        (
            F.col("sxy") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
        ).alias("cxy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        rd(F.col("cxy") / F.col("vx"), 6).alias("theta"),
        rd(F.col("vy"), 6).alias("var_y"),
        rd(
            F.col("vy") - F.col("cxy") * F.col("cxy") / F.col("vx"), 6
        ).alias("var_y_adjusted"),
        rd(
            (F.col("cxy") * F.col("cxy") / F.col("vx")) / F.col("vy"), 6
        ).alias("variance_reduction"),
    )


@register(
    "dq_freshness_by_type",
    """
    WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
    g AS (
      SELECT event_type, count(*) AS n, max(us) AS max_us
      FROM e GROUP BY event_type
    ),
    t AS (SELECT max(max_us) AS global_max FROM g)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(max_us AS BIGINT) AS max_us,
           CAST(global_max - max_us AS BIGINT) AS lag_us,
           CAST(CASE WHEN global_max - max_us > 21600000000
                THEN 1 ELSE 0 END AS INTEGER) AS stale_flag
    FROM g CROSS JOIN t
    """,
)
def _q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest FRESHNESS audit per event type: each type's newest event
    vs the newest event anywhere; a type lagging > 6 h is a stalled
    upstream (the standard DQ freshness check next to the nulls/FK
    gate `dq_expectations_report` and the continuous
    `stream_dq_violations`). One map-side-combined aggregation; the
    global max is the sanctioned 1-row scalar."""
    ev = _events(spark, sf_dir)
    us = event_micros(ev)
    g = ev.select("event_type", us.alias("__us")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.max("__us").alias("__max_us")
    )
    t = g.agg(F.max("__max_us").alias("__gmax"))
    lag = F.col("__gmax") - F.col("__max_us")
    return g.crossJoin(F.broadcast(t)).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("__max_us").cast("long").alias("max_us"),
        lag.cast("long").alias("lag_us"),
        F.when(lag > 21_600_000_000, 1).otherwise(0).cast("int").alias(
            "stale_flag"
        ),
    )


@register(
    "stats_ab_power",
    f"""
    WITH cuped AS ({REGISTRY["stats_cuped_halves"][1]})
    SELECT n_users,
           var_y, var_y_adjusted,
           CAST({_AB_MDE_ABS} AS DOUBLE) AS mde_abs,
           CAST(ceil(2.0 * {_Z2_80_05} * var_y
                     / ({_AB_MDE_ABS} * {_AB_MDE_ABS})) AS BIGINT)
             AS n_required_raw,
           CAST(ceil(2.0 * {_Z2_80_05} * var_y_adjusted
                     / ({_AB_MDE_ABS} * {_AB_MDE_ABS})) AS BIGINT)
             AS n_required_cuped,
           {R(f"1.0 - ceil(2.0 * {_Z2_80_05} * var_y_adjusted / ({_AB_MDE_ABS} * {_AB_MDE_ABS}))"
              f" / ceil(2.0 * {_Z2_80_05} * var_y / ({_AB_MDE_ABS} * {_AB_MDE_ABS}))", 6)}
             AS sample_saving
    FROM cuped
    """,
)
def _q_stats_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B SAMPLE-SIZE calculator fed by the CUPED row: users per arm
    to detect an absolute {_AB_MDE_ABS}-unit shift of the second-half
    metric at α=0.05 / power 0.8, with and without the covariate
    adjustment — `sample_saving` is CUPED's headline number (the
    experiment you DIDN'T have to run). n = 2(z_α/2+z_β)²σ²/δ², the
    z-quantile constant injected as one shared Python literal (normal
    quantiles are not builtins in either engine). Pure 1-row
    composition over `stats_cuped_halves` — its SQL is reused verbatim
    as a CTE, so the two can never drift."""
    c = REGISTRY["stats_cuped_halves"][0](spark, sf_dir)
    n_raw = F.ceil(
        F.lit(2.0) * F.lit(_Z2_80_05) * F.col("var_y")
        / F.lit(_AB_MDE_ABS * _AB_MDE_ABS)
    )
    n_cuped = F.ceil(
        F.lit(2.0) * F.lit(_Z2_80_05) * F.col("var_y_adjusted")
        / F.lit(_AB_MDE_ABS * _AB_MDE_ABS)
    )
    return c.select(
        "n_users",
        "var_y",
        "var_y_adjusted",
        F.lit(float(_AB_MDE_ABS)).alias("mde_abs"),
        n_raw.cast("long").alias("n_required_raw"),
        n_cuped.cast("long").alias("n_required_cuped"),
        rd(
            F.lit(1.0) - n_cuped.cast("double") / n_raw.cast("double"), 6
        ).alias("sample_saving"),
    )


@register(
    "dq_quarantine_rows",
    f"""
    WITH f AS (
      SELECT o.o_orderkey,
             CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END AS r_null,
             CASE WHEN o.o_totalprice IS NOT NULL
                       AND (o.o_totalprice < 0.0 OR o.o_totalprice > 100000.0)
                  THEN 1 ELSE 0 END AS r_range,
             CASE WHEN o.o_orderstatus IS NOT NULL
                       AND o.o_orderstatus NOT IN ('F', 'O')
                  THEN 1 ELSE 0 END AS r_set,
             CASE WHEN o.o_orderpriority IS NOT NULL
                       AND NOT regexp_matches(o.o_orderpriority, '^[1-3]-')
                  THEN 1 ELSE 0 END AS r_fmt,
             CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
                  THEN 1 ELSE 0 END AS r_fk
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT o_orderkey,
           array_to_string(list_sort(
             [x FOR x IN [
               CASE WHEN r_null = 1 THEN 'not_null(o_custkey)' END,
               CASE WHEN r_range = 1 THEN 'in_range(o_totalprice)' END,
               CASE WHEN r_set = 1 THEN 'in_set(o_orderstatus)' END,
               CASE WHEN r_fmt = 1 THEN 'priority_format' END,
               CASE WHEN r_fk = 1 THEN 'fk(o_custkey)' END
             ] IF x IS NOT NULL]), ',') AS reasons,
           CAST(r_null + r_range + r_set + r_fmt + r_fk AS INTEGER) AS n_reasons
    FROM f
    WHERE r_null + r_range + r_set + r_fmt + r_fk > 0
    """,
)
def _q_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL quarantine: the failing rows behind
    `dq_expectations_report`'s counts, each labeled with every rule it
    violates (sorted, comma-joined) — the quarantine TABLE a production
    ingest writes next to the clean drop so violations are debuggable
    and replayable, not just counted. Same five rules as the report
    (null / range / set / format / FK); the FK check is one
    broadcast-size LEFT join; everything else is scan-side codegen.
    Output is violation-bounded."""
    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("__ck")
    )
    j = orders.join(
        F.broadcast(cust), orders["o_custkey"] == F.col("__ck"), "left"
    )
    r_null = F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
    r_range = F.when(
        F.col("o_totalprice").isNotNull()
        & ((F.col("o_totalprice") < 0.0) | (F.col("o_totalprice") > 100000.0)),
        1,
    ).otherwise(0)
    r_set = F.when(
        F.col("o_orderstatus").isNotNull()
        & ~F.col("o_orderstatus").isin("F", "O"),
        1,
    ).otherwise(0)
    r_fmt = F.when(
        F.col("o_orderpriority").isNotNull()
        & ~F.col("o_orderpriority").rlike("^[1-3]-"),
        1,
    ).otherwise(0)
    r_fk = F.when(
        F.col("o_custkey").isNotNull() & F.col("__ck").isNull(), 1
    ).otherwise(0)
    flagged = j.select(
        "o_orderkey",
        r_null.alias("__rn"),
        r_range.alias("__rr"),
        r_set.alias("__rs"),
        r_fmt.alias("__rf"),
        r_fk.alias("__rk"),
    )
    total = (
        F.col("__rn") + F.col("__rr") + F.col("__rs")
        + F.col("__rf") + F.col("__rk")
    )
    reasons = F.array_join(
        F.array_sort(
            F.filter(
                F.array(
                    F.when(F.col("__rn") == 1, F.lit("not_null(o_custkey)")),
                    F.when(F.col("__rr") == 1, F.lit("in_range(o_totalprice)")),
                    F.when(F.col("__rs") == 1, F.lit("in_set(o_orderstatus)")),
                    F.when(F.col("__rf") == 1, F.lit("priority_format")),
                    F.when(F.col("__rk") == 1, F.lit("fk(o_custkey)")),
                ),
                lambda x: x.isNotNull(),
            )
        ),
        ",",
    )
    return flagged.filter(total > 0).select(
        "o_orderkey",
        reasons.alias("reasons"),
        total.cast("int").alias("n_reasons"),
    )


# ---------------------------------------------------------------------------
# r7 wave 31: binned AUC eval, PSI drift, linkage golden record
# ---------------------------------------------------------------------------


@register(
    "eval_auc_binned",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                               / 10000) AS INT), 99) AS bin,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    bins AS (
      SELECT bin, CAST(sum(pass) AS HUGEINT) AS np,
             CAST(count(*) - sum(pass) AS HUGEINT) AS nn
      FROM b GROUP BY bin
    ),
    cum AS (
      SELECT bin, np, nn,
             COALESCE(sum(nn) OVER (ORDER BY bin ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cneg
      FROM bins
    ),
    tot AS (
      SELECT sum(np) AS p, sum(nn) AS nneg,
             sum(np * (2 * cneg + nn)) AS num,
             count(*) AS n_bins
      FROM cum
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
           CAST(n_bins AS BIGINT) AS n_bins,
           CASE WHEN p > 0 AND nneg > 0 THEN
             {R("CAST(num AS DOUBLE) / (2.0 * CAST(p AS DOUBLE) * CAST(nneg AS DOUBLE))", 6)}
           END AS auc
    FROM tot
    """,
)
def _q_eval_auc_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned ROC AUC of the cheap hashed-linear scorer against the
    expensive C4 gate — the ONE-NUMBER ranking eval next to
    `text_score_calibration`'s reliability diagram (same factored
    logit and label, `_HLS_VS_C4_SQL`, so the two evals can never
    score different things). AUC is computed the scale-safe way: 100
    fixed 6-dp-grid logit bins (no global rank, no keyless window),
    then the Mann-Whitney pair count as EXACT INTEGERS — 2·P·N·AUC =
    Σ_b np_b·(2·cneg_<b + nn_b), ties-counted-half — accumulated in
    decimal (HUGEINT oracle-side) and divided ONCE. The Spark plan
    reduces the 100 bin rows to a single collect_list row and folds
    the cumulative with `F.aggregate` — all JVM-side, zero windows,
    zero joins after the bin agg."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan — the old
    # two-scan + doc_id-join shape paid the corpus twice per query.
    j = tx.hls_vs_c4_frame(docs)
    bin_col = F.least(
        F.floor(
            (F.round(F.col("logit") * 1000000, 0) + F.lit(500000))
            / F.lit(10000)
        ).cast("int"),
        F.lit(99),
    )
    bins = (
        j.select(
            bin_col.alias("__bin"),
            F.coalesce(F.col("__pass"), F.lit(0)).alias("__p"),
        )
        .groupBy("__bin")
        .agg(
            F.sum("__p").cast("decimal(38,0)").alias("__np"),
            (F.count(F.lit(1)) - F.sum("__p")).cast("decimal(38,0)").alias("__nn"),
        )
    )
    row = bins.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__bin"), F.col("__np"), F.col("__nn")))
        ).alias("__bs"),
        F.sum("__np").alias("__p"),
        F.sum("__nn").alias("__n"),
        F.count(F.lit(1)).alias("__nbins"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    folded = F.aggregate(
        F.col("__bs"),
        F.struct(zero.alias("cneg"), zero.alias("num")),
        lambda acc, x: F.struct(
            (acc["cneg"] + x["__nn"]).cast("decimal(38,0)").alias("cneg"),
            (acc["num"] + x["__np"] * (acc["cneg"] * F.lit(2) + x["__nn"]))
            .cast("decimal(38,0)")
            .alias("num"),
        ),
    )
    auc = rd(
        F.col("__num").cast("double")
        / (
            F.lit(2.0)
            * F.col("__p").cast("double")
            * F.col("__n").cast("double")
        ),
        6,
    )
    return row.select(
        F.col("__p").cast("long").alias("n_pos"),
        F.col("__n").cast("long").alias("n_neg"),
        F.col("__nbins").cast("long").alias("n_bins"),
        folded["num"].alias("__num"),
        "__p",
        "__n",
    ).select(
        "n_pos",
        "n_neg",
        "n_bins",
        F.when((F.col("__p") > 0) & (F.col("__n") > 0), auc).alias("auc"),
    )


@register(
    "stats_psi_halves_by_type",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) AS us, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    rng AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
    f AS (
      SELECT event_type, v,
             CASE WHEN us <= (u0 + u1) // 2 THEN 1 ELSE 2 END AS half
      FROM ev CROSS JOIN rng
    ),
    bounds AS (
      SELECT event_type,
             quantile_cont(v, [{", ".join(str(q) for q in _PSI_DECILES)}]) AS bs
      FROM f WHERE half = 1 GROUP BY event_type
    ),
    x AS (
      SELECT f.event_type, f.half,
             len(list_filter(b.bs, q -> f.v > q)) AS bin
      FROM f JOIN bounds b USING (event_type)
    ),
    c AS (
      SELECT event_type, bin,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1b,
             sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS n2b
      FROM x GROUP BY event_type, bin
    ),
    t AS (
      SELECT event_type, sum(n1b) AS n1, sum(n2b) AS n2
      FROM c GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type, t.n1, t.n2,
             CASE WHEN c.n1b > 0 AND c.n2b > 0 THEN 1 ELSE 0 END AS used,
             CASE WHEN c.n1b > 0 AND c.n2b > 0 THEN
               CAST({R("(CAST(c.n2b AS DOUBLE) / CAST(t.n2 AS DOUBLE)"
                       " - CAST(c.n1b AS DOUBLE) / CAST(t.n1 AS DOUBLE))"
                       " * ln((CAST(c.n2b AS DOUBLE) / CAST(t.n2 AS DOUBLE))"
                       " / (CAST(c.n1b AS DOUBLE) / CAST(t.n1 AS DOUBLE)))", 8)}
                 AS DECIMAL(38,8))
             END AS term
      FROM c JOIN t USING (event_type)
    )
    SELECT event_type,
           CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
           CAST(sum(used) AS BIGINT) AS n_bins_used,
           CAST(count(*) - sum(used) AS BIGINT) AS n_bins_skipped,
           {R("CAST(sum(term) AS DOUBLE)", 6)} AS psi
    FROM terms GROUP BY event_type
    """,
)
def _q_stats_psi_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift per event type: second
    time-half value proportions against FIRST-half decile bins — the
    industry drift score (PSI = Σ(p2−p1)·ln(p2/p1); >0.1 = shifting,
    >0.25 = shifted) completing the drift family next to KS (max CDF
    gap), chi2 (categorical) and W1: PSI is the one monitoring
    dashboards alarm on, because per-bin terms say WHERE the mass
    moved. Same global integer-midpoint time split as
    `stats_ks_halves_by_type` so the family reads one split. Bins are
    the reference deciles (exact interpolated percentiles, the MAD
    precedent); bin membership is one broadcast array fold per row
    (strict ``v > boundary``, identical in both engines — no explode,
    no window); terms are 8-dp-rounded and decimal-summed so partial
    aggregation cannot reorder float error; empty bins (either side)
    are skipped and REPORTED rather than epsilon-fudged. Plan: two
    event scans (bounds, then binning) + two bounded aggs — holds at
    any N; the 1-row range is the sanctioned scalar cross join."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    us = event_micros(ev)
    base = ev.select("event_type", us.alias("__us"), F.col("value").alias("__v"))
    rng = base.agg(F.min("__us").alias("__u0"), F.max("__us").alias("__u1"))
    halved = base.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "__v",
        F.when(F.col("__us") <= F.expr("(__u0 + __u1) DIV 2"), 1)
        .otherwise(2)
        .alias("__half"),
    )
    bounds = (
        halved.filter(F.col("__half") == 1)
        .groupBy("event_type")
        .agg(
            F.percentile(
                F.col("__v"), F.array(*[F.lit(q) for q in _PSI_DECILES])
            ).alias("__bs")
        )
    )
    x = halved.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "__half",
        F.aggregate(
            F.col("__bs"),
            F.lit(0),
            lambda acc, q: acc + F.when(F.col("__v") > q, 1).otherwise(0),
        ).alias("__bin"),
    )
    c = x.groupBy("event_type", "__bin").agg(
        F.sum(F.when(F.col("__half") == 1, 1).otherwise(0)).alias("__n1b"),
        F.sum(F.when(F.col("__half") == 2, 1).otherwise(0)).alias("__n2b"),
    )
    t = c.groupBy("event_type").agg(
        F.sum("__n1b").alias("__n1"), F.sum("__n2b").alias("__n2")
    )
    ct = c.join(F.broadcast(t), "event_type")
    p1 = F.col("__n1b").cast("double") / F.col("__n1").cast("double")
    p2 = F.col("__n2b").cast("double") / F.col("__n2").cast("double")
    ok = (F.col("__n1b") > 0) & (F.col("__n2b") > 0)
    term = F.when(ok, rd((p2 - p1) * F.log(p2 / p1), 8).cast("decimal(38,8)"))
    out = ct.select(
        "event_type",
        "__n1",
        "__n2",
        F.when(ok, 1).otherwise(0).alias("__used"),
        term.alias("__term"),
    ).groupBy("event_type").agg(
        F.max("__n1").cast("long").alias("n1"),
        F.max("__n2").cast("long").alias("n2"),
        F.sum("__used").cast("long").alias("n_bins_used"),
        (F.count(F.lit(1)) - F.sum("__used")).cast("long").alias("n_bins_skipped"),
        rd(F.sum("__term").cast("double"), 6).alias("psi"),
    )
    return out


# ---------------------------------------------------------------------------
# r7 wave 36: isotonic calibration + k-anonymity privacy audit
# ---------------------------------------------------------------------------


@register(
    "eval_isotonic_calibration",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                               / 100000) AS INT), 9) AS bin,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pass) AS BIGINT) AS np
      FROM b GROUP BY bin
    ),
    packed AS (
      SELECT list(bin ORDER BY bin) AS bs,
             list(n ORDER BY bin) AS cs,
             list(np ORDER BY bin) AS ps,
             count(*) AS m
      FROM bins
    ),
    pre AS (
      SELECT bs, cs, ps, m,
             list_transform(range(0, m + 1), i ->
               CAST(list_aggregate(list_concat([CAST(0 AS BIGINT)],
                    list_slice(cs, 1, i)), 'sum') AS BIGINT)) AS pc,
             list_transform(range(0, m + 1), i ->
               CAST(list_aggregate(list_concat([CAST(0 AS BIGINT)],
                    list_slice(ps, 1, i)), 'sum') AS BIGINT)) AS pp
      FROM packed
    ),
    fit AS (
      SELECT bs, cs, ps, m,
             list_transform(range(0, m), i ->
               list_aggregate(
                 list_transform(range(0, i + 1), j ->
                   list_aggregate(
                     list_transform(range(i, m), k ->
                       CAST(pp[k + 2] - pp[j + 1] AS DOUBLE)
                       / CAST(pc[k + 2] - pc[j + 1] AS DOUBLE)),
                     'min')),
                 'max')) AS iso
      FROM pre
    ),
    rows_ AS (
      SELECT unnest(range(0, m)) AS i, bs, cs, ps, iso FROM fit
    )
    SELECT CAST(bs[i + 1] AS INTEGER) AS bin,
           cs[i + 1] AS n_docs,
           ps[i + 1] AS n_pass,
           {R("CAST(ps[i + 1] AS DOUBLE) / CAST(cs[i + 1] AS DOUBLE)", 6)}
             AS pass_rate,
           {R("iso[i + 1]", 6)} AS iso_rate
    FROM rows_
    """,
)
def _q_eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC (PAVA) calibration of the cheap scorer against the C4
    gate: the monotone-non-decreasing pass-rate curve closest (weighted
    L2) to the raw per-bin rates — the calibration map a production
    threshold actually ships, completing the eval trilogy (reliability
    diagram = raw rates, AUC = ranking power, isotonic = the deployable
    monotone curve). Same factored logit/label (`_HLS_VS_C4_SQL`) and
    the calibration query's exact integer-grid bins.

    No sequential PAVA loop anywhere: the fit uses the CLOSED minimax
    form fitted[i] = max_{{j≤i}} min_{{k≥i}} avg(y[j..k]) over exact
    integer prefix sums — pure nested min/max array transforms on ONE
    collected row (≤10 bins ⇒ ≤1000 exact-rational terms), identical
    in both engines because every compared double is a ratio of exact
    integers. Zero windows, zero joins after the bin agg."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan.
    j = tx.hls_vs_c4_frame(docs)
    bin_col = F.least(
        F.floor(
            (F.round(F.col("logit") * 1000000, 0) + F.lit(500000))
            / F.lit(100000)
        ).cast("int"),
        F.lit(9),
    )
    bins = (
        j.select(
            bin_col.alias("__bin"),
            F.coalesce(F.col("__pass"), F.lit(0)).alias("__p"),
        )
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__p").cast("long").alias("__np"),
        )
    )
    packed = bins.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__bin"), F.col("__n"), F.col("__np")))
        ).alias("__a"),
        F.count(F.lit(1)).cast("int").alias("__m"),
    ).select(
        F.transform(F.col("__a"), lambda x: x["__bin"]).alias("__bs"),
        F.transform(F.col("__a"), lambda x: x["__n"]).alias("__cs"),
        F.transform(F.col("__a"), lambda x: x["__np"]).alias("__ps"),
        F.col("__m"),
    )
    zero_l = F.lit(0).cast("long")

    def prefix(arr):
        return F.transform(
            F.sequence(F.lit(0), F.col("__m")),
            lambda i: F.aggregate(
                F.slice(arr, F.lit(1), i), zero_l, lambda a, v: a + v
            ),
        )

    pre = packed.select(
        "__bs", "__cs", "__ps", "__m",
        prefix(F.col("__cs")).alias("__pc"),
        prefix(F.col("__ps")).alias("__pp"),
    )
    pp, pc = F.col("__pp"), F.col("__pc")
    iso = F.transform(
        F.sequence(F.lit(0), F.col("__m") - 1),
        lambda i: F.array_max(
            F.transform(
                F.sequence(F.lit(0), i),
                lambda j: F.array_min(
                    F.transform(
                        F.sequence(i, F.col("__m") - 1),
                        lambda k: (
                            F.element_at(pp, k + 2) - F.element_at(pp, j + 1)
                        ).cast("double")
                        / (
                            F.element_at(pc, k + 2) - F.element_at(pc, j + 1)
                        ).cast("double"),
                    )
                ),
            )
        ),
    )
    rows = pre.select(
        "__bs", "__cs", "__ps", iso.alias("__iso"),
        F.explode(F.sequence(F.lit(0), F.col("__m") - 1)).alias("__i"),
    )
    at = lambda a: F.element_at(F.col(a), F.col("__i") + 1)  # noqa: E731
    return rows.select(
        at("__bs").cast("int").alias("bin"),
        at("__cs").alias("n_docs"),
        at("__ps").alias("n_pass"),
        rd(at("__ps").cast("double") / at("__cs").cast("double"), 6).alias(
            "pass_rate"
        ),
        rd(at("__iso"), 6).alias("iso_rate"),
    )


@register(
    "privacy_k_anonymity_audit",
    f"""
    WITH q AS (
      SELECT lang, source, n_chars // {_KANON_BAND} AS size_band
      FROM documents
    ),
    g AS (
      SELECT lang, source, size_band, count(*) AS k
      FROM q GROUP BY 1, 2, 3
    ),
    classed AS (
      SELECT CASE WHEN k = 1 THEN 'k=1 unique'
                  WHEN k < 5 THEN 'k=2-4'
                  WHEN k < 20 THEN 'k=5-19'
                  ELSE 'k>=20' END AS risk_class,
             k
      FROM g
    )
    SELECT risk_class,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_docs,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM classed GROUP BY risk_class
    """,
)
def _q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY audit over the corpus's quasi-identifier tuple
    (lang, source, 256-char size band): how many documents sit in
    equivalence classes small enough to re-identify (k=1 means the
    metadata alone pins the document). The release gate a corpus runs
    BEFORE publication — unique quasi-identifier combinations are
    where linkage attacks start (Sweeney 2002), and at 100 TB the
    audit is exactly one partial-agg groupBy over three narrow
    columns + a bounded 4-row rollup. Integer band edges (`div`) so
    the classes reproduce in any engine."""
    docs = _table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "lang",
            "source",
            F.expr(f"n_chars DIV {_KANON_BAND}").alias("size_band"),
        )
        .groupBy("lang", "source", "size_band")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    risk = (
        F.when(F.col("k") == 1, "k=1 unique")
        .when(F.col("k") < 5, "k=2-4")
        .when(F.col("k") < 20, "k=5-19")
        .otherwise("k>=20")
    )
    return g.select(risk.alias("risk_class"), "k").groupBy("risk_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("k").cast("long").alias("n_docs"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# r7 wave 40: chi2 residual drill-down + exponential inter-arrival fit
# ---------------------------------------------------------------------------


@register(
    "stats_chi2_residuals",
    f"""
    WITH o AS (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod,
             count(*) AS obs
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(obs) AS rtot FROM o GROUP BY event_type),
    ct AS (SELECT hod, sum(obs) AS ctot FROM o GROUP BY hod),
    g AS (SELECT sum(obs) AS total FROM o),
    grid AS (
      SELECT rt.event_type, ct.hod, rt.rtot, ct.ctot FROM rt CROSS JOIN ct
    ),
    cells AS (
      SELECT gr.event_type, gr.hod, COALESCE(o.obs, 0) AS obs,
             CAST(gr.rtot AS DOUBLE) * gr.ctot / g.total AS expected
      FROM grid gr
      LEFT JOIN o ON o.event_type = gr.event_type AND o.hod = gr.hod
      CROSS JOIN g
    )
    SELECT event_type, CAST(hod AS INT) AS hod, CAST(obs AS BIGINT) AS obs,
           {R("expected", 6)} AS expected,
           {R("(obs - expected) / sqrt(expected)", 6)} AS std_residual,
           CAST(CASE WHEN abs({R("(obs - expected) / sqrt(expected)", 6)}) > 3.0
                THEN 1 ELSE 0 END AS INTEGER) AS flag
    FROM cells
    """,
)
def _q_stats_chi2_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chi-square test's DRILL-DOWN: per (event_type, hour) cell,
    the standardized Pearson residual (O−E)/√E — `stats_chi2_type_vs_
    hour` says THAT type and hour associate; this says WHICH cells
    drive it (|residual| > 3 flags), the readout an on-call engineer
    actually acts on. Same margin-grid contingency construction (zero
    cells included — their residual −√E is exactly the missing-type
    signal, r9 fix) and exact-integer margins as the parent test (the two share the
    engine-identical expected expression), one IEEE division + sqrt
    per cell, |types|·24 rows at any scale."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24
        ).alias("hod"),
    )
    o = ev.groupBy("event_type", "hod").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("rtot"))
    ct = o.groupBy("hod").agg(F.sum("obs").alias("ctot"))
    g = o.agg(F.sum("obs").alias("total"))
    grid = rt.select(
        "event_type",
        "rtot",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(23).cast("long"))).alias(
            "hod"
        ),
    ).join(F.broadcast(ct), "hod")
    cells = (
        grid.join(o.hint("shuffle_hash"), ["event_type", "hod"], "left")
        .crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "hod",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
            (
                F.col("rtot").cast("double") * F.col("ctot") / F.col("total")
            ).alias("__e"),
        )
    )
    resid = rd(
        (F.col("obs") - F.col("__e")) / F.sqrt(F.col("__e")), 6
    )
    return cells.select(
        "event_type",
        F.col("hod").cast("int").alias("hod"),
        F.col("obs").cast("long").alias("obs"),
        rd(F.col("__e"), 6).alias("expected"),
        resid.alias("std_residual"),
        F.when(F.abs(resid) > 3.0, 1).otherwise(0).cast("int").alias("flag"),
    )


@register(
    "stats_interarrival_expfit",
    f"""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS t, event_id FROM events
    ),
    d AS (
      SELECT event_type, t - lag(t) OVER w AS dt, event_id
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY t ASC, event_id ASC)
    ),
    dd_ AS (SELECT event_type, dt, event_id FROM d WHERE dt IS NOT NULL),
    st AS (
      SELECT event_type, count(*) AS n, sum(dt) AS sdt FROM dd_ GROUP BY 1
    ),
    r AS (
      SELECT dd_.event_type, dt, n, sdt,
             row_number() OVER (PARTITION BY dd_.event_type
                                ORDER BY dt ASC, event_id ASC) AS i
      FROM dd_ JOIN st USING (event_type)
    ),
    k AS (
      SELECT event_type, n, sdt,
             max({R("CAST(i AS DOUBLE) / CAST(n AS DOUBLE)"
                    " - (1.0 - exp(-(CAST(dt AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sdt AS DOUBLE))))", 6)})
               AS dplus,
             max({R("(1.0 - exp(-(CAST(dt AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sdt AS DOUBLE))))"
                    " - CAST(i - 1 AS DOUBLE) / CAST(n AS DOUBLE)", 6)})
               AS dminus
      FROM r GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {R("CAST(sdt AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0", 6)}
             AS mean_dt_s,
           greatest(dplus, dminus) AS ks_stat,
           {R("1.358 / sqrt(CAST(n AS DOUBLE))", 6)} AS c_alpha_05,
           CAST(CASE WHEN greatest(dplus, dminus)
                     > {R("1.358 / sqrt(CAST(n AS DOUBLE))", 6)}
                THEN 1 ELSE 0 END AS INTEGER) AS reject_exponential
    FROM k
    """,
)
def _q_stats_interarrival_expfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each channel's arrival process POISSON? One-sample KS
    goodness-of-fit of the inter-arrival deltas against
    Exponential(1/mean): D = max(D⁺, D⁻) over the fitted CDF
    1 − e^(−dt·n/Σdt), with the fitted rate an EXACT integer ratio so
    both engines exponentiate the identical double (per-term 6-dp
    rounding before the max, the ln/log2 discipline). A channel that
    rejects exponential arrivals has bursts or scheduling — the
    modeling assumption behind Poisson-based capacity planning and the
    gap detector's median heuristic, now tested instead of assumed.
    Two keyed windows (lag, rank) on one event_type exchange; tie
    order can't move the max (within a dt tie, the extreme index
    dominates both D⁺ and D⁻)."""
    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("t_us").asc(), F.col("event_id").asc()
    )
    d = ev.select(
        "event_type",
        (F.col("t_us") - F.lag("t_us", 1).over(w)).alias("__dt"),
        "event_id",
    ).filter(F.col("__dt").isNotNull())
    st = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dt").alias("__sdt")
    )
    # r13 (guide §2.2): the KS scan off the inter-arrival HISTOGRAM —
    # within a dt tie the extreme index dominates both D⁺ (max i = cum)
    # and D⁻ (min i − 1 = cum − cnt, per the tie-dominance note in the
    # docstring), so cumulative bin counts replace the per-row rank
    # window (|types| full-row sort tasks) with distinct-delta work.
    ch = _sv_cum_hist(
        d.select("event_type", F.col("__dt").alias("sv")), ["event_type"]
    )
    r = ch.join(F.broadcast(st), "event_type").select(
        "event_type",
        F.col("sv").alias("__dt"),
        "cnt",
        "cum",
        "__n",
        "__sdt",
    )
    fmodel = F.lit(1.0) - F.exp(
        -(
            F.col("__dt").cast("double")
            * F.col("__n").cast("double")
            / F.col("__sdt").cast("double")
        )
    )
    k = r.groupBy("event_type", "__n", "__sdt").agg(
        F.max(
            rd(F.col("cum").cast("double") / F.col("__n").cast("double") - fmodel, 6)
        ).alias("__dplus"),
        F.max(
            rd(
                fmodel
                - (F.col("cum") - F.col("cnt")).cast("double")
                / F.col("__n").cast("double"),
                6,
            )
        ).alias("__dminus"),
    )
    ks = F.greatest(F.col("__dplus"), F.col("__dminus"))
    c05 = rd(F.lit(1.358) / F.sqrt(F.col("__n").cast("double")), 6)
    return k.select(
        "event_type",
        F.col("__n").cast("long").alias("n"),
        rd(
            F.col("__sdt").cast("double")
            / F.col("__n").cast("double")
            / F.lit(1e6),
            6,
        ).alias("mean_dt_s"),
        ks.alias("ks_stat"),
        c05.alias("c_alpha_05"),
        F.when(ks > c05, 1).otherwise(0).cast("int").alias("reject_exponential"),
    )


# ---------------------------------------------------------------------------
# r8 wave 4: Mann-Whitney U rank-sum drift test — the nonparametric
# location-shift companion to the KS/PSI/W1/chi2 drift family.
# ---------------------------------------------------------------------------


@register(
    "stats_mannwhitney_halves_by_type",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) AS us,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    rng AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
    f AS (
      SELECT event_type, sv,
             CASE WHEN us <= (u0 + u1) // 2 THEN 1 ELSE 0 END AS isa
      FROM ev CROSS JOIN rng
    ),
    r AS (
      SELECT event_type, sv, isa,
             2 * rank() OVER (PARTITION BY event_type ORDER BY sv)
               + count(*) OVER (PARTITION BY event_type, sv) - 1 AS r2
      FROM f
    ),
    g AS (
      SELECT event_type,
             sum(isa) AS n_a, sum(1 - isa) AS n_b,
             sum(CASE WHEN isa = 1 THEN CAST(r2 AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS r2a
      FROM r GROUP BY event_type
    ),
    t AS (
      SELECT event_type,
             sum(CAST(c AS DECIMAL(38,0)) * c * c - c) AS t3t
      FROM (SELECT event_type, sv, count(*) AS c FROM f GROUP BY 1, 2)
      GROUP BY 1
    ),
    m AS (
      SELECT g.event_type,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)
               AS u2,
             CAST(t3t AS DOUBLE) AS t3t,
             CAST(n_a + n_b AS BIGINT) AS n
      FROM g JOIN t ON t.event_type = g.event_type
      WHERE n_a > 0 AND n_b > 0
    )
    SELECT event_type, n_a, n_b, u2,
           {R("CAST(u2 AS DOUBLE) / (2.0 * CAST(n_a AS DOUBLE)"
              " * CAST(n_b AS DOUBLE))", 6)} AS cles,
           CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                     * ((CAST(n AS DOUBLE) + 1.0)
                        - t3t / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                     > 0.0
                THEN {R("(CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE)"
                        " * CAST(n_b AS DOUBLE))"
                        " / (2.0 * sqrt(CAST(n_a AS DOUBLE)"
                        " * CAST(n_b AS DOUBLE) / 12.0"
                        " * ((CAST(n AS DOUBLE) + 1.0)"
                        " - t3t / (CAST(n AS DOUBLE)"
                        " * (CAST(n AS DOUBLE) - 1.0)))))", 6)}
           END AS z
    FROM m
    """,
)
def _q_stats_mannwhitney_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U rank-sum drift test (first time-half vs second,
    per event type) — the nonparametric LOCATION-SHIFT member of the
    drift family: KS sees any CDF gap, PSI/W1 see binned/transport
    distance, chi2 sees categorical dependence; the rank-sum z says
    specifically whether later values run HIGHER or LOWER, robust to
    outliers and any monotone transform. Exactness discipline: doubled
    tie-averaged ranks (the Spearman precedent — half-integer ranks
    become integers), so U2 = 2·U is an exact BIGINT; the tie
    correction Σ(t³−t) accumulates in DECIMAL(38,0); the only floats
    are the final CLES (= U/(n_a·n_b), the probability a later value
    exceeds an earlier one) and the tie-corrected z, each one literal
    IEEE expression 6-dp-rounded identically in both engines (zero-
    variance groups emit NULL z by the same CASE guard). One
    combinable (type, value)-histogram pass carries tie counts, group
    sizes and the rank sums together (r13, guide §2.2)."""
    evs = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    ev = evs.select(
        "event_type",
        event_micros(evs).alias("__us"),
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    rng = ev.agg(
        F.min("__us").alias("__u0"), F.max("__us").alias("__u1")
    )
    f = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "sv",
        F.when(
            F.col("__us")
            <= F.floor((F.col("__u0") + F.col("__u1")) / F.lit(2)).cast("long"),
            1,
        )
        .otherwise(0)
        .alias("isa"),
    )
    # r13 (guide §2.2): the doubled tie-averaged rank of every row in
    # a tie bin is 2·cum − c + 1 (helper contract), so the A-side rank
    # sum is Σ ca·(2·cum − c + 1) over the (type, sv) HISTOGRAM — one
    # combinable groupBy carrying (c, ca) replaces the per-row rank
    # window AND the separate tie-count pass; group sizes and the tie
    # correction come off the same frame.
    hh = f.groupBy("event_type", "sv").agg(
        F.count(F.lit(1)).alias("__c"), F.sum("isa").alias("__ca")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("sv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ch = hh.select(
        "event_type",
        "__c",
        "__ca",
        F.sum("__c").over(wcum).alias("__cum"),
    )
    r2bin = 2 * F.col("__cum") - F.col("__c") + 1
    g = ch.groupBy("event_type").agg(
        F.sum("__ca").alias("n_a"),
        F.sum(F.col("__c") - F.col("__ca")).alias("n_b"),
        F.sum(F.col("__ca").cast("decimal(38,0)") * r2bin).alias("__r2a"),
        F.sum(
            F.col("__c").cast("decimal(38,0)") * F.col("__c") * F.col("__c")
            - F.col("__c")
        ).alias("__t3t"),
    )
    m = (
        g.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "event_type",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.col("__r2a")
                - F.col("n_a").cast("decimal(38,0)") * (F.col("n_a") + 1)
            )
            .cast("long")
            .alias("u2"),
            F.col("__t3t").cast("double").alias("__t3t"),
            (F.col("n_a") + F.col("n_b")).cast("long").alias("__n"),
        )
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = F.col("__n").cast("double")
    var = na * nb / 12.0 * ((n + 1.0) - F.col("__t3t") / (n * (n - 1.0)))
    z = (F.col("u2").cast("double") - na * nb) / (2.0 * F.sqrt(var))
    return m.select(
        "event_type", "n_a", "n_b", "u2",
        rd(F.col("u2").cast("double") / (2.0 * na * nb), 6).alias("cles"),
        F.when(var > 0.0, rd(z, 6)).alias("z"),
    )


@register(
    "privacy_l_diversity_audit",
    """
    WITH q AS (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod, user_id
      FROM events
    ),
    g AS (
      SELECT event_type, hod,
             count(*) AS k, count(DISTINCT user_id) AS l
      FROM q GROUP BY 1, 2
    ),
    classed AS (
      SELECT CASE WHEN l = 1 THEN 'l=1 attribute-disclosed'
                  WHEN l < 5 THEN 'l=2-4'
                  WHEN l < 20 THEN 'l=5-19'
                  ELSE 'l>=20' END AS risk_class,
             k, l
      FROM g
    )
    SELECT risk_class,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_events,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(max(l) AS BIGINT) AS max_l,
           CAST(min(k) AS BIGINT) AS min_k
    FROM classed GROUP BY risk_class
    """,
)
def _q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit (Machanavajjhala et al. 2007 — the
    k-anonymity complement): per quasi-identifier class (event_type ×
    hour-of-day), how many DISTINCT sensitive values (user_id) it
    contains. A class can be k-anonymous with large k and still leak
    everything if every row belongs to ONE user (l=1): k-anonymity
    hides WHICH row is yours, l-diversity hides WHAT the class says
    about you. Exact distinct counts via two-phase partial aggregation
    over three narrow columns; integer hour bucketing
    ((epoch_us // 3.6e9) % 24, the chi2-drift convention) so classes
    reproduce in any engine; output is the bounded 4-row risk
    rollup."""
    ev = _events(spark, sf_dir)
    g = (
        ev.select(
            "event_type",
            F.expr("pmod(unix_micros(cast(ts as timestamp)) div 3600000000, 24)").alias(
                "hod"
            ),
            "user_id",
        )
        .groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct("user_id").alias("l"),
        )
    )
    risk = (
        F.when(F.col("l") == 1, "l=1 attribute-disclosed")
        .when(F.col("l") < 5, "l=2-4")
        .when(F.col("l") < 20, "l=5-19")
        .otherwise("l>=20")
    )
    return (
        g.select(risk.alias("risk_class"), "k", "l")
        .groupBy("risk_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("k").cast("long").alias("n_events"),
            F.min("l").cast("long").alias("min_l"),
            F.max("l").cast("long").alias("max_l"),
            F.min("k").cast("long").alias("min_k"),
        )
    )


@register(
    "stats_bootstrap_mean_ci_by_type",
    f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, sv, b.b AS b,
             {sp.sql_hash_u32(
                 "CAST(event_id AS VARCHAR) || '#' || CAST(b.b AS VARCHAR)",
                 _BOOT_SEED,
             )} AS u
      FROM ev CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
    ),
    m AS (
      SELECT event_type, b,
             sum({_boot_w_sql("u")}) AS sw,
             sum(CAST({_boot_w_sql("u")} AS DECIMAL(38,0)) * sv) AS swv
      FROM r GROUP BY 1, 2
    ),
    mb AS (
      SELECT event_type, b,
             {R("CAST(swv AS DOUBLE) / (10000.0 * CAST(sw AS DOUBLE))", 6)}
               AS mean_b
      FROM m WHERE sw > 0
    ),
    f AS (
      SELECT event_type, count(*) AS n,
             {R("CAST(sum(sv) AS DOUBLE)"
                " / (10000.0 * CAST(count(*) AS DOUBLE))", 6)} AS mean
      FROM ev GROUP BY event_type
    )
    SELECT f.event_type, CAST(f.n AS BIGINT) AS n, f.mean,
           min(mb.mean_b) AS boot_lo, max(mb.mean_b) AS boot_hi,
           CAST(count(*) AS INTEGER) AS n_resamples
    FROM f JOIN mb ON mb.event_type = f.event_type
    GROUP BY f.event_type, f.n, f.mean
    """,
)
def _q_stats_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP mean interval per event type — the resampling
    scheme that actually scales (Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams"): classic bootstrap needs N
    draws WITH replacement per resample (a global shuffle per
    replicate); Poisson bootstrap gives each row an independent
    Poisson(1) weight per replicate, so all B = 32 resamples ride ONE
    scan with a 32-way explode of narrow longs into a map-side-combined
    (type, b) aggregation. Determinism: the weight is a CASE ladder of
    the portable md5 row-replicate hash against Poisson(1) CDF
    thresholds precomputed in Python as 32-bit integer literals
    (invariant 15 — no exp() at query time in either engine); weighted
    sums accumulate in DECIMAL. Reported interval = [min, max] of the
    32 resample means (≈94% coverage for the mean at B=32); empty
    resamples (all-zero weights, P≈0.37^n) drop out identically in
    both engines via the sw > 0 guard."""
    evs = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    ev = evs.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("sv"),
    )
    r = ev.select(
        "event_type",
        "sv",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "sv",
        "b",
        sp.hash_u32(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("#"),
                F.col("b").cast("string"),
            ),
            _BOOT_SEED,
        ).alias("u"),
    )
    w = F.lit(len(_BOOT_T))
    for i in range(len(_BOOT_T) - 1, -1, -1):
        w = F.when(F.col("u") < _BOOT_T[i], i).otherwise(w)
    m = r.select("event_type", "b", "sv", w.alias("__w")).groupBy(
        "event_type", "b"
    ).agg(
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w").cast("decimal(38,0)") * F.col("sv")).alias("__swv"),
    )
    mb = m.filter(F.col("__sw") > 0).select(
        "event_type",
        "b",
        rd(
            F.col("__swv").cast("double")
            / (10000.0 * F.col("__sw").cast("double")),
            6,
        ).alias("__mean_b"),
    )
    f = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        rd(
            F.sum("sv").cast("double")
            / (10000.0 * F.count(F.lit(1)).cast("double")),
            6,
        ).alias("mean"),
    )
    return (
        f.join(mb.hint("shuffle_hash"), "event_type")
        .groupBy("event_type", "n", "mean")
        .agg(
            F.min("__mean_b").alias("boot_lo"),
            F.max("__mean_b").alias("boot_hi"),
            F.count(F.lit(1)).cast("int").alias("n_resamples"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            "mean",
            "boot_lo",
            "boot_hi",
            "n_resamples",
        )
    )


# ---------------------------------------------------------------------------
# r8 wave 10: PR operating-point curve (eval) + degree assortativity
# (graph) — rounding out the two thinnest extension families.
# ---------------------------------------------------------------------------


@register(
    "eval_pr_curve_binned",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                               / 10000) AS INT), 99) AS bin,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    bins AS (
      SELECT bin, CAST(sum(pass) AS HUGEINT) AS np,
             CAST(count(*) - sum(pass) AS HUGEINT) AS nn
      FROM b GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             sum(np) OVER (ORDER BY bin DESC
                           ROWS UNBOUNDED PRECEDING) AS tp,
             sum(np + nn) OVER (ORDER BY bin DESC
                                ROWS UNBOUNDED PRECEDING) AS n_pred
      FROM bins
    ),
    tot AS (SELECT sum(np) AS p FROM bins)
    SELECT CAST(cum.bin AS BIGINT) AS bin,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           {R("CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)", 6)} AS precision,
           CASE WHEN p > 0 THEN
             {R("CAST(tp AS DOUBLE) / CAST(p AS DOUBLE)", 6)}
           END AS recall
    FROM cum CROSS JOIN tot
    """,
)
def _q_eval_pr_curve_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned PRECISION-RECALL operating-point curve of the cheap
    hashed-linear scorer vs the C4 gate — the imbalance-honest
    complement of `eval_auc_binned` (ROC AUC flatters a scorer when
    negatives dominate; precision at a threshold is what a pre-prune
    deployment actually pays). Same factored logit + label
    (`_HLS_VS_C4_SQL`) and the same 100 fixed 6-dp-grid bins, so all
    three evals (AUC, calibration, PR) can never score different
    things. One row per occupied bin read as "predict positive at
    logit ≥ this bin": cumulative-from-the-top TP and predicted
    counts. Scale shape: the descending cumulative is an `F.aggregate`
    fold over the ≤100 collected bin rows (array state, then explode)
    — zero keyless windows, zero joins after the bin agg; the oracle
    uses a plain window (no plan constraints oracle-side)."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan.
    j = tx.hls_vs_c4_frame(docs)
    bin_col = F.least(
        F.floor(
            (F.round(F.col("logit") * 1000000, 0) + F.lit(500000))
            / F.lit(10000)
        ).cast("int"),
        F.lit(99),
    )
    bins = (
        j.select(
            bin_col.alias("__bin"),
            F.coalesce(F.col("__pass"), F.lit(0)).alias("__p"),
        )
        .groupBy("__bin")
        .agg(
            F.sum("__p").cast("decimal(38,0)").alias("__np"),
            (F.count(F.lit(1)) - F.sum("__p"))
            .cast("decimal(38,0)")
            .alias("__nn"),
        )
    )
    row = bins.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("__bin"), F.col("__np"), F.col("__nn"))
            ),
            asc=False,
        ).alias("__bs"),
        F.sum("__np").cast("decimal(38,0)").alias("__ptot"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    arr_t = "array<struct<bin:int,tp:decimal(38,0),n_pred:decimal(38,0)>>"
    folded = F.aggregate(
        F.col("__bs"),
        F.struct(
            zero.alias("tp"),
            zero.alias("pp"),
            F.lit(None).cast(arr_t).alias("arr"),
        ),
        lambda acc, x: F.struct(
            (acc["tp"] + x["__np"]).cast("decimal(38,0)").alias("tp"),
            (acc["pp"] + x["__np"] + x["__nn"])
            .cast("decimal(38,0)")
            .alias("pp"),
            F.concat(
                F.coalesce(acc["arr"], F.array().cast(arr_t)),
                F.array(
                    F.struct(
                        x["__bin"].alias("bin"),
                        (acc["tp"] + x["__np"])
                        .cast("decimal(38,0)")
                        .alias("tp"),
                        (acc["pp"] + x["__np"] + x["__nn"])
                        .cast("decimal(38,0)")
                        .alias("n_pred"),
                    )
                ),
            ).alias("arr"),
        ),
        lambda acc: acc["arr"],
    )
    ex = row.select(F.col("__ptot"), F.explode(folded).alias("__r"))
    return ex.select(
        F.col("__r.bin").cast("long").alias("bin"),
        F.col("__r.n_pred").cast("long").alias("n_pred"),
        F.col("__r.tp").cast("long").alias("tp"),
        rd(
            F.col("__r.tp").cast("double") / F.col("__r.n_pred").cast("double"),
            6,
        ).alias("precision"),
        F.when(
            F.col("__ptot") > 0,
            rd(
                F.col("__r.tp").cast("double") / F.col("__ptot").cast("double"),
                6,
            ),
        ).alias("recall"),
    )


@register(
    "privacy_t_closeness_audit",
    f"""
    WITH {_HLS_VS_C4_SQL},
    lab AS (
      SELECT d.doc_id, d.lang, d.source,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM documents d LEFT JOIN surv ON surv.doc_id = d.doc_id
      WHERE d.text IS NOT NULL
    ),
    tot AS (
      SELECT CAST(sum(pass) AS DOUBLE) / count(*) AS p_glob FROM lab
    ),
    cls AS (
      SELECT lang, source, count(*) AS n, CAST(sum(pass) AS DOUBLE) / count(*) AS p_cls
      FROM lab GROUP BY lang, source
    ),
    tdist AS (
      SELECT lang, source, n,
             {R("abs(p_cls - (SELECT p_glob FROM tot))", 6)} AS t
      FROM cls
    ),
    classed AS (
      SELECT CASE WHEN t >= 0.3 THEN 't>=0.3 distribution-disclosed'
                  WHEN t >= 0.1 THEN 't=0.1-0.3'
                  ELSE 't<0.1 close' END AS risk_class,
             n, t
      FROM tdist
    )
    SELECT risk_class,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(n) AS BIGINT) AS n_docs,
           {R("max(t)", 6)} AS max_t,
           {R("CAST(sum(CAST(t AS DECIMAL(38,6))) AS DOUBLE) / count(*)", 6)} AS mean_t
    FROM classed GROUP BY risk_class
    """,
)
def _q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007 — the third
    leg of the privacy release trilogy after k-anonymity and
    l-diversity): per quasi-identifier class (lang × source), the
    distance between the class's SENSITIVE-attribute distribution and
    the corpus-global one. A class can be k-anonymous AND l-diverse
    yet still disclose — if its distribution over the sensitive value
    differs sharply from global, membership alone shifts an attacker's
    posterior. Sensitive attribute: the C4 quality gate's pass bit
    (the released corpus's own quality label); for a binary attribute
    the variational distance is |p_class − p_global| exactly. Risk
    rollup by t band + per-band max/mean; every ratio is
    exact-integer division, one narrow groupBy at any scale, the
    global term one broadcast scalar."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # r14 (guide §2.3/§2.4): the gate label rides the SAME scan as the
    # quasi-identifier columns (was: a second corpus pass + doc_id
    # join), and the global rate rolls up from the bounded class table
    # (checkpointed — |lang × source| rows) instead of re-reading the
    # corpus: Σ np / Σ n over the classes is the identical integer
    # ratio the old full-row aggregate divided.
    lab = tx.c4_label_frame(docs, ("lang", "source")).select(
        "lang", "source", F.col("__pass").alias("__p")
    )
    cls0 = (
        lab.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__p").cast("long").alias("__np"),
        )
        .localCheckpoint(eager=False)
    )
    tot = cls0.agg(
        (F.sum("__np").cast("double") / F.sum("__n")).alias("__pg")
    )
    cls = cls0.select(
        "__n",
        (F.col("__np").cast("double") / F.col("__n")).alias("__pc"),
    )
    t = cls.crossJoin(F.broadcast(tot)).select(
        "__n", rd(F.abs(F.col("__pc") - F.col("__pg")), 6).alias("__t")
    )
    risk = (
        F.when(F.col("__t") >= 0.3, "t>=0.3 distribution-disclosed")
        .when(F.col("__t") >= 0.1, "t=0.1-0.3")
        .otherwise("t<0.1 close")
    )
    return t.groupBy(risk.alias("risk_class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("__n").cast("long").alias("n_docs"),
        rd(F.max("__t"), 6).alias("max_t"),
        rd(
            F.sum(F.col("__t").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_t"),
    )


@register(
    "eval_ece_binned",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                               / 10000) AS INT), 99) AS bin,
             CAST(round(sc.logit * 1000000, 0) + 500000 AS BIGINT) AS conf_micro,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    bins AS (
      SELECT bin, count(*) AS n, CAST(sum(pass) AS BIGINT) AS np,
             CAST(sum(conf_micro) AS BIGINT) AS smic
      FROM b GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM bins),
    gaps AS (
      SELECT bin, n,
             {R("abs(CAST(np AS DOUBLE) / n - CAST(smic AS DOUBLE) / (n * 1000000.0))", 9)} AS gap
      FROM bins
    )
    SELECT (SELECT nn FROM tot) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_bins,
           {R("max(" + sql_rd("gap", 6) + ")", 6)} AS max_gap,
           {R("CAST(sum(CAST(" + sql_rd("gap * n / (SELECT nn FROM tot)", 9) + " AS DECIMAL(38,9))) AS DOUBLE)", 6)} AS ece
    FROM gaps
    """,
)
def _q_eval_ece_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error (Naeini et al. 2015) — the
    one-number summary of `text_score_calibration`'s reliability
    diagram, over the SAME factored logit/label and the SAME 100 fixed
    6-dp bins as AUC and the PR curve (one family, one binning, four
    evals). Confidence maps the bounded logit to [0,1] as exact
    integer micro-units (logit·1e6 + 5e5); per bin the |accuracy −
    confidence| gap is one IEEE expression of exact integers, 9-dp
    rounded; ECE is the n_b/N-weighted decimal sum, rounded once.
    Everything after the bin aggregation is ≤100 rows — scan-bound at
    any corpus size."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan.
    j = tx.hls_vs_c4_frame(docs)
    conf_micro = (F.round(F.col("logit") * 1000000, 0) + F.lit(500000)).cast(
        "long"
    )
    bin_col = F.least(
        F.floor(conf_micro / F.lit(10000)).cast("int"), F.lit(99)
    )
    bins = (
        j.select(
            bin_col.alias("__bin"),
            conf_micro.alias("__cm"),
            F.coalesce(F.col("__pass"), F.lit(0)).alias("__p"),
        )
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__p").cast("long").alias("__np"),
            F.sum("__cm").cast("long").alias("__smic"),
        )
        # r13 (guide §2.4): the ≤100-row bin table feeds both the total
        # and the gap branch — without materialization the expensive
        # scorer + C4-gate subtree above it ran twice.
        .localCheckpoint(eager=False)
    )
    tot = bins.agg(F.sum("__n").cast("long").alias("__nn"))
    gaps = bins.crossJoin(F.broadcast(tot)).select(
        "__n",
        "__nn",
        rd(
            F.abs(
                F.col("__np").cast("double") / F.col("__n")
                - F.col("__smic").cast("double")
                / (F.col("__n") * F.lit(1000000.0))
            ),
            9,
        ).alias("__gap"),
    )
    return gaps.agg(
        F.max("__nn").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        rd(F.max(rd(F.col("__gap"), 6)), 6).alias("max_gap"),
        rd(
            F.sum(
                rd(
                    F.col("__gap") * F.col("__n") / F.col("__nn"), 9
                ).cast("decimal(38,9)")
            ).cast("double"),
            6,
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# r9 wave 10: Brier decomposition + weight-of-evidence encoding.
# ---------------------------------------------------------------------------


@register(
    "eval_brier_decomposition",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                               / 10000) AS INT), 99) AS bin,
             CAST(round(sc.logit * 1000000, 0) + 500000 AS BIGINT) AS conf_micro,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    bins AS (
      SELECT bin, count(*) AS n, CAST(sum(pass) AS BIGINT) AS np,
             CAST(sum(conf_micro) AS BIGINT) AS smic
      FROM b GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(np) AS BIGINT) AS npos
      FROM bins
    ),
    terms AS (
      SELECT n,
             CAST(np AS DOUBLE) / n AS acc,
             CAST(smic AS DOUBLE) / (n * 1000000.0) AS conf,
             CAST((SELECT npos FROM tot) AS DOUBLE) / (SELECT nn FROM tot) AS obar
      FROM bins
    ),
    parts AS (
      SELECT
        CAST(sum(CAST({sql_rd("(conf - acc) * (conf - acc) * n / (SELECT nn FROM tot)", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS rel,
        CAST(sum(CAST({sql_rd("(acc - obar) * (acc - obar) * n / (SELECT nn FROM tot)", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS res,
        max({R("obar * (1.0 - obar)", 9)}) AS unc
      FROM terms
    )
    SELECT (SELECT nn FROM tot) AS n_docs,
           {R("rel", 6)} AS reliability,
           {R("res", 6)} AS resolution,
           {R("unc", 6)} AS uncertainty,
           {R("rel - res + unc", 6)} AS brier_binned
    FROM parts
    """,
)
def _q_eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the binned Brier score (Murphy 1973):
    Brier = RELIABILITY − RESOLUTION + UNCERTAINTY over the same
    factored logit/label and 100 fixed bins as AUC/PR/ECE — the
    decomposition says WHY a scorer's probabilistic quality is what it
    is (badly calibrated? or just uninformative?), where ECE only
    prices the calibration term. REL = Σ n_b/N·(conf_b − acc_b)²,
    RES = Σ n_b/N·(acc_b − ō)², UNC = ō(1−ō), and the binned identity
    brier = REL − RES + UNC holds exactly (pytest). All terms are IEEE
    expressions of exact integer ratios, 9-dp rounded per bin, decimal
    summed, 6-dp surfaced; ≤100 rows after the bin agg."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan, and the
    # ≤100-row bin table checkpointed — it feeds both the total and
    # the terms branch, so the lazy form ran the whole scorer+gate
    # subtree twice (the before-plan shows 8 parquet scans).
    j = tx.hls_vs_c4_frame(docs)
    conf_micro = (F.round(F.col("logit") * 1000000, 0) + F.lit(500000)).cast(
        "long"
    )
    bin_col = F.least(
        F.floor(conf_micro / F.lit(10000)).cast("int"), F.lit(99)
    )
    bins = (
        j.select(
            bin_col.alias("__bin"),
            conf_micro.alias("__cm"),
            F.coalesce(F.col("__pass"), F.lit(0)).alias("__p"),
        )
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__p").cast("long").alias("__np"),
            F.sum("__cm").cast("long").alias("__smic"),
        )
        .localCheckpoint(eager=False)
    )
    tot = bins.agg(
        F.sum("__n").cast("long").alias("__nn"),
        F.sum("__np").cast("long").alias("__npos"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "__n",
        "__nn",
        (F.col("__np").cast("double") / F.col("__n")).alias("__acc"),
        (
            F.col("__smic").cast("double") / (F.col("__n") * F.lit(1000000.0))
        ).alias("__conf"),
        (F.col("__npos").cast("double") / F.col("__nn")).alias("__obar"),
    )
    rel_t = rd(
        (F.col("__conf") - F.col("__acc"))
        * (F.col("__conf") - F.col("__acc"))
        * F.col("__n")
        / F.col("__nn"),
        9,
    )
    res_t = rd(
        (F.col("__acc") - F.col("__obar"))
        * (F.col("__acc") - F.col("__obar"))
        * F.col("__n")
        / F.col("__nn"),
        9,
    )
    parts = terms.agg(
        F.max("__nn").cast("long").alias("n_docs"),
        F.sum(rel_t.cast("decimal(38,9)")).cast("double").alias("__rel"),
        F.sum(res_t.cast("decimal(38,9)")).cast("double").alias("__res"),
        F.max(
            rd(F.col("__obar") * (F.lit(1.0) - F.col("__obar")), 9)
        ).alias("__unc"),
    )
    return parts.select(
        "n_docs",
        rd(F.col("__rel"), 6).alias("reliability"),
        rd(F.col("__res"), 6).alias("resolution"),
        rd(F.col("__unc"), 6).alias("uncertainty"),
        rd(F.col("__rel") - F.col("__res") + F.col("__unc"), 6).alias(
            "brier_binned"
        ),
    )


@register(
    "eval_confusion_at_threshold",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT CASE WHEN sc.logit >= 0.0 THEN 1 ELSE 0 END AS pred,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    c AS (
      SELECT CAST(sum(pred * pass) AS BIGINT) AS tp,
             CAST(sum(pred * (1 - pass)) AS BIGINT) AS fp,
             CAST(sum((1 - pred) * pass) AS BIGINT) AS fn,
             CAST(sum((1 - pred) * (1 - pass)) AS BIGINT) AS tn
      FROM b
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp > 0 THEN
             {R("CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))", 6)}
           END AS prec,
           CASE WHEN tp + fn > 0 THEN
             {R("CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))", 6)}
           END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0 THEN
             {R("(2.0 * CAST(tp AS DOUBLE)) / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE))", 6)}
           END AS f1,
           {R("(CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE))", 6)} AS accuracy,
           CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0 AND (tn + fp) > 0 AND (tn + fn) > 0 THEN
             {R("(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) / sqrt(((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))) * ((CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))))", 6)}
           END AS mcc
    FROM c
    """,
)
def _q_eval_confusion_at_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPERATING-POINT eval for the cheap hashed-linear quality
    scorer against the expensive C4 gate: the confusion matrix and
    its derived rates at the deployment threshold (logit >= 0) — the
    number a pipeline owner reads AFTER `eval_auc_binned` says the
    ranking is good and `text_score_calibration` picks the threshold:
    what do we actually keep/lose if the cheap scorer pre-prunes the
    crawl HERE. Same factored scorer+label pair (`_HLS_VS_C4_SQL`) as
    the rest of the eval family, so all four evals (AUC, PR, Brier,
    confusion) score the identical logit against the identical label.
    Counts are exact integers off one scan + one doc_id-keyed left
    join; precision/recall/F1/accuracy/MCC are single IEEE
    expressions on the four counts (explicitly parenthesized so both
    engines multiply in the same order; sqrt is correctly rounded),
    zero-denominator cells NULL-guarded. Single-row output — at
    100 TB this is a pure scan + one broadcast-sized join, no state."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan.
    j = tx.hls_vs_c4_frame(docs).select(
        F.when(F.col("logit") >= 0.0, 1).otherwise(0).alias("__pred"),
        F.coalesce(F.col("__pass"), F.lit(0)).alias("__y"),
    )
    c = j.agg(
        F.sum(F.col("__pred") * F.col("__y")).cast("long").alias("tp"),
        F.sum(F.col("__pred") * (F.lit(1) - F.col("__y"))).cast("long").alias("fp"),
        F.sum((F.lit(1) - F.col("__pred")) * F.col("__y")).cast("long").alias("fn"),
        F.sum((F.lit(1) - F.col("__pred")) * (F.lit(1) - F.col("__y"))).cast("long").alias("tn"),
    )
    tp = F.col("tp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    tn = F.col("tn").cast("double")
    mcc_den = F.sqrt(((tp + fp) * (tp + fn)) * ((tn + fp) * (tn + fn)))
    return c.select(
        "tp", "fp", "fn", "tn",
        F.when(F.col("tp") + F.col("fp") > 0, rd(tp / (tp + fp), 6)).alias("prec"),
        F.when(F.col("tp") + F.col("fn") > 0, rd(tp / (tp + fn), 6)).alias("recall"),
        F.when(
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            rd((F.lit(2.0) * tp) / (F.lit(2.0) * tp + fp + fn), 6),
        ).alias("f1"),
        rd((tp + tn) / (tp + fp + fn + tn), 6).alias("accuracy"),
        F.when(
            (F.col("tp") + F.col("fp") > 0)
            & (F.col("tp") + F.col("fn") > 0)
            & (F.col("tn") + F.col("fp") > 0)
            & (F.col("tn") + F.col("fn") > 0),
            rd((tp * tn - fp * fn) / mcc_den, 6),
        ).alias("mcc"),
    )


@register(
    "stats_bh_fdr_ks_by_type",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) AS us, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    rng AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
    f AS (
      SELECT event_type, v,
             CASE WHEN us <= (u0 + u1) // 2 THEN 1 ELSE 0 END AS isa
      FROM ev CROSS JOIN rng
    ),
    r AS (
      SELECT event_type, v,
             sum(isa) OVER (PARTITION BY event_type ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS ca,
             sum(1 - isa) OVER (PARTITION BY event_type ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cb,
             sum(isa) OVER (PARTITION BY event_type) AS na,
             sum(1 - isa) OVER (PARTITION BY event_type) AS nb,
             lead(v) OVER (PARTITION BY event_type ORDER BY v) AS nv
      FROM f
    ),
    l AS (SELECT * FROM r WHERE nv IS NULL OR nv <> v),
    m AS (
      SELECT event_type,
             max(abs(CAST(ca AS DECIMAL(38,0)) * nb
                     - CAST(cb AS DECIMAL(38,0)) * na)) AS dnum,
             max(na) AS n_a, max(nb) AS n_b
      FROM l GROUP BY event_type
    ),
    k AS (
      SELECT event_type,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             {R("CAST(dnum AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))", 6)} AS ks_stat
      FROM m WHERE n_a > 0 AND n_b > 0
    ),
    p AS (
      SELECT event_type, n_a, n_b, ks_stat,
             {R("least(1.0, 2.0 * exp(-2.0 * ((ks_stat * ks_stat) * ((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))))))", 8)} AS p_value
      FROM k
    ),
    rr AS (
      SELECT *, row_number() OVER (ORDER BY p_value, event_type) AS rn,
             count(*) OVER () AS mm
      FROM p
    ),
    q AS (
      SELECT event_type, n_a, n_b, ks_stat, p_value,
             {R("least(1.0, min((p_value * CAST(mm AS DOUBLE)) / CAST(rn AS DOUBLE)) OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))", 8)} AS q_value
      FROM rr
    )
    SELECT event_type, n_a, n_b, ks_stat, p_value, q_value,
           CAST(CASE WHEN q_value <= 0.05 THEN 1 ELSE 0 END AS INTEGER) AS discovery
    FROM q
    """,
)
def _q_stats_bh_fdr_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE-TESTING control over the drift family: the per-type
    KS drift test (identical exact-integer statistic as
    `stats_ks_halves_by_type`) promoted from one critical value to
    asymptotic p-values (p = 2·exp(−2·d²·n_a·n_b/(n_a+n_b)), computed
    from the 6-dp-rounded stat so both engines exponentiate the same
    double) with BENJAMINI-HOCHBERG step-up q-values across the m
    types — the correction a monitoring pipeline needs the moment it
    runs the drift test per segment × per day (at 100 TB that is
    thousands of simultaneous tests; per-test α would page on noise
    every night). q_i = min(1, min_{{j≥i}} p_(j)·m/j) is computed
    WITHOUT a keyless window: the per-type rows (≤|types|) collect
    into ONE sorted array and an O(m²) `F.transform` over index
    suffixes takes the running min — the eval-family
    collect-list-and-fold pattern, all JVM-side. Tie order between
    equal p-values provably cannot change q (equal p at ranks i<j
    share the suffix min), so the sort key needs no tiebreak for
    value agreement. Output: stat, p, q (8-dp), FDR-0.05 discovery
    flag per type."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    us = event_micros(ev)
    base = ev.select("event_type", us.alias("__us"), F.col("value").alias("__v"))
    rng = base.agg(F.min("__us").alias("__u0"), F.max("__us").alias("__u1"))
    flagged = base.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "__v",
        F.when(F.col("__us") <= F.expr("(__u0 + __u1) DIV 2"), 1)
        .otherwise(0)
        .alias("__isa"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("__v").asc())
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("event_type")
    r = flagged.select(
        "event_type",
        "__v",
        F.sum("__isa").over(wcum).alias("__ca"),
        F.sum(F.lit(1) - F.col("__isa")).over(wcum).alias("__cb"),
        F.sum("__isa").over(wall).alias("__na"),
        F.sum(F.lit(1) - F.col("__isa")).over(wall).alias("__nb"),
        F.lead("__v").over(w).alias("__nv"),
    )
    last = r.filter(F.col("__nv").isNull() | (F.col("__nv") != F.col("__v")))
    num = F.abs(
        F.col("__ca").cast("decimal(38,0)") * F.col("__nb")
        - F.col("__cb").cast("decimal(38,0)") * F.col("__na")
    )
    m = last.groupBy("event_type").agg(
        F.max(num).alias("__dnum"),
        F.max("__na").alias("__fna"),
        F.max("__nb").alias("__fnb"),
    ).filter((F.col("__fna") > 0) & (F.col("__fnb") > 0))
    na_d = F.col("__fna").cast("double")
    nb_d = F.col("__fnb").cast("double")
    ks = rd(F.col("__dnum").cast("double") / (na_d * nb_d), 6)
    pval = rd(
        F.least(
            F.lit(1.0),
            F.lit(2.0)
            * F.exp(
                F.lit(-2.0) * ((ks * ks) * ((na_d * nb_d) / (na_d + nb_d)))
            ),
        ),
        8,
    )
    per = m.select(
        pval.alias("p"),
        F.col("event_type"),
        ks.alias("ks_stat"),
        F.col("__fna").cast("long").alias("n_a"),
        F.col("__fnb").cast("long").alias("n_b"),
    )
    row = per.agg(
        F.sort_array(
            F.collect_list(
                F.struct("p", "event_type", "ks_stat", "n_a", "n_b")
            )
        ).alias("__arr")
    )
    arr = F.col("__arr")
    mm = F.size(arr).cast("double")
    qarr = F.transform(
        F.sequence(F.lit(1), F.size(arr)),
        lambda i: rd(
            F.least(
                F.lit(1.0),
                F.array_min(
                    F.transform(
                        F.sequence(i, F.size(arr)),
                        lambda j: (F.element_at(arr, j)["p"] * mm)
                        / j.cast("double"),
                    )
                ),
            ),
            8,
        ),
    )
    z = row.select(F.explode(F.arrays_zip(arr, qarr.alias("__q"))).alias("__z"))
    return z.select(
        F.col("__z.__arr.event_type").alias("event_type"),
        F.col("__z.__arr.n_a").alias("n_a"),
        F.col("__z.__arr.n_b").alias("n_b"),
        F.col("__z.__arr.ks_stat").alias("ks_stat"),
        F.col("__z.__arr.p").alias("p_value"),
        F.col("__z.__q").alias("q_value"),
        F.when(F.col("__z.__q") <= 0.05, 1).otherwise(0).cast("int").alias("discovery"),
    )


@register(
    "stats_cramers_v_pairs",
    f"""
    WITH base AS (
      SELECT event_type,
             CAST((epoch_us(ts) // 3600000000) % 24 AS VARCHAR) AS hod,
             CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS VARCHAR) AS dow
      FROM events
    ),
    m AS (
      SELECT 'type_x_hod' AS pair, event_type AS x, hod AS y FROM base
      UNION ALL SELECT 'type_x_dow', event_type, dow FROM base
      UNION ALL SELECT 'hod_x_dow', hod, dow FROM base
    ),
    o AS (SELECT pair, x, y, count(*) AS obs FROM m GROUP BY 1, 2, 3),
    rt AS (SELECT pair, x, sum(obs) AS rtot FROM o GROUP BY pair, x),
    ct AS (SELECT pair, y, sum(obs) AS ctot FROM o GROUP BY pair, y),
    g AS (SELECT pair, sum(obs) AS total FROM o GROUP BY pair),
    grid AS (
      SELECT rt.pair, rt.x, ct.y, rt.rtot, ct.ctot
      FROM rt JOIN ct ON ct.pair = rt.pair
    ),
    cells AS (
      SELECT gr.pair, COALESCE(o.obs, 0) AS obs,
             CAST(gr.rtot AS DOUBLE) * gr.ctot / g.total AS expected,
             gr.x, gr.y
      FROM grid gr
      LEFT JOIN o ON o.pair = gr.pair AND o.x = gr.x AND o.y = gr.y
      JOIN g ON g.pair = gr.pair
    ),
    agg AS (
      SELECT pair,
             CAST(sum(CAST({sql_rd(
                 "(obs - expected) * (obs - expected) / expected", 6
             )} AS DECIMAL(38,6))) AS DOUBLE) AS chi2,
             count(DISTINCT x) AS r, count(DISTINCT y) AS c,
             sum(obs) AS n
      FROM cells GROUP BY pair
    )
    SELECT pair,
           {R("chi2", 6)} AS chi2,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           CAST(n AS BIGINT) AS n,
           CASE WHEN least(r - 1, c - 1) > 0 THEN
             {R("sqrt(chi2 / (CAST(n AS DOUBLE) * least(r - 1, c - 1)))", 6)}
           END AS cramers_v
    FROM agg
    """,
)
def _q_stats_cramers_v_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V association panel over the categorical column pairs
    (event_type × hour-of-day, event_type × day-of-week, hour × dow)
    — `stats_chi2_type_vs_hour` generalized from one raw statistic to
    the NORMALIZED effect size a profiler can compare ACROSS pairs
    with different table shapes (chi2 grows with n and dof; V =
    √(χ²/(n·min(r−1,c−1))) ∈ [0,1] does not), which is how a feature-
    selection or leakage audit ranks categorical dependencies. All
    three contingency tables ride ONE unpivoted (pair, x, y) keyed
    aggregation (`stack`, scan-side) + margin joins — no per-pair
    rescan; the margin×margin grid is rebuilt so ZERO cells
    contribute their expected mass (dropping them understates χ² —
    exactly on the drifted slices the test exists for; perfect
    association pins V=1 in pytest); hour/dow are integer epoch buckets (no calendar-locale
    trap between engines); per-cell terms 6-dp-rounded and
    decimal-summed like the chi2 parent. 3-row output."""
    base = _events(spark, sf_dir).select(
        "event_type",
        (F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24)
        .cast("string")
        .alias("hod"),
        ((F.expr("unix_micros(cast(ts as timestamp)) div 86400000000") + 4) % 7)
        .cast("string")
        .alias("dow"),
    )
    m = base.select(
        F.expr(
            "stack(3, 'type_x_hod', event_type, hod,"
            " 'type_x_dow', event_type, dow,"
            " 'hod_x_dow', hod, dow) as (pair, x, y)"
        )
    )
    o = m.groupBy("pair", "x", "y").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("pair", "x").agg(F.sum("obs").alias("rtot"))
    ct = o.groupBy("pair", "y").agg(F.sum("obs").alias("ctot"))
    g = o.groupBy("pair").agg(F.sum("obs").alias("total"))
    grid = rt.join(ct.hint("shuffle_hash"), "pair")
    cells = (
        grid.join(o.hint("shuffle_hash"), ["pair", "x", "y"], "left")
        .join(F.broadcast(g), "pair")
        .select(
            "pair",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
            (F.col("rtot").cast("double") * F.col("ctot") / F.col("total")).alias(
                "expected"
            ),
            "x",
            "y",
        )
    )
    agg = cells.groupBy("pair").agg(
        F.sum(
            rd(
                (F.col("obs") - F.col("expected"))
                * (F.col("obs") - F.col("expected"))
                / F.col("expected"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("__chi2"),
        F.count_distinct(F.col("x")).alias("__r"),
        F.count_distinct(F.col("y")).alias("__c"),
        F.sum("obs").alias("__n"),
    )
    return agg.select(
        "pair",
        rd(F.col("__chi2"), 6).alias("chi2"),
        ((F.col("__r") - 1) * (F.col("__c") - 1)).cast("long").alias("dof"),
        F.col("__n").cast("long").alias("n"),
        F.when(
            F.least(F.col("__r") - 1, F.col("__c") - 1) > 0,
            rd(
                F.sqrt(
                    F.col("__chi2")
                    / (
                        F.col("__n").cast("double")
                        * F.least(F.col("__r") - 1, F.col("__c") - 1)
                    )
                ),
                6,
            ),
        ).alias("cramers_v"),
    )


@register(
    "dq_functional_dependency",
    f"""
    WITH fd1 AS (
      SELECT 'orders.o_orderkey->o_custkey' AS fd,
             count(*) AS n_lhs,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
            FROM orders GROUP BY o_orderkey)
    ),
    fd2 AS (
      SELECT 'lineitem.l_orderkey->l_returnflag' AS fd,
             count(*) AS n_lhs,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS nd
            FROM lineitem GROUP BY l_orderkey)
    ),
    fd3 AS (
      SELECT 'lineitem.l_partkey->l_suppkey' AS fd,
             count(*) AS n_lhs,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nd
            FROM lineitem GROUP BY l_partkey)
    ),
    fd4 AS (
      SELECT 'part.p_brand->p_type' AS fd,
             count(*) AS n_lhs,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      FROM (SELECT p_brand, count(DISTINCT p_type) AS nd
            FROM part GROUP BY p_brand)
    ),
    u AS (
      SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
      UNION ALL SELECT * FROM fd3 UNION ALL SELECT * FROM fd4
    )
    SELECT fd, CAST(n_lhs AS BIGINT) AS n_lhs, n_violating,
           {R("CAST(n_violating AS DOUBLE) / n_lhs", 6)} AS violation_rate,
           CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS INTEGER) AS holds
    FROM u
    """,
)
def _q_dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY audit — the schema-contract member of
    the DQ family (`dq_expectations_report` checks value ranges; this
    checks STRUCTURE): for each candidate FD lhs→rhs, the count of
    lhs values bound to more than one rhs value. Validates key
    contracts (o_orderkey→o_custkey must hold: violation = corrupted
    ingest or a bad merge) and DOCUMENTS true multiplicities the
    optimizer/modeler must not assume away (l_partkey→l_suppkey
    violates by design — multi-sourcing). Each FD is one
    lhs-keyed count-distinct aggregation reduced to a single row —
    map-side combined, four tiny rows unioned; at 100 TB each audit
    is one exchange on its lhs. The FD set is the audit's
    configuration; adding one is one more UNION branch."""
    def _fd(df, name, lhs, rhs):
        nd = df.groupBy(lhs).agg(F.count_distinct(F.col(rhs)).alias("__nd"))
        return nd.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum(F.when(F.col("__nd") > 1, 1).otherwise(0)).cast("long").alias("n_violating"),
        )

    orders = _table(spark, sf_dir, "orders")
    li = _table(spark, sf_dir, "lineitem")
    part = _table(spark, sf_dir, "part")
    u = (
        _fd(orders, "orders.o_orderkey->o_custkey", "o_orderkey", "o_custkey")
        .unionByName(_fd(li, "lineitem.l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
        .unionByName(_fd(li, "lineitem.l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .unionByName(_fd(part, "part.p_brand->p_type", "p_brand", "p_type"))
    )
    return u.select(
        "fd",
        "n_lhs",
        "n_violating",
        rd(F.col("n_violating").cast("double") / F.col("n_lhs"), 6).alias(
            "violation_rate"
        ),
        F.when(F.col("n_violating") == 0, 1).otherwise(0).cast("int").alias("holds"),
    )


@register(
    "eval_lift_gains_decile",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                               / 100000) AS INT), 9) AS bin,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    bins AS (
      SELECT bin, count(*) AS n_docs, sum(pass) AS n_pass
      FROM b GROUP BY bin
    ),
    tot AS (SELECT sum(n_docs) AS tn, sum(n_pass) AS tp FROM bins),
    cum AS (
      SELECT bin, n_docs, n_pass,
             sum(n_docs) OVER (ORDER BY bin DESC
                               ROWS UNBOUNDED PRECEDING) AS cn,
             sum(n_pass) OVER (ORDER BY bin DESC
                               ROWS UNBOUNDED PRECEDING) AS cp
      FROM bins
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           {R("bin / 10.0 - 0.5", 6)} AS bin_lo,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pass AS BIGINT) AS n_pass,
           {R("CAST(n_pass AS DOUBLE) / n_docs", 6)} AS pass_rate,
           CASE WHEN tp > 0 THEN
             {R("(CAST(n_pass AS DOUBLE) / n_docs) / (CAST(tp AS DOUBLE) / tn)", 6)}
           END AS lift,
           {R("CAST(cn AS DOUBLE) / tn", 6)} AS cum_share,
           CASE WHEN tp > 0 THEN
             {R("CAST(cp AS DOUBLE) / tp", 6)}
           END AS cum_gains,
           CASE WHEN tp > 0 THEN
             {R("(CAST(cp AS DOUBLE) / cn) / (CAST(tp AS DOUBLE) / tn)", 6)}
           END AS cum_lift
    FROM cum CROSS JOIN tot
    """,
)
def _q_eval_lift_gains_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIFT / GAINS table for the cheap quality scorer — the
    TARGETING readout of the eval family: bin documents by the same
    ten fixed logit bands as the calibration diagram, walk from the
    TOP band down, and report per band the pass-rate lift over the
    corpus base rate plus the cumulative share of all C4 survivors
    captured (gains) — i.e. "score-prune the top X% of the crawl and
    you keep Y% of everything the expensive gate would keep", the
    single chart that prices a pre-filter threshold in retained-data
    terms (confusion prices ONE threshold; this prices all ten).
    Same factored `_HLS_VS_C4_SQL` scorer+label, fixed integer-grid
    bins (no global rank), cumulative sums over the ≤10 bin rows via
    the collect-sorted-array fold — the BH/AUC pattern, no keyless
    window. Zero-pass corpora NULL-guard every lift column."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan.
    j = tx.hls_vs_c4_frame(docs)
    bin_col = F.least(
        F.floor(
            (F.round(F.col("logit") * 1000000, 0) + F.lit(500000)) / F.lit(100000)
        ).cast("int"),
        F.lit(9),
    )
    bins = (
        j.select(bin_col.alias("__bin"), F.coalesce(F.col("__pass"), F.lit(0)).alias("__p"))
        .groupBy("__bin")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__p").alias("__np"))
    )
    row = bins.agg(
        F.reverse(
            F.sort_array(F.collect_list(F.struct("__bin", "__n", "__np")))
        ).alias("__arr"),
        F.sum("__n").alias("__tn"),
        F.sum("__np").alias("__tp"),
    )
    arr = F.col("__arr")
    cumn = F.transform(
        F.sequence(F.lit(1), F.size(arr)),
        lambda i: F.aggregate(
            F.slice(arr, F.lit(1), i),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x["__n"],
        ),
    )
    cump = F.transform(
        F.sequence(F.lit(1), F.size(arr)),
        lambda i: F.aggregate(
            F.slice(arr, F.lit(1), i),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x["__np"],
        ),
    )
    z = row.select(
        "__tn",
        "__tp",
        F.explode(
            F.arrays_zip(arr, cumn.alias("__cn"), cump.alias("__cp"))
        ).alias("__z"),
    ).select(
        F.col("__z.__arr.__bin").alias("bin"),
        F.col("__z.__arr.__n").alias("__n"),
        F.col("__z.__arr.__np").alias("__np"),
        F.col("__z.__cn").alias("__cn"),
        F.col("__z.__cp").alias("__cp"),
        "__tn",
        "__tp",
    )
    tp_pos = F.col("__tp") > 0
    base = F.col("__tp").cast("double") / F.col("__tn")
    return z.select(
        F.col("bin").cast("int").alias("bin"),
        rd(F.col("bin") / F.lit(10.0) - F.lit(0.5), 6).alias("bin_lo"),
        F.col("__n").cast("long").alias("n_docs"),
        F.col("__np").cast("long").alias("n_pass"),
        rd(F.col("__np").cast("double") / F.col("__n"), 6).alias("pass_rate"),
        F.when(tp_pos, rd((F.col("__np").cast("double") / F.col("__n")) / base, 6)).alias("lift"),
        rd(F.col("__cn").cast("double") / F.col("__tn"), 6).alias("cum_share"),
        F.when(tp_pos, rd(F.col("__cp").cast("double") / F.col("__tp"), 6)).alias("cum_gains"),
        F.when(tp_pos, rd((F.col("__cp").cast("double") / F.col("__cn")) / base, 6)).alias("cum_lift"),
    )


@register(
    "privacy_dp_count_report",
    f"""
    WITH g AS (
      SELECT event_type, sum(cnt_per_user) AS n,
             count(*) AS n_users,
             max(cnt_per_user) AS max_user_contrib
      FROM (
        SELECT event_type, user_id, count(*) AS cnt_per_user
        FROM events GROUP BY event_type, user_id
      ) t
      GROUP BY event_type
    ),
    eps AS (SELECT * FROM (VALUES (0.1), (1.0)) e(epsilon))
    SELECT g.event_type,
           CAST(g.n AS BIGINT) AS n,
           CAST(g.n_users AS BIGINT) AS n_users,
           CAST(g.max_user_contrib AS BIGINT) AS sensitivity,
           CAST(e.epsilon AS DOUBLE) AS epsilon,
           {R("CAST(g.max_user_contrib AS DOUBLE) / e.epsilon", 6)} AS laplace_scale,
           {R("(CAST(g.max_user_contrib AS DOUBLE) / e.epsilon) / g.n", 6)} AS rel_err,
           CAST(CASE WHEN (CAST(g.max_user_contrib AS DOUBLE) / e.epsilon) / g.n < 0.05
                THEN 1 ELSE 0 END AS INTEGER) AS publishable
    FROM g CROSS JOIN eps e
    """,
)
def _q_privacy_dp_count_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIAL-PRIVACY budget planner for per-type event counts
    — the deterministic half of a DP release (the noise draw happens
    at publication; THIS report decides whether a release is worth
    making): per event type, the USER-LEVEL sensitivity (max events
    one user contributes — user-level DP, not the naive row-level
    Δ=1), the Laplace scale Δ/ε and expected relative error (E|Lap| =
    b) at ε ∈ {{0.1, 1}}, and a publishable flag (rel. error < 5%).
    Complements the re-identification audits (k-anonymity,
    l-diversity, t-closeness judge the raw table; this prices the
    NOISED aggregate). One (type, user) keyed agg + one type agg —
    map-side combined; output |types|×|ε| rows."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("__c")
    )
    g = per_user.groupBy("event_type").agg(
        F.sum("__c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.max("__c").cast("long").alias("sensitivity"),
    )
    j = g.select(
        "*", F.explode(F.array(F.lit(0.1), F.lit(1.0))).alias("epsilon")
    )
    scale = F.col("sensitivity").cast("double") / F.col("epsilon")
    rel = scale / F.col("n")
    return j.select(
        "event_type",
        "n",
        "n_users",
        "sensitivity",
        F.col("epsilon").cast("double").alias("epsilon"),
        rd(scale, 6).alias("laplace_scale"),
        rd(rel, 6).alias("rel_err"),
        F.when(rel < 0.05, 1).otherwise(0).cast("int").alias("publishable"),
    )


@register(
    "dq_volume_anomaly_daily",
    f"""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
      FROM events GROUP BY 1
    ),
    arrs AS (
      SELECT list_sort(list(n)) AS arr FROM d
    ),
    med AS (
      SELECT (arr[CAST(floor((len(arr) + 1) / 2) AS INT)]
              + arr[CAST(floor(len(arr) / 2) AS INT) + 1]) / 2.0 AS med, arr
      FROM arrs
    ),
    mz AS (
      SELECT med,
             (arr2[CAST(floor((len(arr2) + 1) / 2) AS INT)]
              + arr2[CAST(floor(len(arr2) / 2) AS INT) + 1]) / 2.0 AS mad
      FROM (SELECT med, list_sort(list_transform(arr, x -> abs(x - med))) AS arr2 FROM med)
    )
    SELECT CAST(d.day AS BIGINT) AS day,
           CAST(d.n AS BIGINT) AS n_rows,
           {R("m.med", 6)} AS median_rows,
           {R("m.mad", 6)} AS mad_rows,
           CASE WHEN m.mad > 0.0 THEN
             {R("(d.n - m.med) / (1.4826 * m.mad)", 6)}
           END AS robust_z,
           CAST(CASE WHEN m.mad > 0.0 AND abs((d.n - m.med) / (1.4826 * m.mad)) > 3.5
                THEN 1 ELSE 0 END AS INTEGER) AS anomaly
    FROM d CROSS JOIN mz m
    """,
)
def _q_dq_volume_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-VOLUME anomaly detector — the DQ check that catches a
    broken producer or a double-delivery before any value-level test
    can (freshness says data ARRIVED; this says the right AMOUNT
    arrived): daily row counts scored by robust z against the
    corpus's own median/MAD (the Hampel identifier on the day axis —
    a crashed day cannot drag the threshold the way it drags a
    mean±kσ rule). Day counts are one map-side-combined agg (≤ a few
    thousand rows for years of data); the median and MAD come off ONE
    sorted collected array (the `ts_hampel_filter` interpolated
    formula) attached back as a sanctioned 1-row broadcast. |days|-row
    output, MAD=0 NULL-guarded."""
    ev = _events(spark, sf_dir)
    d = ev.select(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).alias("__n"))
    arrs = d.agg(F.sort_array(F.collect_list(F.col("__n").cast("double"))).alias("__arr"))

    def _med(a):
        n = F.size(a)
        lo = F.element_at(a, F.floor((n + F.lit(1)) / F.lit(2)).cast("int"))
        hi = F.element_at(a, F.floor(n / F.lit(2)).cast("int") + F.lit(1))
        return (lo + hi) / F.lit(2.0)

    med = arrs.select(
        "__arr", _med(F.col("__arr")).alias("__med")
    )
    arr2 = F.sort_array(F.transform(F.col("__arr"), lambda x: F.abs(x - F.col("__med"))))
    mz = med.select("__med", _med(arr2).alias("__mad"))
    j = d.crossJoin(F.broadcast(mz))
    zexpr = (F.col("__n") - F.col("__med")) / (F.lit(1.4826) * F.col("__mad"))
    return j.select(
        F.col("day").cast("long").alias("day"),
        F.col("__n").cast("long").alias("n_rows"),
        rd(F.col("__med"), 6).alias("median_rows"),
        rd(F.col("__mad"), 6).alias("mad_rows"),
        F.when(F.col("__mad") > 0.0, rd(zexpr, 6)).alias("robust_z"),
        F.when((F.col("__mad") > 0.0) & (F.abs(zexpr) > 3.5), 1)
        .otherwise(0)
        .cast("int")
        .alias("anomaly"),
    )


@register(
    "dq_srm_check",
    f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    h AS (
      SELECT user_id,
             ('0x' || substr(md5('tsdt|ab|' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
      FROM u
    ),
    b AS (
      SELECT 'ab_2way' AS scheme, 2 AS k, hv % 2 AS bucket FROM h
      UNION ALL
      SELECT 'uniform_10way' AS scheme, 10 AS k, hv % 10 AS bucket FROM h
    ),
    o AS (SELECT scheme, k, bucket, count(*) AS n FROM b GROUP BY 1, 2, 3),
    t AS (SELECT scheme, max(k) AS k, sum(n) AS tot FROM o GROUP BY scheme),
    c AS (
      SELECT o.scheme, t.k, t.tot,
             CAST(sum(CAST({sql_rd(
                 "(o.n - CAST(t.tot AS DOUBLE) / t.k) * (o.n - CAST(t.tot AS DOUBLE) / t.k) / (CAST(t.tot AS DOUBLE) / t.k)",
                 6,
             )} AS DECIMAL(38,6))) AS DOUBLE) AS chi2
      FROM o JOIN t ON t.scheme = o.scheme
      GROUP BY o.scheme, t.k, t.tot
    )
    SELECT scheme,
           CAST(k AS INTEGER) AS n_buckets,
           CAST(tot AS BIGINT) AS n_users,
           {R("chi2", 6)} AS chi2,
           CAST(k - 1 AS BIGINT) AS dof,
           CASE WHEN k = 2 THEN 3.841 ELSE 16.919 END AS crit_05,
           CAST(CASE WHEN {R("chi2", 6)} > (CASE WHEN k = 2 THEN 3.841 ELSE 16.919 END)
                THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
    FROM c
    """,
)
def _q_dq_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH check for hash-based experiment
    assignment — the first thing an experimentation platform
    validates before trusting ANY A/B readout (`stats_ab_power` sizes
    the test; THIS says the assignment itself isn't broken): users
    bucket by md5 (the same deterministic assignment a real system
    ships), observed bucket counts against the uniform expectation by
    chi-square, for the 2-way A/B split and a 10-way uniformity probe
    (dof 1 and 9, α=0.05 critical values as literals — no inverse-CDF
    dependence). A flagged SRM means biased bucketing (bot users,
    hash collisions with an ID scheme, a dropped bucket) — the
    invalidator of every downstream CUPED/power/MW readout. One
    distinct-user scan fanned to both schemes scan-side, two tiny
    keyed aggs; per-bucket terms 6-dp-rounded and decimal-summed.
    2-row output."""
    ev = _events(spark, sf_dir)
    u = ev.select("user_id").distinct()
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("tsdt|ab|"), F.col("user_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    h = u.select(hv.alias("__hv"))
    b = h.select(
        F.expr(
            "stack(2, 'ab_2way', 2, __hv % 2, 'uniform_10way', 10, __hv % 10)"
            " as (scheme, k, bucket)"
        )
    )
    o = b.groupBy("scheme", "k", "bucket").agg(F.count(F.lit(1)).alias("__n"))
    t = o.groupBy("scheme").agg(F.max("k").alias("__k"), F.sum("__n").alias("__tot"))
    exp_n = F.col("__tot").cast("double") / F.col("__k")
    term = rd(
        (F.col("__n") - exp_n) * (F.col("__n") - exp_n) / exp_n, 6
    ).cast("decimal(38,6)")
    c = (
        o.join(F.broadcast(t), "scheme")
        .groupBy("scheme", "__k", "__tot")
        .agg(F.sum(term).cast("double").alias("__chi2"))
    )
    crit = F.when(F.col("__k") == 2, F.lit(3.841)).otherwise(F.lit(16.919))
    chi2r = rd(F.col("__chi2"), 6)
    return c.select(
        "scheme",
        F.col("__k").cast("int").alias("n_buckets"),
        F.col("__tot").cast("long").alias("n_users"),
        chi2r.alias("chi2"),
        (F.col("__k") - 1).cast("long").alias("dof"),
        crit.alias("crit_05"),
        F.when(chi2r > crit, 1).otherwise(0).cast("int").alias("srm_flag"),
    )


@register(
    "privacy_qi_risk_sweep",
    f"""
    WITH base AS (
      SELECT event_type,
             CAST((epoch_us(ts) // 3600000000) % 24 AS VARCHAR) AS hod,
             CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS VARCHAR) AS dow
      FROM events
    ),
    m AS (
      SELECT 'type' AS qi_set, event_type AS qk FROM base
      UNION ALL
      SELECT 'type+hour', event_type || '|' || hod FROM base
      UNION ALL
      SELECT 'type+hour+dow', event_type || '|' || hod || '|' || dow FROM base
    ),
    g AS (SELECT qi_set, qk, count(*) AS k FROM m GROUP BY qi_set, qk),
    agg AS (
      SELECT qi_set,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(min(k) AS BIGINT) AS min_k,
             CAST(sum(k) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk
      FROM g GROUP BY qi_set
    )
    SELECT qi_set, n_groups, min_k, n_rows, rows_at_risk,
           {R("CAST(rows_at_risk AS DOUBLE) / n_rows", 6)} AS risk_share,
           CAST(CASE WHEN min_k >= 5 THEN 1 ELSE 0 END AS INTEGER) AS k5_anonymous
    FROM agg
    """,
)
def _q_privacy_qi_risk_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUASI-IDENTIFIER dimensionality sweep — how re-identification
    risk GROWS as attributes stack (Sweeney's 87%-from-three-attrs
    result, as a query): for QI sets {{type}}, {{type,hour}},
    {{type,hour,dow}}, the equivalence-class count, the smallest
    class (the k in k-anonymity), and the share of rows in classes
    below k=5. `privacy_k_anonymity_audit` judges ONE chosen QI set;
    this is the PLANNING view that picks which attributes a release
    can afford to keep before that audit runs. One scan fans the
    three key shapes scan-side (`stack`), one (set, key) count, one
    |sets|-row reduction — the same shape discipline as the Cramér's
    panel. 3-row output at any scale."""
    base = _events(spark, sf_dir).select(
        "event_type",
        (F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24)
        .cast("string")
        .alias("__hod"),
        ((F.expr("unix_micros(cast(ts as timestamp)) div 86400000000") + 4) % 7)
        .cast("string")
        .alias("__dow"),
    )
    m = base.select(
        F.expr(
            "stack(3,"
            " 'type', event_type,"
            " 'type+hour', concat(event_type, '|', __hod),"
            " 'type+hour+dow', concat(event_type, '|', __hod, '|', __dow)"
            ") as (qi_set, qk)"
        )
    )
    g = m.groupBy("qi_set", "qk").agg(F.count(F.lit(1)).alias("__k"))
    agg = g.groupBy("qi_set").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("__k").cast("long").alias("min_k"),
        F.sum("__k").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("__k") < 5, F.col("__k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )
    return agg.select(
        "qi_set",
        "n_groups",
        "min_k",
        "n_rows",
        "rows_at_risk",
        rd(F.col("rows_at_risk").cast("double") / F.col("n_rows"), 6).alias(
            "risk_share"
        ),
        F.when(F.col("min_k") >= 5, 1).otherwise(0).cast("int").alias("k5_anonymous"),
    )


@register(
    "stats_tost_equivalence_by_type",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) AS us, value AS v
      FROM events WHERE value IS NOT NULL
    ),
    rng AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
    f AS (
      SELECT event_type, v,
             CASE WHEN us <= (u0 + u1) // 2 THEN 1 ELSE 0 END AS isa
      FROM ev CROSS JOIN rng
    ),
    g AS (
      SELECT event_type,
             sum(isa) AS n_a, sum(1 - isa) AS n_b,
             CAST(sum(CASE WHEN isa = 1 THEN CAST({R("v", 6)} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS sa,
             CAST(sum(CASE WHEN isa = 0 THEN CAST({R("v", 6)} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS sb,
             CAST(sum(CASE WHEN isa = 1 THEN CAST({R("v * v", 6)} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS qa,
             CAST(sum(CASE WHEN isa = 0 THEN CAST({R("v * v", 6)} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS qb
      FROM f GROUP BY event_type
    ),
    m AS (
      SELECT event_type,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             sa / n_a AS ma, sb / n_b AS mb,
             GREATEST((qa - sa * sa / n_a) / (n_a - 1), 0) AS va,
             GREATEST((qb - sb * sb / n_b) / (n_b - 1), 0) AS vb
      FROM g WHERE n_a > 1 AND n_b > 1
    ),
    t AS (
      SELECT event_type, n_a, n_b,
             mb - ma AS d,
             sqrt(va / n_a + vb / n_b) AS se,
             0.2 * sqrt(va) AS margin
      FROM m
    )
    SELECT event_type, n_a, n_b,
           {R("d", 6)} AS mean_diff,
           {R("se", 6)} AS se,
           {R("margin", 6)} AS margin,
           CASE WHEN se > 0.0 THEN {R("(d + margin) / se", 6)} END AS z_lower,
           CASE WHEN se > 0.0 THEN {R("(margin - d) / se", 6)} END AS z_upper,
           CAST(CASE WHEN se > 0.0
                      AND {R("(d + margin) / se", 6)} > 1.645
                      AND {R("(margin - d) / se", 6)} > 1.645
                THEN 1 ELSE 0 END AS INTEGER) AS equivalent
    FROM t
    """,
)
def _q_stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST EQUIVALENCE test per event type (two one-sided Welch z
    tests between the time halves, margin δ = 0.2·σ_first-half) — the
    test the drift family is MISSING a direction for: KS/MW/PSI can
    only REJECT sameness; failing to reject proves nothing. TOST
    inverts the burden — both one-sided tests clearing 1.645 AFFIRMS
    the halves are within δ (the "no regression" launch criterion,
    Schuirmann 1987). Moments accumulate as 6-dp decimal sums (value
    and value² both), variances/SE are closed-form IEEE on those
    exact sums, δ is data-derived from the FIRST half only (the
    invariant-13 degeneracy rule: a drifted second half cannot widen
    its own acceptance margin). One event_type exchange + the 1-row
    time-midpoint broadcast. |types|-row output."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    us = event_micros(ev)
    base = ev.select("event_type", us.alias("__us"), F.col("value").alias("__v"))
    rng = base.agg(F.min("__us").alias("__u0"), F.max("__us").alias("__u1"))
    flagged = base.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "__v",
        F.when(F.col("__us") <= F.expr("(__u0 + __u1) DIV 2"), 1)
        .otherwise(0)
        .alias("__isa"),
    )

    def _dside(cond, term):
        return (
            F.sum(
                F.when(cond, rd(term, 6).cast("decimal(38,6)")).otherwise(
                    F.lit(0).cast("decimal(38,6)")
                )
            ).cast("double")
        )

    isa = F.col("__isa") == 1
    g = flagged.groupBy("event_type").agg(
        F.sum("__isa").cast("long").alias("__na"),
        F.sum(F.lit(1) - F.col("__isa")).cast("long").alias("__nb"),
        _dside(isa, F.col("__v")).alias("__sa"),
        _dside(~isa, F.col("__v")).alias("__sb"),
        _dside(isa, F.col("__v") * F.col("__v")).alias("__qa"),
        _dside(~isa, F.col("__v") * F.col("__v")).alias("__qb"),
    ).filter((F.col("__na") > 1) & (F.col("__nb") > 1))
    na_d = F.col("__na").cast("double")
    nb_d = F.col("__nb").cast("double")
    ma = F.col("__sa") / na_d
    mb = F.col("__sb") / nb_d
    # Clamp at 0: the 6-dp-rounded v/v² sums can make a near-constant
    # slice's sample variance go slightly negative, which would NaN the
    # sqrt here and range-error DuckDB's sqrt on the oracle side.
    va = F.greatest(
        (F.col("__qa") - F.col("__sa") * F.col("__sa") / na_d) / (na_d - 1),
        F.lit(0.0),
    )
    vb = F.greatest(
        (F.col("__qb") - F.col("__sb") * F.col("__sb") / nb_d) / (nb_d - 1),
        F.lit(0.0),
    )
    t = g.select(
        "event_type",
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        (mb - ma).alias("__d"),
        F.sqrt(va / na_d + vb / nb_d).alias("__se"),
        (F.lit(0.2) * F.sqrt(va)).alias("__margin"),
    )
    zl = rd((F.col("__d") + F.col("__margin")) / F.col("__se"), 6)
    zu = rd((F.col("__margin") - F.col("__d")) / F.col("__se"), 6)
    se_pos = F.col("__se") > 0.0
    return t.select(
        "event_type",
        "n_a",
        "n_b",
        rd(F.col("__d"), 6).alias("mean_diff"),
        rd(F.col("__se"), 6).alias("se"),
        rd(F.col("__margin"), 6).alias("margin"),
        F.when(se_pos, zl).alias("z_lower"),
        F.when(se_pos, zu).alias("z_upper"),
        F.when(se_pos & (zl > 1.645) & (zu > 1.645), 1)
        .otherwise(0)
        .cast("int")
        .alias("equivalent"),
    )


@register(
    "eval_f1_threshold_sweep",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                               / 10000) AS INT), 99) AS bin,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    bins AS (
      SELECT bin, count(*) AS n, sum(pass) AS np FROM b GROUP BY bin
    ),
    tot AS (SELECT sum(np) AS p FROM bins),
    cum AS (
      SELECT bin,
             sum(np) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS tp,
             sum(n - np) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS fp
      FROM bins
    ),
    sc2 AS (
      SELECT bin, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(t.p - tp AS BIGINT) AS fn,
             CASE WHEN 2 * tp + fp + (t.p - tp) > 0 THEN
               {R("2.0 * tp / (2.0 * tp + fp + (t.p - tp))", 6)}
             ELSE 0.0 END AS f1
      FROM cum CROSS JOIN tot t
    ),
    mx AS (SELECT max(f1) AS mf FROM sc2),
    mb AS (SELECT min(bin) AS mbin FROM sc2 CROSS JOIN mx WHERE f1 = mf)
    SELECT CAST(s.bin AS INTEGER) AS bin,
           {R("s.bin / 100.0 - 0.5", 6)} AS threshold_logit,
           s.tp, s.fp, s.fn,
           CASE WHEN s.tp + s.fp > 0 THEN {R("CAST(s.tp AS DOUBLE) / (s.tp + s.fp)", 6)} END AS prec,
           CASE WHEN s.tp + s.fn > 0 THEN {R("CAST(s.tp AS DOUBLE) / (s.tp + s.fn)", 6)} END AS recall,
           s.f1,
           CAST(CASE WHEN s.f1 = mx.mf AND s.bin = mb.mbin THEN 1 ELSE 0 END AS INTEGER) AS is_best
    FROM sc2 s CROSS JOIN mx CROSS JOIN mb
    """,
)
def _q_eval_f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL THRESHOLD SWEEP for the cheap scorer: every occupied
    6-dp-grid score bin as a candidate cut (predict keep when
    bin ≥ t), with TP/FP/FN, precision, recall, F1, and the best-F1
    row flagged (ties → lowest threshold) — the OPERATING-POINT
    CHOOSER that closes the eval family's loop: calibration shows the
    shape, AUC/PR judge the ranking, lift/gains price retention,
    confusion audits ONE point, and THIS picks the point. Same
    factored scorer/label and the AUC query's 100 fixed bins;
    cumulative TP/FP are suffix sums over ≤100 collected rows (the
    BH/lift fold pattern — no keyless window); counts exact, ratios
    6-dp. ≤100-row output at any corpus size."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan.
    j = tx.hls_vs_c4_frame(docs)
    bin_col = F.least(
        F.floor(
            (F.round(F.col("logit") * 1000000, 0) + F.lit(500000)) / F.lit(10000)
        ).cast("int"),
        F.lit(99),
    )
    bins = (
        j.select(bin_col.alias("__bin"), F.coalesce(F.col("__pass"), F.lit(0)).alias("__p"))
        .groupBy("__bin")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__p").alias("__np"))
    )
    row = bins.agg(
        F.reverse(
            F.sort_array(F.collect_list(F.struct("__bin", "__n", "__np")))
        ).alias("__arr"),
        F.sum("__np").cast("long").alias("__p"),
    )
    arr = F.col("__arr")

    def _suffix(field):
        return F.transform(
            F.sequence(F.lit(1), F.size(arr)),
            lambda i: F.aggregate(
                F.slice(arr, F.lit(1), i),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x[field],
            ),
        )

    tp_arr = _suffix("__np")
    n_arr = _suffix("__n")
    z = row.select(
        "__p",
        F.explode(
            F.arrays_zip(arr, tp_arr.alias("__tp"), n_arr.alias("__cn"))
        ).alias("__z"),
    ).select(
        F.col("__z.__arr.__bin").alias("bin"),
        F.col("__z.__tp").alias("tp"),
        (F.col("__z.__cn") - F.col("__z.__tp")).alias("fp"),
        (F.col("__p") - F.col("__z.__tp")).alias("fn"),
    )
    f1 = F.when(
        F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        rd(
            F.lit(2.0) * F.col("tp")
            / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    sc2 = z.select(
        "bin",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        f1.alias("f1"),
    ).localCheckpoint(eager=False)
    # r13 (guide §2.4): sc2 (≤100 rows) feeds the best-F1 scalars (mx,
    # mb) AND the output rows — without materialization the scorer +
    # C4-gate corpus scan below it ran 3×.
    mx = sc2.agg(F.max("f1").alias("__mf"))
    mb = (
        sc2.crossJoin(F.broadcast(mx))
        .filter(F.col("f1") == F.col("__mf"))
        .agg(F.min("bin").alias("__mbin"))
    )
    return (
        sc2.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(mb))
        .select(
            F.col("bin").cast("int").alias("bin"),
            rd(F.col("bin") / F.lit(100.0) - F.lit(0.5), 6).alias("threshold_logit"),
            "tp",
            "fp",
            "fn",
            F.when(
                F.col("tp") + F.col("fp") > 0,
                rd(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6),
            ).alias("prec"),
            F.when(
                F.col("tp") + F.col("fn") > 0,
                rd(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6),
            ).alias("recall"),
            "f1",
            F.when(
                (F.col("f1") == F.col("__mf")) & (F.col("bin") == F.col("__mbin")), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("is_best"),
        )
    )


#: (rule_name, pattern) scanned over documents.text — the shape of a
#: PII / secret / policy scanner run before a corpus ships. Patterns
#: stay in the regex subset Java (Spark rlike/regexp_count) and RE2
#: (DuckDB regexp_matches) agree on: literals, classes, +, {n,}.
_REGEX_RULES = [
    ("id_like", "[0-9]{3,}"),
    ("email_like", "[a-z]+@[a-z]+[.][a-z]+"),
    ("kw_error", "error"),
    ("kw_join_chain", "join [a-z]+ join"),
]


@register(
    "dq_regex_rule_audit",
    f"""
    WITH rules(rule, pat) AS (
      VALUES {", ".join(f"('{n}', '{p}')" for n, p in _REGEX_RULES)}
    ),
    hits AS (
      SELECT r.rule, d.source,
             CASE WHEN regexp_matches(d.text, r.pat) THEN 1 ELSE 0 END
               AS flagged,
             len(regexp_extract_all(d.text, r.pat)) AS n_hits
      FROM documents d CROSS JOIN rules r
      WHERE d.text IS NOT NULL
    )
    SELECT rule, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(flagged) AS BIGINT) AS n_docs_flagged,
           {R("CAST(sum(flagged) AS DOUBLE) / count(*)", 6)} AS flag_share,
           CAST(sum(n_hits) AS BIGINT) AS n_hits
    FROM hits GROUP BY rule, source
    """,
)
def _q_dq_regex_rule_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGEX RULE-TABLE audit over the corpus — the release-gate scan
    every production pipeline runs (PII, secrets, policy keywords)
    expressed as data: a (rule, pattern) table fanned over documents
    with per-(rule, source) flagged-doc share and non-overlapping hit
    counts. Two of the four shipped rules are identifier-shaped and
    legitimately read ZERO on this corpus (the audit proving absence
    is the point of a PII gate); two fire on real tokens, so both the
    zero and nonzero paths are value-checked. Engine side is ONE scan
    with |rules| `rlike`/`regexp_count` codegen expressions stacked
    scan-side (the QI-sweep literal-fan pattern — no join against the
    rule table, it compiles into the projection); |rules|×|sources|
    output rows at any corpus size. Patterns are restricted to the
    Java-regex ∩ RE2 subset so Spark and DuckDB agree symbol-for-
    symbol (reference: corpus-gating extensions beyond the reference
    repo's surface; Dolma/RefinedWeb-style release gates)."""
    docs = _table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    per_rule = docs.select(
        "source",
        F.stack(
            F.lit(len(_REGEX_RULES)),
            *[
                x
                for name, pat in _REGEX_RULES
                for x in (
                    F.lit(name),
                    F.col("text").rlike(pat).cast("int"),
                    F.regexp_count(F.col("text"), F.lit(pat)),
                )
            ],
        ).alias("rule", "__flagged", "__n_hits"),
    )
    return per_rule.groupBy("rule", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__flagged").cast("long").alias("n_docs_flagged"),
        rd(
            F.sum("__flagged").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("flag_share"),
        F.sum("__n_hits").cast("long").alias("n_hits"),
    )


@register(
    "dq_schema_drift_report",
    f"""
    WITH e AS (
      SELECT *, epoch_us(ts) AS us FROM events
    ),
    rng AS (SELECT min(us) AS u0, max(us) AS u1 FROM e),
    f AS (
      SELECT e.*,
             CASE WHEN us <= (u0 + u1) // 2 THEN 1 ELSE 0 END AS isa
      FROM e CROSS JOIN rng
    ),
    g AS (
      SELECT isa,
             count(*) AS n,
             sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS null_type,
             count(DISTINCT event_type) AS nd_type,
             sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS null_value,
             count(DISTINCT value) AS nd_value,
             sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS null_props,
             count(DISTINCT props) AS nd_props,
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
             count(DISTINCT user_id) AS nd_user
      FROM f GROUP BY isa
    ),
    s AS (
      SELECT u.col,
             CASE u.col WHEN 'event_type' THEN null_type
                        WHEN 'value' THEN null_value
                        WHEN 'props' THEN null_props
                        ELSE null_user END AS nulls,
             CASE u.col WHEN 'event_type' THEN nd_type
                        WHEN 'value' THEN nd_value
                        WHEN 'props' THEN nd_props
                        ELSE nd_user END AS nd,
             n, isa
      FROM g CROSS JOIN (
        VALUES ('event_type'), ('value'), ('props'), ('user_id')
      ) u(col)
    ),
    p AS (
      SELECT a.col,
             a.n AS n_a, b.n AS n_b,
             {R("CAST(a.nulls AS DOUBLE) / a.n", 6)} AS null_rate_a,
             {R("CAST(b.nulls AS DOUBLE) / b.n", 6)} AS null_rate_b,
             CAST(a.nd AS BIGINT) AS n_distinct_a,
             CAST(b.nd AS BIGINT) AS n_distinct_b
      FROM (SELECT * FROM s WHERE isa = 1) a
      JOIN (SELECT * FROM s WHERE isa = 0) b USING (col)
    )
    SELECT col AS column_name,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           null_rate_a, null_rate_b,
           {R("abs(null_rate_b - null_rate_a)", 6)} AS null_rate_delta,
           n_distinct_a, n_distinct_b,
           {R("CAST(n_distinct_b AS DOUBLE) / n_distinct_a", 6)}
             AS distinct_ratio
    FROM p
    """,
)
def _q_dq_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-LEVEL drift report — the column-granularity companion of
    the value-level drift family (KS/PSI/W1 watch DISTRIBUTIONS; this
    watches the COLUMNS themselves): per events column, first-half vs
    second-half null rate and exact distinct count, with the delta and
    ratio an ingest owner pages on (a null-rate step = an upstream
    field dropped; a distinct-count collapse = an enum retired or an
    id column truncated). Exact distincts via one grouped
    count(DISTINCT) pass per half (type/value/props/user_id — each
    bounded by its own cardinality); the column stack is a literal
    4-way fan, |columns| output rows at any scale. One events scan +
    the 1-row midpoint broadcast."""
    ev = _table(spark, sf_dir, "events")
    us = event_micros(ev)
    rng = ev.select(us.alias("__us")).agg(
        F.min("__us").alias("__u0"), F.max("__us").alias("__u1")
    )
    f = ev.select(
        "event_type", "value", "props", "user_id", us.alias("__us")
    ).crossJoin(F.broadcast(rng)).withColumn(
        "__isa",
        F.when(
            F.col("__us") <= F.expr("(__u0 + __u1) DIV 2"), 1
        ).otherwise(0),
    )
    g = f.groupBy("__isa").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            x
            for c in ("event_type", "value", "props", "user_id")
            for x in (
                F.sum(F.col(c).isNull().cast("int")).alias(f"__null_{c}"),
                F.countDistinct(c).alias(f"__nd_{c}"),
            )
        ],
    )
    s = g.select(
        "__isa",
        "__n",
        F.stack(
            F.lit(4),
            *[
                x
                for c in ("event_type", "value", "props", "user_id")
                for x in (F.lit(c), F.col(f"__null_{c}"), F.col(f"__nd_{c}"))
            ],
        ).alias("column_name", "__nulls", "__nd"),
    )
    a = s.filter(F.col("__isa") == 1).select(
        "column_name",
        F.col("__n").alias("__na"),
        F.col("__nulls").alias("__nla"),
        F.col("__nd").alias("__nda"),
    )
    b = s.filter(F.col("__isa") == 0).select(
        "column_name",
        F.col("__n").alias("__nb"),
        F.col("__nulls").alias("__nlb"),
        F.col("__nd").alias("__ndb"),
    )
    j = a.join(F.broadcast(b), "column_name")
    nra = rd(F.col("__nla").cast("double") / F.col("__na"), 6)
    nrb = rd(F.col("__nlb").cast("double") / F.col("__nb"), 6)
    return j.select(
        "column_name",
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        nra.alias("null_rate_a"),
        nrb.alias("null_rate_b"),
        rd(F.abs(nrb - nra), 6).alias("null_rate_delta"),
        F.col("__nda").cast("long").alias("n_distinct_a"),
        F.col("__ndb").cast("long").alias("n_distinct_b"),
        rd(F.col("__ndb").cast("double") / F.col("__nda"), 6).alias(
            "distinct_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# r11 wave 2: chance-corrected rater agreement (label-QA family).
# ---------------------------------------------------------------------------


@register(
    "eval_cohens_kappa_langid",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in tx.LANG_MARKERS)}
      FROM documents
    ),
    p AS (SELECT lang, {_LANG_CASE} AS lang_pred FROM scored),
    ct AS (SELECT lang, lang_pred, count(*) AS c FROM p GROUP BY 1, 2),
    tot AS (SELECT sum(c) AS n,
                   sum(CASE WHEN lang = lang_pred THEN c ELSE 0 END) AS agree
            FROM ct),
    r AS (SELECT lang AS k, sum(c) AS rk FROM ct GROUP BY 1),
    cl AS (SELECT lang_pred AS k, sum(c) AS ck FROM ct GROUP BY 1),
    pe AS (
      SELECT sum(r.rk * cl.ck) AS pen
      FROM r JOIN cl ON cl.k = r.k
    )
    SELECT CAST(tot.n AS BIGINT) AS n_docs,
           CAST(tot.agree AS BIGINT) AS n_agree,
           {R("CAST(tot.agree AS DOUBLE) / tot.n", 6)} AS observed_agreement,
           {R("CAST(pe.pen AS DOUBLE) / (CAST(tot.n AS DOUBLE) * tot.n)", 6)}
             AS expected_agreement,
           {R("(CAST(tot.agree AS DOUBLE) / tot.n"
              " - CAST(pe.pen AS DOUBLE) / (CAST(tot.n AS DOUBLE) * tot.n))"
              " / (1.0 - CAST(pe.pen AS DOUBLE)"
              "          / (CAST(tot.n AS DOUBLE) * tot.n))", 6)} AS kappa
    FROM tot CROSS JOIN pe
    """,
)
def _q_eval_cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the n-gram language-ID heuristic and the
    gold `lang` label — chance-corrected agreement, the standard
    label-QA statistic the raw confusion matrix
    (`text_lang_confusion`) doesn't give: a heuristic can show 60%
    raw agreement on a 2-language corpus and still be barely above
    chance. κ = (p_o − p_e)/(1 − p_e) with p_e from the marginal
    row/column products (Cohen 1960). Every input to the two ratios
    is an exact integer (cell counts, marginal products summed as
    integers), each ratio is ONE IEEE division — bit-identical in
    both engines — and outputs round on the 6-dp grid. One groupBy
    over |langs|² cells; the scan is the cost, the test is free.
    Label-QA extension (the reference repo has no eval surface)."""
    docs = _table(spark, sf_dir, "documents")
    p = tx.language_id(docs).select("lang", "lang_pred")
    ct = p.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("c"))
    tot = ct.agg(
        F.sum("c").alias("__n"),
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("c")).otherwise(F.lit(0))).alias("__agree"),
    )
    r = ct.groupBy(F.col("lang").alias("k")).agg(F.sum("c").alias("rk"))
    cl = ct.groupBy(F.col("lang_pred").alias("k")).agg(F.sum("c").alias("ck"))
    pen = (
        r.join(cl.hint("shuffle_hash"), "k")
        .agg(F.sum(F.col("rk") * F.col("ck")).alias("__pen"))
    )
    j = tot.crossJoin(F.broadcast(pen))
    po = F.col("__agree").cast("double") / F.col("__n")
    pe = F.col("__pen").cast("double") / (
        F.col("__n").cast("double") * F.col("__n")
    )
    return j.select(
        F.col("__n").cast("long").alias("n_docs"),
        F.col("__agree").cast("long").alias("n_agree"),
        rd(po, 6).alias("observed_agreement"),
        rd(pe, 6).alias("expected_agreement"),
        rd((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# r11 wave 3: Brown-Forsythe robust variance homogeneity — the
# assumption check stats_anova_value_by_type silently relies on.
# ---------------------------------------------------------------------------


@register(
    "stats_brown_forsythe_by_type",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS sv
      FROM events WHERE value IS NOT NULL
    ),
    rk AS (
      SELECT event_type, sv,
             row_number() OVER (PARTITION BY event_type ORDER BY sv) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    md AS (
      SELECT event_type, sv AS med FROM rk
      WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    z AS (
      SELECT e.event_type, abs(e.sv - md.med) AS zv
      FROM e JOIN md ON md.event_type = e.event_type
    ),
    g AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(zv AS DECIMAL(38,0))) AS s1,
             sum(CAST(CAST(zv * zv AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS s2
      FROM z GROUP BY event_type
    ),
    t AS (
      SELECT event_type, n, s1, s2,
             CAST({R("CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n"
                     " / 100000000.0", 6)}
                  AS DECIMAL(38,6)) AS tg
      FROM g
    ),
    a AS (
      SELECT count(*) AS k, sum(n) AS nn,
             sum(s1) AS s1t, sum(s2) AS s2t, sum(tg) AS t1
      FROM t
    ),
    d AS (
      SELECT k, nn,
             {R("CAST(t1 AS DOUBLE) - " + R("CAST(s1t AS DOUBLE) * CAST(s1t AS DOUBLE) / nn / 100000000.0", 6), 6)} AS ssb,
             {R(R("CAST(s2t AS DOUBLE) / 100000000.0", 6) + " - CAST(t1 AS DOUBLE)", 6)} AS ssw
      FROM a
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n,
           ssb AS ss_between, ssw AS ss_within,
           {R("(ssb / (k - 1)) / (ssw / (nn - k))", 6)} AS f_stat
    FROM d
    """,
)
def _q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE variance-homogeneity test across event types —
    the robust Levene variant (deviations from the group MEDIAN, not
    mean): one-way ANOVA F on z_ij = |x_ij − med_j|. This is the
    assumption check `stats_anova_value_by_type` silently relies on
    (classical ANOVA assumes equal group variances; BF is the
    recommended gatekeeper, robust to heavy tails where Levene-mean
    and Bartlett break). Med_j is the LOWER median — the exact
    ceil(n/2)-th order statistic, an engine-identical VALUE even
    under duplicate ties (invariant 21: order statistics compare
    cross-engine, interpolated quantiles don't). Everything else is
    the ANOVA query's integer discipline verbatim: values on the 1e-4
    grid, z integer, sums as exact decimals, one final IEEE division
    per output on the 6-dp grid. Plan: one combinable value-histogram
    pass with a distinct-value cum window for the median probe, a
    broadcast-size median table joined back, one map-side-combined
    aggregate. Stats-family extension."""
    e = (
        _table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 10000.0 + 0.5)
            .cast("long")
            .alias("sv"),
        )
    )
    # r13 (guide §2.2): lower-median via cumulative-histogram bin
    # probe (rank ⌈n/2⌉ lives in the unique bin with cum−cnt < r ≤
    # cum) — no per-row rank window.
    ch = _sv_cum_hist(e, ["event_type"])
    rmed = F.ceil(F.col("n") / F.lit(2.0)).cast("long")
    md = ch.filter(
        (rmed > F.col("cum") - F.col("cnt")) & (rmed <= F.col("cum"))
    ).select("event_type", F.col("sv").alias("med"))
    z = e.join(F.broadcast(md), "event_type").select(
        "event_type", F.abs(F.col("sv") - F.col("med")).alias("zv")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("zv").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("zv") * F.col("zv")).cast("decimal(19,0)").cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    t = g.select(
        "event_type",
        "n",
        "s1",
        "s2",
        rd(
            F.col("s1").cast("double")
            * F.col("s1").cast("double")
            / F.col("n")
            / F.lit(100000000.0),
            6,
        )
        .cast("decimal(38,6)")
        .alias("tg"),
    )
    a = t.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s1").alias("s1t"),
        F.sum("s2").alias("s2t"),
        F.sum("tg").alias("t1"),
    )
    d = a.select(
        "k",
        "nn",
        rd(
            F.col("t1").cast("double")
            - rd(
                F.col("s1t").cast("double")
                * F.col("s1t").cast("double")
                / F.col("nn")
                / F.lit(100000000.0),
                6,
            ),
            6,
        ).alias("ssb"),
        rd(
            rd(F.col("s2t").cast("double") / F.lit(100000000.0), 6)
            - F.col("t1").cast("double"),
            6,
        ).alias("ssw"),
    )
    return d.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n"),
        F.col("ssb").alias("ss_between"),
        F.col("ssw").alias("ss_within"),
        rd(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# r11 wave 5: PII redaction as a REWRITE (the processing op behind the
# dq_regex_rule_audit gate — scrub, don't just count).
# ---------------------------------------------------------------------------

#: rule application order is part of the contract: rules rewrite the
#: CURRENT text state sequentially, and tags are uppercase/banned from
#: every pattern's alphabet so a replacement can never re-match.
_REDACT_RULES = [(n, p, f"<{n.upper()}>") for n, p in _REGEX_RULES]


@register(
    "privacy_pii_redact_rewrite",
    f"""
    WITH staged AS (
      SELECT doc_id, source,
             {" ".join(
               f"regexp_replace(t{i}, '{p}', '{tag}', 'g') AS t{i + 1},"
               f" len(regexp_extract_all(t{i}, '{p}')) AS c{i + 1},"
               for i, (n, p, tag) in enumerate(_REDACT_RULES))}
             1 AS __one
      FROM (SELECT doc_id, source, text AS t0 FROM documents
            WHERE text IS NOT NULL)
    )
    SELECT doc_id, source,
           CAST({" + ".join(f"c{i + 1}" for i in range(len(_REDACT_RULES)))}
                AS BIGINT) AS n_redactions,
           md5(t{len(_REDACT_RULES)}) AS redacted_digest
    FROM staged
    """,
)
def _q_privacy_pii_redact_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PII REDACTION as a corpus rewrite — the processing op behind
    `dq_regex_rule_audit`'s gate: apply the same (Java∩RE2-subset)
    rule table as sequential `regexp_replace` passes, each rule
    scrubbing the CURRENT text state into an uppercase tag that no
    rule's lowercase alphabet can re-match (so ordering is defined
    and cascades are impossible), and report per document the total
    non-overlapping redaction count plus the md5 digest of the final
    scrubbed text — the digest makes the oracle check the REWRITE
    byte-for-byte, not just the counts (the `text_bpe_encode_ranked`
    convention). Engine side is one scan with |rules| staged
    regexp_replace/regexp_count codegen expressions (Catalyst
    collapses the projection chain); no shuffle at all — at 100 TB
    this is a pure map over the corpus, exactly what a production
    Dolma/RefinedWeb-style scrub pass is."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    cur = docs.select("doc_id", "source", F.col("text").alias("t0"))
    counts = []
    for i, (_n, p, tag) in enumerate(_REDACT_RULES):
        cur = cur.withColumn(
            f"c{i + 1}", F.regexp_count(F.col(f"t{i}"), F.lit(p))
        ).withColumn(
            f"t{i + 1}",
            F.regexp_replace(F.col(f"t{i}"), p, tag),
        )
        counts.append(F.col(f"c{i + 1}"))
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return cur.select(
        "doc_id",
        "source",
        total.cast("long").alias("n_redactions"),
        F.md5(F.col(f"t{len(_REDACT_RULES)}")).alias("redacted_digest"),
    )
