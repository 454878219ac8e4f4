"""Layout-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "skew_salted_user_agg",
    f"""
    SELECT user_id, count(*) AS n_events,
           {_sql_dsum("value", 2)} AS sum_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def _q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation through the driver gate: the
    salted (key, salt) partial → key final plan must produce EXACTLY the
    plain GROUP BY answer. Sum terms are decimal (associative), so the
    salt-dependent combine order cannot perturb the result; the salt is
    a deterministic xxhash of event_id, never rand()."""
    from time_series_data_trimmer_spark.operators import skew

    ev = _events(spark, sf_dir).withColumn(
        "__v", rd(F.col("value"), 2).cast("decimal(38,6)")
    )
    out = skew.salted_agg(
        ev,
        ["user_id"],
        {
            "n_events": ("count", "*"),
            "sum_value": ("sum", "__v"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        salt_source="event_id",
    )
    return out.select(
        "user_id", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value", "max_value",
    )


@register(
    "melt_lineitem_measures",
    """
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           channel, value
    FROM (
      UNPIVOT (
        SELECT l_orderkey, l_linenumber,
               l_quantity, l_extendedprice, l_discount, l_tax
        FROM lineitem WHERE l_orderkey % 100 = 0
      ) ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME channel VALUE value
    )
    """,
)
def _q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (UNPIVOT/melt): the inverse of the pivot
    query, and the multi-channel overlay layout the reference's plot
    view builds per render (plot2d.py iterates channels into stacked
    series). Spark's native `unpivot` is a zero-shuffle Expand node —
    rows fan out scan-side, nothing is aggregated or joined, so the
    reshape survives any scale the scan itself survives. Measure
    columns must share a type (all double here); the filter keeps the
    oracle's row count honest without losing generality."""
    l = (
        _table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        )
    )
    out = l.unpivot(
        ["orderkey", "linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "channel",
        "value",
    )
    # Spark unpivot KEEPS null measures; DuckDB UNPIVOT drops them —
    # pin the shared (exclude-nulls) semantic explicitly
    return out.filter(F.col("value").isNotNull())


@register(
    "cube_revenue_by_flag_status",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
           {_sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def _q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with revenue + grouping id —
    completes the multi-level aggregation family (rollup, pivot, melt,
    grouping-set cube). Spark plans cube as ONE Expand + one
    aggregation (4 grouping sets, single scan, partial-agg friendly) —
    the same shape DuckDB executes, not N passes. `grouping_id()`
    disambiguates real NULL keys from subtotal rows; revenue is the
    order-independent decimal sum."""
    l = _table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            _dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            F.col("gid").cast("long").alias("gid"),
            "revenue",
            "n",
        )
    )


@register(
    "layout_zorder_keys",
    f"""
    WITH e AS (
      SELECT event_id, user_id,
             (user_id & 65535) AS ub,
             (CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) & 65535) AS tb
      FROM events
    )
    SELECT event_id, user_id, tb,
           {ly.sql_morton_z("ub", "tb", 16)} AS z
    FROM e
    """,
)
def _q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys for the events table
    (`ly.morton_z`): user and epoch-hour coordinates bit-interleaved
    into one Morton key — the sort key under which parquet row groups
    become axis-aligned (user, time) rectangles, so min/max pruning
    fires for predicates on EITHER dimension (today's time-ordered
    layout prunes only time). Pure bit arithmetic, scan-side codegen,
    byte-identical formula in the oracle. The write path
    (`ly.zorder_write`, repartitionByRange + sortWithinPartitions)
    and the measured row-group pruning win live in
    `scripts/zorder_prune.py` + SCALING.md §r7."""
    ev = _table(spark, sf_dir, "events")
    us = event_micros(ev)
    ub = F.col("user_id").bitwiseAND(F.lit(65535))
    tb = F.floor(us / F.lit(3_600_000_000.0)).cast("long").bitwiseAND(F.lit(65535))
    d = ev.select("event_id", "user_id", tb.alias("tb"), ub.alias("__ub"))
    return d.select(
        "event_id", "user_id", "tb",
        ly.morton_z(F.col("__ub"), F.col("tb"), 16).alias("z"),
    )


@register(
    "layout_encoding_advisor",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
      FROM events
    ),
    per AS (
      {" UNION ALL ".join(_enc_sql_one(c) for c in _ENC_COLS)}
    )
    SELECT "column", n, CAST(ndv AS BIGINT) AS ndv,
           CAST(n_runs AS BIGINT) AS n_runs,
           {R('CAST(n_runs AS DOUBLE) / n', 6)} AS rle_ratio,
           CAST(ceil(log2(CAST(ndv AS DOUBLE))) AS BIGINT) AS dict_bits
    FROM per
    """,
)
def _q_layout_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would re-clustering pay for itself? Exact RLE run counts and
    dictionary widths for the audited columns under the trial-
    clustered (user, time) sort (`layout.encoding_advisor`) — the
    byte-level complement of `scripts/zorder_prune.py`'s row-group
    study: user_id collapses to one run per trial, event_type to
    ~NDV-bounded runs, value stays incompressible; those three numbers
    ARE the re-layout cost/benefit at 100 TB. One window pass flags
    runs for all columns; output is len(columns) rows."""
    from time_series_data_trimmer_spark.operators import layout as ly

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return ly.encoding_advisor(
        ev, list(_ENC_COLS), key_col="user_id", order_cols=("us", "event_id")
    )


@register(
    "layout_compaction_plan",
    f"""
    WITH per AS (
      SELECT source AS part, count(*) AS n_rows,
             CAST(sum(strlen(coalesce(text, '')) + 64) AS BIGINT) AS est_bytes
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(est_bytes) AS total FROM per)
    SELECT part, CAST(n_rows AS BIGINT) AS n_rows, est_bytes,
           greatest(1, CAST(ceil(CAST(est_bytes AS DOUBLE) / 1048576.0) AS BIGINT))
             AS n_files,
           {R("CAST(est_bytes AS DOUBLE)"
              " / CAST(greatest(1, CAST(ceil(CAST(est_bytes AS DOUBLE) / 1048576.0)"
              " AS BIGINT)) AS DOUBLE) / 1048576.0", 6)} AS avg_file_mb,
           {R("CAST(est_bytes AS DOUBLE) / CAST(tot.total AS DOUBLE)", 6)}
             AS pct_of_total
    FROM per CROSS JOIN tot
    """,
)
def _q_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compaction/file-sizing plan (`layout.compaction_plan`,
    target 1 MiB at test scale standing in for the production 128 MiB):
    exact row counts, scan-side byte estimates
    (octet_length(text) + 64 B row overhead), the file count landing
    each partition at the target size, and each partition's share of
    corpus bytes (the skew signal — a 40% partition wants salting, not
    more files). ONE map-side-combined aggregation + a sanctioned
    1-row-total scalar broadcast; at 100 TB this IS the compaction
    job's planning step and it costs one scan of one column."""
    from time_series_data_trimmer_spark.operators import layout as ly

    docs = _table(spark, sf_dir, "documents")
    return ly.compaction_plan(
        docs,
        "source",
        (F.octet_length(F.coalesce(F.col("text"), F.lit(""))) + F.lit(64)).cast(
            "long"
        ),
        target_file_bytes=1024 * 1024,
    )


@register(
    "layout_partition_advisor",
    f"""
    WITH cand AS (
      SELECT 'event_type' AS part_col, event_type AS k FROM events
      UNION ALL
      SELECT 'user_id' AS part_col, CAST(user_id AS VARCHAR) AS k FROM events
      UNION ALL
      SELECT 'event_day' AS part_col,
             CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS k FROM events
    ),
    per_key AS (
      SELECT part_col, k, count(*) AS rows_in_part
      FROM cand GROUP BY part_col, k
    ),
    agg AS (
      SELECT part_col, count(*) AS n_partitions, sum(rows_in_part) AS total_rows,
             max(rows_in_part) AS max_part
      FROM per_key GROUP BY part_col
    )
    SELECT part_col,
           CAST(n_partitions AS BIGINT) AS n_partitions,
           CAST(total_rows AS BIGINT) AS total_rows,
           CAST(max_part AS BIGINT) AS max_part_rows,
           {R("CAST(max_part AS DOUBLE)"
              " / (CAST(total_rows AS DOUBLE) / n_partitions)", 6)} AS skew_ratio,
           CAST(CASE WHEN n_partitions BETWEEN 5 AND 100000
                      AND CAST(max_part AS DOUBLE)
                          / (CAST(total_rows AS DOUBLE) / n_partitions) < 10.0
                THEN 1 ELSE 0 END AS INTEGER) AS advisable
    FROM agg
    """,
)
def _q_layout_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-KEY advisor for the events table: for each candidate
    key (event_type, user_id, epoch-day) the partition count, largest
    partition, and skew ratio (max/mean) — the two failure modes of
    `partitionBy` at 100 TB are too FEW/too MANY partitions and one
    giant hot partition, and this row flags both (advisable = 5 ≤
    parts ≤ 1e5 AND skew < 10). Completes the layout family: encoding
    advisor (column codecs) → compaction plan (file sizing) → z-order
    (clustering) → THIS (directory partitioning). One scan exploded to
    three candidate keyings, two aggregations, |keys|-bounded rows."""
    ev = _events_us(spark, sf_dir)
    cand = (
        ev.select(
            F.lit("event_type").alias("part_col"),
            F.col("event_type").cast("string").alias("k"),
        )
        .unionAll(
            ev.select(
                F.lit("user_id").alias("part_col"),
                F.col("user_id").cast("string").alias("k"),
            )
        )
        .unionAll(
            ev.select(
                F.lit("event_day").alias("part_col"),
                F.expr("CAST(t_us DIV 86400000000 AS STRING)").alias("k"),
            )
        )
    )
    per_key = cand.groupBy("part_col", "k").agg(
        F.count(F.lit(1)).alias("rows_in_part")
    )
    agg = per_key.groupBy("part_col").agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("rows_in_part").alias("total_rows"),
        F.max("rows_in_part").alias("max_part"),
    )
    skew = F.col("max_part").cast("double") / (
        F.col("total_rows").cast("double") / F.col("n_partitions")
    )
    return agg.select(
        "part_col",
        F.col("n_partitions").cast("long").alias("n_partitions"),
        F.col("total_rows").cast("long").alias("total_rows"),
        F.col("max_part").cast("long").alias("max_part_rows"),
        rd(skew, 6).alias("skew_ratio"),
        F.when(
            (F.col("n_partitions").between(5, 100000)) & (skew < 10.0), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("advisable"),
    )


_ZM_GROUPS = 32
_ZM_DAY_US = 86_400_000_000


@register(
    "layout_zonemap_prune_stats",
    f"""
    WITH e AS (
      SELECT epoch_us(ts) AS us, user_id, value FROM events
    ),
    cand AS (
      SELECT 'ts' AS cand, CAST(us AS DOUBLE) AS k, us FROM e
       WHERE us IS NOT NULL
      UNION ALL
      SELECT 'user_id', CAST(user_id AS DOUBLE), us FROM e
       WHERE user_id IS NOT NULL
      UNION ALL
      SELECT 'value', value, us FROM e
       WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    rng AS (SELECT min(us) AS u0 FROM e),
    pr AS (
      SELECT (u0 // {_ZM_DAY_US}) * {_ZM_DAY_US} AS lo,
             (u0 // {_ZM_DAY_US}) * {_ZM_DAY_US} + {_ZM_DAY_US} AS hi
      FROM rng
    ),
    bnd AS (
      SELECT cand, min(k) AS kmin, max(k) AS kmax,
             (max(k) - min(k)) / {_ZM_GROUPS}.0 AS w
      FROM cand GROUP BY cand
    ),
    asg AS (
      SELECT c.cand,
             CASE WHEN b.w > 0 THEN
               least({_ZM_GROUPS - 1},
                     CAST(floor((c.k - b.kmin) / b.w) AS BIGINT))
             ELSE 0 END AS grp,
             c.us
      FROM cand c JOIN bnd b USING (cand)
    ),
    zones AS (
      SELECT cand, grp, count(*) AS n_rows,
             min(us) AS zmin, max(us) AS zmax
      FROM asg GROUP BY cand, grp
    ),
    per AS (
      SELECT z.cand,
             count(*) AS n_groups,
             CAST(sum(z.n_rows) AS BIGINT) AS n_rows,
             sum(CASE WHEN z.zmax < pr.lo OR z.zmin >= pr.hi
                 THEN 1 ELSE 0 END) AS n_pruned,
             CAST(sum(CASE WHEN z.zmax < pr.lo OR z.zmin >= pr.hi
                 THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_skipped
      FROM zones z CROSS JOIN pr GROUP BY z.cand
    ),
    sel AS (
      SELECT c.cand, CAST(count(*) AS BIGINT) AS n_selected
      FROM cand c CROSS JOIN pr
      WHERE c.us >= pr.lo AND c.us < pr.hi GROUP BY c.cand
    )
    SELECT p.cand AS candidate,
           CAST(p.n_groups AS BIGINT) AS n_groups,
           p.n_rows,
           CAST(p.n_pruned AS BIGINT) AS n_pruned_groups,
           {R("CAST(p.n_pruned AS DOUBLE) / p.n_groups", 6)} AS prune_frac,
           p.rows_skipped,
           s.n_selected,
           {R("CAST(s.n_selected AS DOUBLE) / p.n_rows", 6)} AS selectivity
    FROM per p JOIN sel s ON s.cand = p.cand
    """,
)
def _q_layout_zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP (min/max row-group statistics) pruning audit — the
    measurement that closes the layout family's loop: `layout_
    partition_advisor` picks partition keys, `layout_zorder_keys`
    derives clustering keys, and THIS query quantifies what a sort
    key actually buys a time-predicate scan. Rows are assigned to
    {_ZM_GROUPS} EQUAL-WIDTH key-range zones per candidate sort key
    (ts / user_id / value) — the scalable stand-in for "write files
    clustered by k" that needs NO global sort and NO window at all:
    zone = floor((k − kmin)/w) off one min/max aggregate, pure
    scan-side IEEE arithmetic that lands the same row in the same
    zone in both engines (interpolated-quantile boundaries were
    rejected: lerp formula order differs across engines in the last
    ulp, and Spark's long-valued floor clamps on microsecond-scale
    6-dp products) — then each zone's min/max ts
    plays the parquet footer, and a one-day predicate (the corpus's
    first day) reports pruned-group fraction, skipped rows, and true
    selectivity. Expected reading: sorting by ts prunes ~all
    non-matching groups; user_id/value sorting prunes ~none — the
    quantified case for time-clustering event data. |candidates|-row
    output; one events scan + one percentile agg + one zone agg."""
    ev = _table(spark, sf_dir, "events")
    us = event_micros(ev)
    base = ev.select(
        us.alias("__us"),
        F.col("user_id").cast("double").alias("__uid"),
        F.col("value").alias("__val"),
    )
    cand = base.select(
        "__us",
        F.stack(
            F.lit(3),
            F.lit("ts"), F.col("__us").cast("double"),
            F.lit("user_id"), F.col("__uid"),
            F.lit("value"), F.col("__val"),
        ).alias("candidate", "__k"),
    ).filter(F.col("__k").isNotNull() & ~F.isnan(F.col("__k")))
    bnd = cand.groupBy("candidate").agg(
        F.min("__k").alias("__kmin"),
        ((F.max("__k") - F.min("__k")) / F.lit(float(_ZM_GROUPS))).alias(
            "__w"
        ),
    )
    pr = base.agg(F.min("__us").alias("__u0")).select(
        (F.floor(F.col("__u0") / _ZM_DAY_US) * _ZM_DAY_US)
        .cast("long")
        .alias("__lo")
    ).select("__lo", (F.col("__lo") + _ZM_DAY_US).alias("__hi"))
    asg = cand.join(F.broadcast(bnd), "candidate").select(
        "candidate",
        "__us",
        F.when(
            F.col("__w") > 0,
            F.least(
                F.lit(_ZM_GROUPS - 1).cast("long"),
                F.floor(
                    (F.col("__k") - F.col("__kmin")) / F.col("__w")
                ).cast("long"),
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("__grp"),
    )
    zones = asg.groupBy("candidate", "__grp").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("__us").alias("__zmin"),
        F.max("__us").alias("__zmax"),
    )
    pruned = (
        F.col("__zmax") < F.col("__lo")
    ) | (F.col("__zmin") >= F.col("__hi"))
    per = zones.crossJoin(F.broadcast(pr)).groupBy("candidate").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("__n").cast("long").alias("n_rows"),
        F.sum(pruned.cast("int")).cast("long").alias("n_pruned_groups"),
        F.sum(F.when(pruned, F.col("__n")).otherwise(0))
        .cast("long")
        .alias("rows_skipped"),
    )
    sel = (
        cand.crossJoin(F.broadcast(pr))
        .filter((F.col("__us") >= F.col("__lo")) & (F.col("__us") < F.col("__hi")))
        .groupBy("candidate")
        .agg(F.count(F.lit(1)).cast("long").alias("n_selected"))
    )
    return per.join(F.broadcast(sel), "candidate").select(
        "candidate",
        "n_groups",
        "n_rows",
        "n_pruned_groups",
        rd(
            F.col("n_pruned_groups").cast("double") / F.col("n_groups"), 6
        ).alias("prune_frac"),
        "rows_skipped",
        "n_selected",
        rd(F.col("n_selected").cast("double") / F.col("n_rows"), 6).alias(
            "selectivity"
        ),
    )


# ---------------------------------------------------------------------------
# r11 wave 3: parquet bloom-filter sizing advisor.
# ---------------------------------------------------------------------------

#: target false-positive rate 1% -> bits/element = -ln(.01)/ln(2)^2 and
#: k = round(bits/n * ln 2), both CONSTANTS once p is fixed — embedding
#: them as literals keeps every engine's arithmetic identical (one
#: double multiply + ceil; no ln at query time).
_BLOOM_BITS_PER_ELEM = 9.585026430693062
_BLOOM_K = 7
_BLOOM_ROWS_PER_FILE = 1_000_000
_BLOOM_DICT_CUTOFF = 4096  # below this, parquet dictionary already serves point lookups

_BLOOM_COLS = ("user_id", "event_type", "event_id")


@register(
    "layout_bloom_advisor",
    f"""
    WITH d AS (
      SELECT count(*) AS n_rows,
             {", ".join(f"count(DISTINCT {c}) AS nd_{c}" for c in _BLOOM_COLS)}
      FROM events
    ),
    u AS (
      {" UNION ALL ".join(
          f"SELECT '{c}' AS column_name, n_rows, nd_{c} AS n_distinct FROM d"
          for c in _BLOOM_COLS)}
    ),
    s AS (
      SELECT column_name, n_rows, n_distinct,
             least(n_distinct, {_BLOOM_ROWS_PER_FILE}) AS est_distinct_per_file
      FROM u
    )
    SELECT column_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST({_BLOOM_ROWS_PER_FILE} AS BIGINT) AS rows_per_file,
           CAST(est_distinct_per_file AS BIGINT) AS est_distinct_per_file,
           CAST(ceil(est_distinct_per_file * {_BLOOM_BITS_PER_ELEM})
                AS BIGINT) AS bloom_bits_per_file,
           CAST(ceil(est_distinct_per_file * {_BLOOM_BITS_PER_ELEM} / 8.0)
                AS BIGINT) AS bloom_bytes_per_file,
           CAST({_BLOOM_K} AS INTEGER) AS k_hashes,
           CASE WHEN est_distinct_per_file <= {_BLOOM_DICT_CUTOFF}
                THEN 'dict' ELSE 'bloom' END AS recommend
    FROM s
    """,
)
def _q_layout_bloom_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET BLOOM-FILTER sizing advisor for equality-predicate
    columns: per candidate column, the exact global distinct count,
    the per-file distinct upper bound (min(distinct, rows/file) — the
    uniform worst case), and the standard Bloom sizing at 1% FPR —
    m = ceil(n·(−ln p)/ln²2) bits, k = round(m/n·ln 2) hashes. With p
    FIXED both factors are literals ({_BLOOM_BITS_PER_ELEM:.4f}
    bits/element, k={_BLOOM_K}), so the advisor is one multiply+ceil
    per column, engine-identical. The recommendation column encodes
    the real layout decision: a column whose per-file cardinality
    fits a dictionary page (≤{_BLOOM_DICT_CUTOFF}) gets point-lookup
    pruning for free from dict+stats — a Bloom filter only pays for
    itself on high-cardinality keys (the `user_id` class). Next to
    `layout_zonemap_prune_stats` (range predicates) and
    `layout_encoding_advisor` (storage), this completes the
    scan-pruning triad for point predicates. One Expand-based
    multi-distinct aggregate; |cols| output rows at any scale."""
    e = _table(spark, sf_dir, "events")
    d = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.countDistinct(F.col(c)).alias(f"nd_{c}")
            for c in _BLOOM_COLS
        ],
    )
    rows = None
    for c in _BLOOM_COLS:
        r = d.select(
            F.lit(c).alias("column_name"),
            F.col("n_rows"),
            F.col(f"nd_{c}").alias("n_distinct"),
        )
        rows = r if rows is None else rows.unionByName(r)
    s = rows.withColumn(
        "est_distinct_per_file",
        F.least(F.col("n_distinct"), F.lit(_BLOOM_ROWS_PER_FILE)),
    )
    bits = F.ceil(
        F.col("est_distinct_per_file") * F.lit(_BLOOM_BITS_PER_ELEM)
    )
    return s.select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.lit(_BLOOM_ROWS_PER_FILE).cast("long").alias("rows_per_file"),
        F.col("est_distinct_per_file")
        .cast("long")
        .alias("est_distinct_per_file"),
        bits.cast("long").alias("bloom_bits_per_file"),
        F.ceil(
            F.col("est_distinct_per_file")
            * F.lit(_BLOOM_BITS_PER_ELEM)
            / F.lit(8.0)
        )
        .cast("long")
        .alias("bloom_bytes_per_file"),
        F.lit(_BLOOM_K).cast("int").alias("k_hashes"),
        F.when(
            F.col("est_distinct_per_file") <= F.lit(_BLOOM_DICT_CUTOFF),
            F.lit("dict"),
        )
        .otherwise(F.lit("bloom"))
        .alias("recommend"),
    )
