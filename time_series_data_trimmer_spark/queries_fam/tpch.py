"""Tpch-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# TPC-H-style relational extension (SURVEY §7.3-M6)
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum("l_quantity")} AS sum_qty,
           {_sql_dsum("l_extendedprice")} AS sum_base_price,
           {_sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
           {_sql_dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l.l_orderkey AS order_key,
           {_sql_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
           o.o_orderdate AS order_date
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, order_key ASC
    LIMIT 10
    """,
)
def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = _table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    # orders and customer both scale with SF, so neither may be
    # force-broadcast (an unconditional hint overrides the size
    # threshold and OOMs at 100×). shuffle_hash keeps the join
    # sort-free; AQE upgrades it to broadcast at runtime whenever the
    # filtered side actually fits.
    joined = l.join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"]).join(
        c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"]
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        joined.groupBy(F.col("l_orderkey").alias("order_key"), F.col("o_orderdate").alias("order_date"))
        .agg(_dsum(rev).alias("revenue"))
        .select("order_key", "revenue", "order_date")
        .orderBy(F.col("revenue").desc(), F.col("order_key").asc())
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    f"""
    SELECT n.n_name AS nation,
           {_sql_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _table(spark, sf_dir, "lineitem")
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "n_name")
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # nation/region are constant-size → broadcast; supplier scales with
    # SF → shuffle_hash (AQE broadcasts it at runtime while it fits)
    return (
        l.join(dim.hint("shuffle_hash"), l["l_suppkey"] == dim["s_suppkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_dsum(rev).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Additional TPC-H-style coverage + end-to-end corpus pipeline
# ---------------------------------------------------------------------------


@register(
    "tpch_q6_forecast_revenue",
    f"""
    SELECT {_sql_dsum("l_extendedprice * l_discount")} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pure scan-side query: every predicate reaches the parquet reader;
    # the agg is a single map-side-combined global reduce
    l = _table(spark, sf_dir, "lineitem")
    out = l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return out.agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "tpch_q10_returned_items",
    f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           {_sql_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, custkey ASC
    LIMIT 20
    """,
)
def _q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _table(spark, sf_dir, "customer")
    n = _table(spark, sf_dir, "nation")
    o = _table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = _table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    dim = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        "c_custkey", "c_name", "n_name"
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # date-filtered orders and customer⋈nation both scale with SF —
    # shuffle_hash, never an unconditional broadcast (AQE still picks
    # BHJ at runtime when a side fits)
    return (
        l.join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"])
        .join(dim.hint("shuffle_hash"), o["o_custkey"] == dim["c_custkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(_dsum(rev).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("custkey").asc())
        .limit(20)
    )


@register(
    "tpch_q18_large_volume_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING {_sql_dsum("l_quantity", 2)} > 180.0
    )
    SELECT o.o_orderkey AS orderkey, o.o_totalprice AS totalprice,
           {_sql_dsum("l.l_quantity", 2)} AS total_qty
    FROM orders o
    JOIN big b ON o.o_orderkey = b.l_orderkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    ORDER BY totalprice DESC, orderkey ASC
    LIMIT 15
    """,
)
def _q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # agg → semi-join shape: the HAVING aggregate builds a key set whose
    # size is data-dependent (could be O(orders) under a loose
    # threshold) — join it back with shuffle_hash, never a forced
    # broadcast; AQE converts to BHJ at runtime when the set is small
    l = _table(spark, sf_dir, "lineitem")
    o = _table(spark, sf_dir, "orders")
    big = (
        l.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity"), 2).alias("q"))
        .filter(F.col("q") > 180.0)
        .select(F.col("l_orderkey").alias("big_orderkey"))  # disambiguate the self-join
    )
    return (
        o.join(big.hint("shuffle_hash"), o["o_orderkey"] == big["big_orderkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("o_orderkey").alias("orderkey"), F.col("o_totalprice").alias("totalprice"))
        .agg(_dsum(F.col("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("totalprice").desc(), F.col("orderkey").asc())
        .limit(15)
    )


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def _q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fact-fact LEFT SEMI with a mixed equi + non-equi condition
    # (adapted q4: the synthetic schema has no commit/receipt dates, so
    # "late line exists" = shipped after the order date). Both sides
    # scale with SF → shuffle-hash; the equi key carries the join, the
    # date predicate filters inside it.
    o = _table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = _table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        l.hint("shuffle_hash"),
        (o["o_orderkey"] == l["l_orderkey"]) & (l["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q7_volume_shipping",
    f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {_sql_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN nation ns   ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc   ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND nc.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND ns.n_name <> nc.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
    """,
)
def _q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the widest join tree in the registry (6 relations): nation twice
    # (constant → broadcast); supplier, customer, orders all scale with
    # SF → shuffle_hash builds, lineitem streams. Nation-pair filters
    # push into the supplier/customer scans through the broadcast joins.
    l = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = _table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    )
    s = (
        _table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        l.join(s.hint("shuffle_hash"), l["l_suppkey"] == s["s_suppkey"])
        .join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"])
        .join(c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_dsum(rev).alias("revenue"))
    )


@register(
    "tpch_q14_promo_revenue",
    f"""
    SELECT {R(
        "100.0 * CAST("
        + _sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END")
        + " AS DOUBLE) / CAST("
        + _sql_dsum("l.l_extendedprice * (1.0 - l.l_discount)")
        + " AS DOUBLE)", 6)} AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def _q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    # part scales with SF (it is NOT a broadcast-safe dimension at the
    # 100 TB target) → shuffle_hash build side; the date filter reaches
    # the lineitem scan so only one month of the fact table shuffles
    l = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = _table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    joined = l.join(p.hint("shuffle_hash"), l["l_partkey"] == p["p_partkey"])
    return joined.agg(
        rd(
            F.lit(100.0) * _dsum(promo) / _dsum(rev), 6
        ).alias("promo_revenue_pct")
    )


@register(
    "tpch_q8_market_share",
    f"""
    WITH volumes AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {sql_rd("l.l_extendedprice * (1.0 - l.l_discount)", 4)} AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'EUROPE'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           {R("CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)"
              " / CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE)", 6)} AS mkt_share
    FROM volumes GROUP BY o_year
    """,
)
def _q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # market-share ratio: conditional decimal sum over total decimal sum
    # within the customer region, per order year. nation/region constant
    # → broadcast; supplier/customer/orders scale → shuffle_hash.
    l = _table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cdim = (
        _table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey")
    )
    sdim = (
        _table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    vol = rd(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4)
    j = (
        l.join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"])
        .join(cdim.hint("shuffle_hash"), o["o_custkey"] == cdim["c_custkey"])
        .join(sdim.hint("shuffle_hash"), l["l_suppkey"] == sdim["s_suppkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
        .otherwise(F.lit(0.0))
        .cast("decimal(38,6)")
    ).cast("double")
    den = F.sum(F.col("volume").cast("decimal(38,6)")).cast("double")
    return j.groupBy("o_year").agg(rd(num / den, 6).alias("mkt_share"))


@register(
    "tpch_q13_customer_order_distribution",
    """
    WITH counts AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM counts GROUP BY c_count
    """,
)
def _q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LEFT OUTER fact join (customers with zero orders must appear with
    # c_count = 0) → distribution of distributions. Both sides scale
    # with SF → shuffle_hash; count(o_orderkey) ignores the null-padded
    # rows exactly like the SQL count of a nullable column.
    c = _table(spark, sf_dir, "customer").select("c_custkey")
    o = _table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    counts = (
        c.join(o.hint("shuffle_hash"), c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def _q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # argmax over an aggregate, scalar-subquery style (the q22 pattern,
    # PLANS.md invariant 7): reduce the per-supplier revenues to a
    # 1-ROW max aggregate and broadcast-cross-join it back, then filter
    # equality. The r3 form used max().over(Window.partitionBy()) — an
    # EMPTY-PARTITION window that funnels every supplier's aggregate
    # through one task (WindowExec "No Partition Defined"); at 100×
    # TPC-H that single task sorts millions of rows. Here the max is a
    # partial-aggregated 1-row exchange and the revenue rows stream.
    l = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("__mx")
    )
    s = _table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(top.hint("shuffle_hash"), s["s_suppkey"] == top["supplier_no"])
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue",
        )
    )


@register(
    "tpch_q17_small_quantity_revenue",
    f"""
    WITH joined AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice,
             avg(l.l_quantity) OVER (PARTITION BY l.l_partkey) AS avg_qty,
             count(*) OVER (PARTITION BY l.l_partkey) AS n_lines
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#1'
    )
    SELECT {R("CAST(" + _sql_dsum("CASE WHEN l_quantity < 0.5 * avg_qty THEN l_extendedprice ELSE NULL END")
             + " AS DOUBLE) / 7.0", 6)} AS avg_yearly
    FROM joined
    """,
)
def _q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    # correlated per-part average (the classic q17 scalar subquery) as a
    # window over the join — ONE pass over the brand's lineitems instead
    # of a re-aggregating subquery join. avg over integers is exact
    # (count * 0.5 thresholds), so no decimal machinery needed there.
    l = _table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = _table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    j = l.join(p.hint("shuffle_hash"), l["l_partkey"] == p["p_partkey"])
    w = Window.partitionBy("l_partkey")
    j = j.withColumn("avg_qty", F.avg("l_quantity").over(w))
    small = F.when(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"), F.col("l_extendedprice"))
    return j.agg(rd(_dsum(small) / F.lit(7.0), 6).alias("avg_yearly"))


@register(
    "tpch_q19_disjunctive_revenue",
    f"""
    SELECT {_sql_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def _q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q19 (adapted to the synthetic part schema: brand/size/quantity
    # branches instead of brand/container/shipmode): the point is the
    # DISJUNCTIVE mixed-side predicate. Expressed as a plain WHERE over
    # the equi-join, Catalyst's CNF conversion pushes the part-only
    # disjunction to the part scan and the quantity disjunction to the
    # lineitem scan (PushedFilters: Or(...) on both) — at 100 TB the
    # scan prunes before the join instead of filtering after it. Both
    # sides scale with SF → shuffle-hash, AQE upgrades when one fits.
    l = _table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = l.join(p.hint("shuffle_hash"), l["l_partkey"] == p["p_partkey"])

    def branch(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    j = j.filter(
        branch("Brand#1", 15, 1, 11) | branch("Brand#2", 25, 10, 20) | branch("Brand#3", 35, 20, 30)
    )
    return j.agg(
        _dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue")
    )


@register(
    "tpch_q21_waiting_supplier",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM late b
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = b.l_orderkey AND l2.l_suppkey <> b.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = b.l_orderkey AND l3.l_suppkey <> b.l_suppkey
      )
    GROUP BY s.s_name
    """,
)
def _q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q21 (adapted: lateness = shipped > 60 days after the order date —
    # the synthetic schema has no commit/receipt dates): suppliers who
    # were the ONLY late supplier of a multi-supplier finished order.
    # The two correlated subqueries become the two equi-key plan shapes
    # this registry was missing: EXISTS → LEFT SEMI shuffle-hash join,
    # NOT EXISTS → LEFT ANTI shuffle-hash join, both keyed on
    # l_orderkey with the supplier inequality as a residual condition.
    # Aggregation runs on the key (suppkey) BEFORE the supplier/nation
    # dimension joins (nation broadcasts; supplier is aggregated rows).
    o = _table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = _table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        l.join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = _table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    semi = late.join(
        others.hint("shuffle_hash"),
        (late["l_orderkey"] == others["o2_orderkey"])
        & (late["l_suppkey"] != others["o2_suppkey"]),
        "left_semi",
    )
    other_late = late.select(
        F.col("l_orderkey").alias("a_orderkey"), F.col("l_suppkey").alias("a_suppkey")
    )
    only_late = semi.join(
        other_late.hint("shuffle_hash"),
        (semi["l_orderkey"] == other_late["a_orderkey"])
        & (semi["l_suppkey"] != other_late["a_suppkey"]),
        "left_anti",
    )
    per_supp = only_late.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))
    s = _table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1").select(
        "n_nationkey"
    )
    dim = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "s_name"
    )
    return (
        per_supp.join(F.broadcast(dim), per_supp["l_suppkey"] == dim["s_suppkey"])
        .select("s_name", "numwait")
    )


@register(
    "tpch_q22_global_sales_opportunity",
    f"""
    WITH eligible AS (
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ),
    thresh AS (
      SELECT sum(CAST({sql_rd("c_acctbal", 2)} AS DECIMAL(38,6))) AS total,
             count(*) AS n
      FROM eligible WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           {_sql_dsum("c_acctbal", 2)} AS totacctbal
    FROM eligible c, thresh t
    WHERE CAST({sql_rd("c_acctbal", 2)} AS DECIMAL(38,6)) * t.n > t.total
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c_nationkey
    """,
)
def _q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q22 (adapted: country code = c_nationkey — the synthetic schema
    # has no phone column; "never placed an urgent order" replaces "no
    # orders at all", which the generator never produces): above-average
    # balance customers in chosen countries with no urgent order.
    # Plan shapes: a 1-row broadcast cross join for the scalar-subquery
    # threshold, and NOT EXISTS → LEFT ANTI shuffle-hash equi-join on
    # custkey against the filtered orders side. The avg comparison is
    # decimal-exact (bal·n > Σbal) so neither engine's float summation
    # order can flip a boundary customer.
    c = _table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    bal_dec = rd(F.col("c_acctbal"), 2).cast("decimal(38,6)")
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_dec).alias("total"), F.count(F.lit(1)).alias("n")
    )
    urgent = _table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    kept = (
        c.crossJoin(F.broadcast(thresh))
        .filter(bal_dec * F.col("n") > F.col("total"))
        .join(urgent.hint("shuffle_hash"), c["c_custkey"] == urgent["o_custkey"], "left_anti")
    )
    return kept.groupBy(F.col("c_nationkey").alias("cntrycode")).agg(
        F.count(F.lit(1)).alias("numcust"), _dsum(F.col("c_acctbal"), 2).alias("totacctbal")
    )


@register(
    "tpch_q2_min_cost_supplier",
    f"""
    WITH eu_supp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    costs AS (
      SELECT l_partkey, l_suppkey, min({sql_rd("l_extendedprice", 2)}) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ec AS (
      SELECT c.l_partkey, c.l_suppkey, c.cost, e.s_name, e.s_acctbal, e.n_name
      FROM costs c JOIN eu_supp e ON c.l_suppkey = e.s_suppkey
    ),
    mc AS (SELECT l_partkey, min(cost) AS mincost FROM ec GROUP BY l_partkey)
    SELECT p.p_partkey AS partkey, ec.s_name AS name, ec.n_name AS nation,
           {sql_rd("ec.s_acctbal", 2)} AS acctbal, ec.cost AS supply_cost
    FROM part p
    JOIN ec ON ec.l_partkey = p.p_partkey
    JOIN mc ON mc.l_partkey = ec.l_partkey AND ec.cost = mc.mincost
    WHERE p.p_size <= 10
    """,
)
def _q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q2 (adapted: the synthetic schema has no partsupp, so "supply
    # cost" = min rounded extendedprice per (part, supplier) from
    # lineitem; region filter on the SUPPLIER side as in the original).
    # The defining shape survives: a CORRELATED GROUPWISE MIN — min
    # cost per part across qualifying suppliers — expressed as a
    # per-part min aggregate equality-joined back (never a window over
    # an unkeyed frame, never a per-row subquery). nation/region
    # broadcast; every SF-scaling side joins shuffle-hash.
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        _table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = (
        _table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(rd(F.col("l_extendedprice"), 2)).alias("cost"))
    )
    ec = costs.join(eu.hint("shuffle_hash"), costs["l_suppkey"] == eu["s_suppkey"])
    mc = ec.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.min("cost").alias("mincost")
    )
    p = _table(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select("p_partkey")
    out = (
        ec.join(
            mc.hint("shuffle_hash"),
            (ec["l_partkey"] == mc["__pk"]) & (ec["cost"] == mc["mincost"]),
        )
        .join(p.hint("shuffle_hash"), ec["l_partkey"] == p["p_partkey"])
    )
    return out.select(
        F.col("p_partkey").alias("partkey"),
        F.col("s_name").alias("name"),
        F.col("n_name").alias("nation"),
        rd(F.col("s_acctbal"), 2).alias("acctbal"),
        F.col("cost").alias("supply_cost"),
    )


@register(
    "tpch_q9_product_type_profit",
    f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {_sql_dsum("l.l_extendedprice * (1.0 - l.l_discount) - 0.5 * l.l_quantity")} AS sum_profit
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)
    """,
)
def _q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q9 (adapted: profit uses a constant unit cost 0.5·quantity in
    # place of the absent ps_supplycost). The shape is the widest
    # PROFIT join tree: fact ⋈ orders ⋈ part(name LIKE) ⋈ supplier ⋈
    # nation, decimal-summed by (nation, year). The LIKE filter prunes
    # part BEFORE the join (predicate at the scan), so the fact side
    # shrinks at the first shuffle-hash join.
    l = _table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    o = _table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = _table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey")
    s = _table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.5) * F.col("l_quantity")
    )
    j = (
        l.join(p.hint("shuffle_hash"), l["l_partkey"] == p["p_partkey"])
        .join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"])
        .join(s.hint("shuffle_hash"), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    )
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(_dsum(profit).alias("sum_profit"))


@register(
    "tpch_q11_important_parts",
    f"""
    WITH rich AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 2000.0),
    vals AS (
      SELECT l.l_partkey, {_sql_dsum("l.l_extendedprice", 2)} AS value
      FROM lineitem l JOIN rich ON l.l_suppkey = rich.s_suppkey
      GROUP BY l.l_partkey
    ),
    total AS (
      SELECT sum(CAST(value AS DECIMAL(38,6))) AS tot, count(*) AS n FROM vals
    )
    SELECT v.l_partkey AS partkey, v.value
    FROM vals v, total t
    WHERE CAST(v.value AS DECIMAL(38,6)) * t.n * 10 > 12 * t.tot
    """,
)
def _q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q11 (adapted: "important stock" = per-part lineitem value from
    # high-balance suppliers exceeding 1.2x the MEAN part value; the
    # synthetic schema has no partsupp, and a mean-relative threshold —
    # value·n·10 > 12·total, integer-decimal exact — stays meaningful at every SF where TPC-H's
    # fixed global fraction empties as the corpus grows). Shape
    # preserved: GROUP SUMS COMPARED AGAINST A GLOBAL SCALAR — the
    # per-part aggregate joins a 1-ROW total via broadcast cross join
    # (the q22 scalar pattern), decimal-exact on both engines.
    rich = _table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") >= 2000.0
    ).select("s_suppkey")
    l = _table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    vals = (
        l.join(rich.hint("shuffle_hash"), l["l_suppkey"] == rich["s_suppkey"])
        .groupBy("l_partkey")
        .agg(_dsum(F.col("l_extendedprice"), 2).alias("value"))
    )
    total = vals.agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(
            F.col("value").cast("decimal(38,6)") * F.col("n") * F.lit(10)
            > F.lit(12) * F.col("tot")
        )
        .select(F.col("l_partkey").alias("partkey"), "value")
    )


@register(
    "tpch_q12_priority_by_returnflag",
    """
    SELECT l.l_returnflag AS returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def _q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q12 (adapted: l_returnflag stands in for the absent l_shipmode).
    # The shape: fact-fact equi-join with CONDITIONAL INTEGER
    # AGGREGATION (CASE inside sum) — pure codegen, no decimal needed
    # since the counts are exact integers; the year filter reaches the
    # lineitem scan.
    l = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    o = _table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    j = l.join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"])
    return j.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.sum(high).alias("high_line_count"),
        F.sum(F.lit(1) - high).alias("low_line_count"),
    )


@register(
    "tpch_q16_supplier_variety",
    """
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13' AND p.p_size IN (1, 2, 3, 4, 5)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def _q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q16 (adapted: "customer complaints" exclusion becomes low-balance
    # suppliers — no comment column). Shape preserved: DISTINCT-COUNT
    # aggregation over an ANTI-JOINED fact — NOT IN → LeftAnti
    # shuffle-hash (supplier scales with SF; never broadcast by hint),
    # then countDistinct per part attribute triple (Spark plans the
    # distinct as a two-phase expand + agg, map-side combined).
    bad = _table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000.0
    ).select("s_suppkey")
    p = _table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & F.col("p_size").isin(1, 2, 3, 4, 5)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    l = _table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    kept = l.join(
        bad.hint("shuffle_hash"), l["l_suppkey"] == bad["s_suppkey"], "left_anti"
    )
    j = kept.join(p.hint("shuffle_hash"), kept["l_partkey"] == p["p_partkey"])
    return j.groupBy(
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_size").alias("size"),
    ).agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))


@register(
    "tpch_q20_heavy_shippers",
    """
    WITH small_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ),
    shipped AS (
      SELECT l.l_suppkey, sum(CAST(l.l_quantity AS BIGINT)) AS qty
      FROM lineitem l JOIN small_parts sp ON l.l_partkey = sp.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_suppkey
      HAVING sum(CAST(l.l_quantity AS BIGINT)) > 100
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped)
    """,
)
def _q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q20 (adapted: availqty > half-of-shipped becomes a HAVING
    # threshold on shipped quantity — no partsupp). Shape preserved:
    # NESTED IN-SUBQUERIES → a semi-join CHAIN: parts filtered by name
    # prefix (scan predicate) semi-restrict lineitem, the per-supplier
    # aggregate filters by HAVING, and the result semi-joins supplier
    # (LeftSemi shuffle-hash — the key set scales with SF).
    sp_keys = _table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    l = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    shipped = (
        l.join(sp_keys.hint("shuffle_hash"), l["l_partkey"] == sp_keys["p_partkey"], "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    s = _table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(shipped.hint("shuffle_hash"), s["s_suppkey"] == shipped["l_suppkey"], "left_semi")
        .select(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("name"))
    )
