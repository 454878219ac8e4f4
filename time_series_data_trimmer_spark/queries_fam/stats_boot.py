"""Stats-family tail, split off ``stats`` to keep modules under the
size ceiling: the Poisson-bootstrap AUC CI block."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# r11 wave 5: Poisson-bootstrap CI for the binned AUC — how sure is the
# one-number ranking eval.
# ---------------------------------------------------------------------------

_BAUC_SEED = "tsdt|boot|auc"
_BAUC_BIN_SQL = (
    "least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)"
    " / 10000) AS INT), 99)"
)


@register(
    "eval_bootstrap_auc_ci",
    f"""
    WITH {_HLS_VS_C4_SQL},
    db AS (
      SELECT sc.doc_id, {_BAUC_BIN_SQL} AS bin,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    ),
    r AS (
      SELECT db.bin, db.pass, b.b AS b,
             {_boot_w_sql(sp.sql_hash_u32(
                 "CAST(db.doc_id AS VARCHAR) || '#' || CAST(b.b AS VARCHAR)",
                 _BAUC_SEED,
             ))} AS w
      FROM db CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
    ),
    binsb AS (
      SELECT b, bin,
             CAST(sum(pass * w) AS HUGEINT) AS np,
             CAST(sum((1 - pass) * w) AS HUGEINT) AS nn
      FROM r GROUP BY b, bin
    ),
    cumb AS (
      SELECT b, bin, np, nn,
             COALESCE(sum(nn) OVER (PARTITION BY b ORDER BY bin ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cneg
      FROM binsb
    ),
    aucb AS (
      SELECT b, sum(np) AS p, sum(nn) AS nneg,
             sum(np * (2 * cneg + nn)) AS num
      FROM cumb GROUP BY b
    ),
    vals AS (
      SELECT b,
             {R("CAST(num AS DOUBLE)"
                " / (2.0 * CAST(p AS DOUBLE) * CAST(nneg AS DOUBLE))", 6)}
               AS auc_b,
             row_number() OVER (ORDER BY
               {R("CAST(num AS DOUBLE)"
                  " / (2.0 * CAST(p AS DOUBLE) * CAST(nneg AS DOUBLE))", 6)}
               ASC, b ASC) AS rn
      FROM aucb WHERE p > 0 AND nneg > 0
    ),
    pt AS (
      SELECT sum(CAST(pass AS HUGEINT)) AS p,
             sum(CAST(1 - pass AS HUGEINT)) AS nneg,
             count(*) AS n_docs
      FROM db
    ),
    ptnum AS (
      SELECT sum(np * (2 * cneg + nn)) AS num FROM (
        SELECT bin, np, nn,
               COALESCE(sum(nn) OVER (ORDER BY bin ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cneg
        FROM (SELECT bin, CAST(sum(pass) AS HUGEINT) AS np,
                     CAST(count(*) - sum(pass) AS HUGEINT) AS nn
              FROM db GROUP BY bin))
    )
    SELECT CAST(pt.n_docs AS BIGINT) AS n_docs,
           {R("CAST(ptnum.num AS DOUBLE)"
              " / (2.0 * CAST(pt.p AS DOUBLE) * CAST(pt.nneg AS DOUBLE))", 6)}
             AS auc,
           (SELECT min(auc_b) FROM vals WHERE rn = 2) AS auc_lo_p05,
           (SELECT min(auc_b) FROM vals WHERE rn = {_BOOT_B - 1})
             AS auc_hi_p95,
           CAST({_BOOT_B} AS INTEGER) AS n_resamples
    FROM pt CROSS JOIN ptnum
    """,
)
def _q_eval_bootstrap_auc_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP confidence interval for the binned ROC AUC —
    the uncertainty the one-number `eval_auc_binned` hides (an AUC of
    0.71 from 500 docs and from 5M docs are different facts). Same
    factored scorer/label/binning (`_HLS_VS_C4_SQL`, 100 6-dp-grid
    bins, exact Mann-Whitney integer pair count per replicate), with
    each document carrying a deterministic Poisson(1) weight per
    replicate (the `stats_bootstrap_mean_ci_by_type` md5-coin
    machinery, its own seed) — so the B={_BOOT_B} replicate AUCs are
    pure functions of the data, engine-identical, and the 5%/95%
    bounds are ORDER STATISTICS of the 32 values (rank 2 / rank
    {_BOOT_B - 1}, rn tie-broken on the replicate id). Plan shape: the
    expensive scorer scan runs ONCE into the (doc, bin, pass) table;
    only that 3-column table fans ×{_BOOT_B}; cumulative negatives run
    in a b-KEYED window (no keyless window); the final pick is a
    bounded sorted-array fold. Eval-family extension."""
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
    db = (
        j.select(
            "doc_id",
            bin_col.alias("bin"),
            F.coalesce(F.col("__pass"), F.lit(0)).alias("pass"),
        )
        .localCheckpoint(eager=False)
    )
    r = db.select(
        "bin",
        "pass",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "doc_id",
    ).select(
        "bin",
        "pass",
        "b",
        sp.hash_u32(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.col("b").cast("string"),
            ),
            _BAUC_SEED,
        ).alias("u"),
    )
    w = F.lit(len(_BOOT_T))
    for i in range(len(_BOOT_T) - 1, -1, -1):
        w = F.when(F.col("u") < _BOOT_T[i], i).otherwise(w)
    binsb = (
        r.select("b", "bin", "pass", w.alias("__w"))
        .groupBy("b", "bin")
        .agg(
            F.sum(F.col("pass") * F.col("__w"))
            .cast("decimal(38,0)")
            .alias("np"),
            F.sum((F.lit(1) - F.col("pass")) * F.col("__w"))
            .cast("decimal(38,0)")
            .alias("nn"),
        )
    )
    wb = Window.partitionBy("b").orderBy(F.col("bin").asc())
    cumb = binsb.select(
        "b",
        "np",
        "nn",
        F.coalesce(
            F.sum("nn").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("cneg"),
    )
    aucb = cumb.groupBy("b").agg(
        F.sum("np").alias("p"),
        F.sum("nn").alias("nneg"),
        F.sum(
            F.col("np") * (F.lit(2) * F.col("cneg") + F.col("nn"))
        ).alias("num"),
    )
    vals = aucb.filter((F.col("p") > 0) & (F.col("nneg") > 0)).select(
        "b",
        rd(
            F.col("num").cast("double")
            / (
                F.lit(2.0)
                * F.col("p").cast("double")
                * F.col("nneg").cast("double")
            ),
            6,
        ).alias("auc_b"),
    )
    picked = vals.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("auc_b"), F.col("b")))
        ).alias("a")
    ).select(
        # try_element_at, not element_at: a degenerate corpus can leave
        # <31 replicates with p>0 AND nneg>0, and Spark 4 ANSI mode
        # turns an out-of-range rank into INVALID_ARRAY_INDEX while the
        # DuckDB oracle's min-over-empty-set returns NULL (ADVICE r11
        # #2) — the try_ variant yields NULL and keeps both engines
        # aligned on edge data.
        F.try_element_at(F.col("a"), F.lit(2))
        .getField("auc_b")
        .alias("auc_lo_p05"),
        F.try_element_at(F.col("a"), F.lit(_BOOT_B - 1))
        .getField("auc_b")
        .alias("auc_hi_p95"),
    )
    # point AUC over the unweighted table, same integer formula
    bins = db.groupBy("bin").agg(
        F.sum("pass").cast("decimal(38,0)").alias("np"),
        (F.count(F.lit(1)) - F.sum("pass"))
        .cast("decimal(38,0)")
        .alias("nn"),
    )
    # 100 bounded rows: fold instead of a keyless window
    ptrow = bins.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bin"), F.col("np"), F.col("nn")))
        ).alias("bs"),
        F.sum("np").alias("p"),
        F.sum("nn").alias("nneg"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    num = F.aggregate(
        F.col("bs"),
        F.struct(zero.alias("cneg"), zero.alias("num")),
        lambda acc, x: F.struct(
            (acc.getField("cneg") + x.getField("nn")).alias("cneg"),
            (
                acc.getField("num")
                + x.getField("np")
                * (F.lit(2) * acc.getField("cneg") + x.getField("nn"))
            ).alias("num"),
        ),
    ).getField("num")
    nd = db.agg(F.count(F.lit(1)).alias("n_docs"))
    pt = ptrow.select(
        rd(
            num.cast("double")
            / (
                F.lit(2.0)
                * F.col("p").cast("double")
                * F.col("nneg").cast("double")
            ),
            6,
        ).alias("auc")
    )
    return (
        nd.crossJoin(F.broadcast(pt))
        .crossJoin(F.broadcast(picked))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            "auc",
            "auc_lo_p05",
            "auc_hi_p95",
            F.lit(_BOOT_B).cast("int").alias("n_resamples"),
        )
    )
