"""Similarity-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "sim_cosine_scores",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dots AS ({_DOT_TERMS})
    SELECT vec_id,
           {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
    FROM dots
    """,
)
def _q_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    scored = sim.decimal_cosine_vs_query(emb, qvec)
    return scored.select("vec_id", rd(F.col("cosine"), 6).alias("cosine"))


@register(
    "sim_ann_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dots AS ({_DOT_TERMS})
    SELECT vec_id,
           {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
    FROM dots
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    scored = sim.decimal_cosine_vs_query(emb, qvec).select(
        "vec_id", rd(F.col("cosine"), 6).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(10)


@register(
    "sim_lsh_topk",
    f"""
    WITH ex AS ({_EX_SQL}),
    planes AS (
      SELECT b.b, i.i,
             ('0x' || substr(md5('tsdt|t0|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {_LSH_Q_BITS - 1}) b(b),
           generate_series(0, 63) i(i)
    ),
    pdots AS (
      SELECT e.vec_id, p.b,
             CAST(sum(CAST({sql_rd("e.x * p.w", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS d
      FROM ex e JOIN planes p ON p.i = e.i - 1
      GROUP BY e.vec_id, p.b
    ),
    sigs AS (
      SELECT vec_id,
             sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
      FROM pdots GROUP BY vec_id
    ),
    qsig AS (SELECT sig FROM sigs WHERE vec_id = 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dots AS ({_DOT_TERMS})
    SELECT d.vec_id,
           {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
    FROM dots d JOIN sigs s ON s.vec_id = d.vec_id, qsig
    WHERE s.sig = qsig.sig
    ORDER BY cosine DESC, d.vec_id ASC
    LIMIT 10
    """,
)
def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH probe top-k: score only the query's hyperplane bucket.
    Bucket assignment uses decimal-exact dot signs (lsh_signatures), so
    the oracle reproduces the bucket — the probe reads |bucket| ≈ N/2^bits
    vectors instead of N."""
    emb = _table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    sigs = sim.lsh_signatures(emb, dim=len(qvec), bits=_LSH_Q_BITS, tables=1)
    qsig = int(sigs.filter(F.col("vec_id") == 0).first()["sig"])  # bounded 1-row fetch
    bucket = sigs.filter(F.col("sig") == qsig).select("vec_id")
    scored = sim.decimal_cosine_vs_query(emb.join(bucket, "vec_id"), qvec)
    return (
        scored.select("vec_id", rd(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_ivf_topk",
    f"""
    WITH ex AS ({_EX_SQL}),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= 15
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    qdist AS (
      SELECT c.cid,
             sum(CAST({sql_rd("(qq.x - c.x) * (qq.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM (SELECT i, x FROM ex WHERE vec_id = 0) qq
      JOIN cex c ON c.i = qq.i
      GROUP BY c.cid
    ),
    probe AS (SELECT cid FROM qdist QUALIFY row_number() OVER (ORDER BY d, cid) <= 4),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dots AS ({_DOT_TERMS})
    SELECT d.vec_id,
           {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
    FROM dots d
    JOIN assigned a ON a.vec_id = d.vec_id
    JOIN probe p ON p.cid = a.cid
    ORDER BY cosine DESC, d.vec_id ASC
    LIMIT 10
    """,
)
def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe top-k: deterministic md5-sampled centroids, DECIMAL-
    exact assignment (ivf_assign_dec) and probe ranking
    (probe_centroids) so the oracle reproduces cell membership; only
    the nprobe=4 of 16 cells are scored."""
    emb = _table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = sim.ivf_centroids(emb, 16)
    assigned = sim.ivf_assign_dec(emb, cents)
    probe_ids = sim.probe_centroids(cents, qvec, nprobe=4)
    keep = assigned.filter(F.col("centroid_id").isin(probe_ids)).select("vec_id")
    scored = sim.decimal_cosine_vs_query(emb.join(keep, "vec_id"), qvec)
    return (
        scored.select("vec_id", rd(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_ivf_incremental_probe",
    f"""
    WITH ex AS ({_EX_SQL}),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings WHERE vec_id % 5 < 4
      QUALIFY cid <= 15
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    qdist AS (
      SELECT c.cid,
             sum(CAST({sql_rd("(qq.x - c.x) * (qq.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM (SELECT i, x FROM ex WHERE vec_id = 0) qq
      JOIN cex c ON c.i = qq.i
      GROUP BY c.cid
    ),
    probe AS (SELECT cid FROM qdist QUALIFY row_number() OVER (ORDER BY d, cid) <= 4),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dots AS ({_DOT_TERMS})
    SELECT d.vec_id,
           {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
    FROM dots d
    JOIN assigned a ON a.vec_id = d.vec_id
    JOIN probe p ON p.cid = a.cid
    ORDER BY cosine DESC, d.vec_id ASC
    LIMIT 10
    """,
)
def _q_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (`sim.ivf_write_index` /
    `ivf_index_probe`): centroids seed from the BASE corpus (vec_id %
    5 < 4) and FREEZE; the remaining 20% arrives as a later batch and
    is assigned + appended into the cell-partitioned on-disk index;
    the probe reads only its nprobe cell directories. The oracle is
    the probe over a one-shot index of the full corpus with the same
    frozen centroids — append-equals-rebuild is the contract (cell
    membership is a pure function of vector × centroids)."""
    import shutil
    import tempfile

    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 5 < 4)
    batch = emb.filter(F.col("vec_id") % 5 == 4)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = sim.ivf_centroids(base, 16)
    work = tempfile.mkdtemp(prefix="tsdt_ivf_idx_")
    try:
        idx = os.path.join(work, "index")
        sim.ivf_write_index(base, idx, cents)
        sim.ivf_write_index(batch, idx, cents, mode="append")
        out = sim.ivf_index_probe(spark, idx, cents, qvec, k=10, nprobe=4)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "emb_quantization_report",
    f"""
    WITH v AS (
      SELECT vec_id, embedding,
             CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS lo,
             CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS hi
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, embedding, lo,
             CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 255.0 END AS scale
      FROM v
    ),
    q AS (
      SELECT vec_id, embedding, lo, scale,
             list_transform(
               embedding,
               x -> CAST(floor((CAST(x AS DOUBLE) - lo) / scale + 0.5) AS BIGINT)
             ) AS qv
      FROM s
    )
    SELECT vec_id,
           CAST(len(qv) AS INT) AS n_dims,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           {sql_rd("lo", 9)} AS q_lo,
           {sql_rd("scale", 9)} AS q_scale,
           {sql_rd("list_aggregate(list_transform(embedding, (x, i) -> abs(lo + qv[i] * scale - CAST(x AS DOUBLE))), 'max')", 9)} AS max_abs_err
    FROM q
    """,
)
def _q_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style scalar quantization audit (`sim.quantization_report`):
    per vector, the code CHECKSUM (pins every quantized value — the
    floor-formula codes are bit-identical cross-engine) and the max
    reconstruction error of the 4×-smaller layout. Pure scan-side
    higher-order expressions, zero shuffle."""
    return sim.quantization_report(_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivf_batch_topk",
    f"""
    WITH ex AS ({_EX_SQL}),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= 15
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    qex AS (SELECT vec_id AS query_id, i, x FROM ex WHERE vec_id IN (0, 1, 2, 3, 4)),
    qdist AS (
      SELECT q.query_id, c.cid,
             sum(CAST({sql_rd("(q.x - c.x) * (q.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM qex q JOIN cex c ON c.i = q.i
      GROUP BY q.query_id, c.cid
    ),
    probe AS (
      SELECT query_id, cid FROM qdist
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, cid) <= 4
    ),
    cand AS (
      SELECT p.query_id, a.vec_id FROM probe p JOIN assigned a ON a.cid = p.cid
    ),
    terms AS (
      SELECT c.query_id, c.vec_id,
             sum(CAST({sql_rd("e.x * q.x", 9)} AS DECIMAL(38,9))) AS dxy,
             sum(CAST({sql_rd("e.x * e.x", 9)} AS DECIMAL(38,9))) AS dxx,
             sum(CAST({sql_rd("q.x * q.x", 9)} AS DECIMAL(38,9))) AS dyy
      FROM cand c
      JOIN ex e ON e.vec_id = c.vec_id
      JOIN qex q ON q.query_id = c.query_id AND q.i = e.i
      GROUP BY c.query_id, c.vec_id
    ),
    scored AS (
      SELECT query_id, vec_id,
             {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
      FROM terms
    )
    SELECT query_id, vec_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def _q_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: IVF top-10 for five query vectors in ONE corpus pass
    (`sim.ivf_batch_topk`) — the corpus is assigned once, each query
    scores only its nprobe=4 probed cells, ranking is a query-keyed
    window. The production shape for retrieval jobs that run thousands
    of probes; everything decimal-exact so the oracle reproduces cell
    membership, candidates, and ranks."""
    emb = _table(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
    return sim.ivf_batch_topk(emb, qset, k=10)


@register(
    "emb_mean_pool_by_label",
    f"""
    WITH ex AS (
      SELECT label, u['i'] - 1 AS i, CAST(u['v'] AS DOUBLE) AS x
      FROM (SELECT label,
                   unnest(list_transform(embedding, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM embeddings)
    )
    SELECT label, i,
           {sql_rd("CAST(sum(CAST(" + sql_rd("x", 9) + " AS DECIMAL(38,9))) AS DOUBLE) / count(*)", 6)} AS m,
           count(*) AS n_vecs
    FROM ex GROUP BY label, i
    """,
)
def _q_emb_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-pooled embedding (`sim.mean_pool`) — the
    chunk→document / class-centroid pooling step of embedding
    pipelines. One map-side-combined decimal aggregation over narrow
    (label, position) partials; vectors never shuffle, means are
    decimal-exact so pooled centroids reproduce bit-for-bit in any
    engine."""
    return sim.mean_pool(_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivf_topk_refined",
    f"""
    WITH ex AS ({_EX_SQL}),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= 15
    ),
    cex0 AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    sam AS (
      SELECT vec_id FROM embeddings
      WHERE substr(md5('tsdt|ivfs|' || CAST(vec_id AS VARCHAR)), 1, 1) < '8'
    ),
    d0 AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN sam s ON s.vec_id = e.vec_id JOIN cex0 c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    a0 AS (
      SELECT vec_id, cid FROM d0
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    upd AS (
      SELECT a.cid, e.i,
             {sql_rd("CAST(sum(CAST(" + sql_rd("e.x", 9) + " AS DECIMAL(38,9))) AS DOUBLE) / count(*)", 9)} AS x
      FROM ex e JOIN a0 a ON a.vec_id = e.vec_id
      GROUP BY a.cid, e.i
    ),
    cex AS (
      SELECT cid, i, x FROM upd
      UNION ALL
      SELECT c.cid, c.i, c.x FROM cex0 c
      WHERE c.cid NOT IN (SELECT DISTINCT cid FROM upd)
    ),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    qdist AS (
      SELECT c.cid,
             sum(CAST({sql_rd("(qq.x - c.x) * (qq.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM (SELECT i, x FROM ex WHERE vec_id = 0) qq
      JOIN cex c ON c.i = qq.i
      GROUP BY c.cid
    ),
    probe AS (SELECT cid FROM qdist QUALIFY row_number() OVER (ORDER BY d, cid) <= 4),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dots AS ({_DOT_TERMS})
    SELECT d.vec_id,
           {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
    FROM dots d
    JOIN assigned a ON a.vec_id = d.vec_id
    JOIN probe p ON p.cid = a.cid
    ORDER BY cosine DESC, d.vec_id ASC
    LIMIT 10
    """,
)
def _q_ivf_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe top-k over LLOYD-REFINED centroids: one decimal-exact
    k-means round (`sim.ivf_lloyd_refine`) over a deterministic 50%
    md5-sample tightens the md5-picked seeds toward real density before
    assignment — the production index-build step for 100 TB corpora
    (VERDICT r4 #4). The oracle unrolls the round in SQL (sample →
    assign → exact decimal means → reassign), so cell membership,
    probe choice, and the re-ranked top-10 are all bit-checked."""
    emb = _table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    seeds = sim.ivf_centroids(emb, 16)
    cents = sim.ivf_lloyd_refine(emb, seeds, rounds=1)
    assigned = sim.ivf_assign_dec(emb, cents)
    probe_ids = sim.probe_centroids(cents, qvec, nprobe=4)
    keep = assigned.filter(F.col("centroid_id").isin(probe_ids)).select("vec_id")
    scored = sim.decimal_cosine_vs_query(emb.join(keep, "vec_id"), qvec)
    return (
        scored.select("vec_id", rd(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_ivf_pq_topk",
    f"""
    WITH ex AS ({_EX_SQL}),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= 15
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    qdist AS (
      SELECT c.cid,
             sum(CAST({sql_rd("(qq.x - c.x) * (qq.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM (SELECT i, x FROM ex WHERE vec_id = 0) qq
      JOIN cex c ON c.i = qq.i
      GROUP BY c.cid
    ),
    probe AS (SELECT cid FROM qdist QUALIFY row_number() OVER (ORDER BY d, cid) <= 4),
    probed AS (
      SELECT a.vec_id FROM assigned a JOIN probe p ON p.cid = a.cid
    ),
    qp AS (
      SELECT e.vec_id, min(e.x) AS lo, max(e.x) AS hi
      FROM ex e JOIN probed pr ON pr.vec_id = e.vec_id
      GROUP BY e.vec_id
    ),
    qp2 AS (
      SELECT vec_id, lo,
             CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 255.0 END AS scale
      FROM qp
    ),
    recon AS (
      SELECT e.vec_id, e.i,
             q2.lo + floor((e.x - q2.lo) / q2.scale + 0.5) * q2.scale AS rx
      FROM ex e JOIN qp2 q2 ON q2.vec_id = e.vec_id
    ),
    qv AS (SELECT i, x FROM ex WHERE vec_id = 0),
    adots AS (
      SELECT r.vec_id,
             CAST(sum(CAST({sql_rd("r.rx * qv.x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS approx_dot
      FROM recon r JOIN qv ON qv.i = r.i
      GROUP BY r.vec_id
    ),
    short AS (
      SELECT vec_id, approx_dot FROM adots
      QUALIFY row_number() OVER (ORDER BY approx_dot DESC, vec_id ASC) <= 30
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dots AS ({_DOT_TERMS})
    SELECT d.vec_id,
           {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine,
           {R("s.approx_dot", 6)} AS approx_dot
    FROM dots d JOIN short s ON s.vec_id = d.vec_id
    ORDER BY cosine DESC, d.vec_id ASC
    LIMIT 10
    """,
)
def _q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + quantized-scan + exact re-rank (`sim.ivf_pq_topk`): the
    full disk-resident ANN read path — coarse probe (4/16 cells),
    int8-style quantized candidate scoring (the 4×-smaller layout a
    100 TB store scans), deterministic 30-candidate shortlist, exact
    decimal re-rank of the shortlist only. Oracle unrolls every stage:
    md5-seeded centroids, decimal assignment, floor-formula codes,
    reconstruction, shortlist, re-rank."""
    emb = _table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = sim.ivf_pq_topk(emb, qvec, k=10, shortlist=30, n_centroids=16, nprobe=4)
    return out.select(
        "vec_id",
        rd(F.col("cosine"), 6).alias("cosine"),
        rd(F.col("approx_dot"), 6).alias("approx_dot"),
    )


@register(
    "emb_covariance",
    f"""
    WITH t AS (
      SELECT vec_id,
             unnest(list_transform(embedding,
               (x, i) -> {{'i': i - 1, 'x': CAST(x AS DOUBLE)}})) AS u
      FROM embeddings
    ),
    e AS (SELECT vec_id, u.i AS i, u.x AS x FROM t),
    pr AS (
      SELECT a.i AS i, b.i AS j,
             sum(CAST({R("a.x * b.x", 9)} AS DECIMAL(38,9))) AS sp,
             count(*) AS n
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    m AS (
      SELECT i, CAST(sum(CAST({R("x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS sm
      FROM e GROUP BY i
    )
    SELECT CAST(pr.i AS INT) AS i, CAST(pr.j AS INT) AS j, pr.n AS n_vecs,
           {R("(CAST(pr.sp AS DOUBLE) / CAST(pr.n AS DOUBLE)) - ((mi.sm / CAST(pr.n AS DOUBLE)) * (mj.sm / CAST(pr.n AS DOUBLE)))", 6)} AS cov
    FROM pr JOIN m mi ON pr.i = mi.i JOIN m mj ON pr.j = mj.i
    """,
)
def _q_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed d×d covariance of the embedding store
    (`sim.covariance_matrix`) — the bounded-summary first step of
    PCA/whitening at 100 TB: N is the scale axis, the d² result is
    driver-sized. Scan-side nested shifted-slice pair expansion (no
    self-join — the oracle takes the self-join road and must agree),
    map-side-combined decimal aggregation, broadcast mean joins."""
    return sim.covariance_matrix(_table(spark, sf_dir, "embeddings"))


@register("emb_jl_project", _jl_oracle_sql(64, 16))
def _q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 projection 64→16 (`sim.jl_project`):
    the distance-preserving cheap dimensionality reduction before
    LSH/ANN on a 100 TB vector store. The md5-derived sign matrix is
    inlined as literals into BOTH plans; components accumulate
    9-dp-rounded terms in decimal (order-free exact sum), so every
    projected coordinate matches the oracle bit-for-bit. Pure
    scan-side fan-out, zero shuffle."""
    out = sim.jl_project(_table(spark, sf_dir, "embeddings"), in_dim=64, out_dim=16)
    return out.select("vec_id", F.col("k").cast("int").alias("k"), "y")


@register("emb_pca_power_iteration", _pca_oracle_sql(3))
def _q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA leading axis end-to-end (`sim.power_iteration_top_eigen`):
    DISTRIBUTED covariance (the N-scale stage) + 3 decimal-exact power
    iterations on the bounded d² frame, eigenvalue = final iterate
    norm. The oracle unrolls the complete iteration (covariance →
    symmetric matrix → 3× multiply/normalize) and matches every
    component and the eigenvalue bit-for-bit."""
    return sim.power_iteration_top_eigen(_table(spark, sf_dir, "embeddings"), rounds=3)


@register(
    "sim_matryoshka_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ex AS ({_EX_SQL}),
    qx AS (
      SELECT u['i'] AS i, CAST(u['v'] AS DOUBLE) AS y
      FROM (SELECT unnest(list_transform(qv, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM q)
    ),
    cdots AS (
      SELECT e.vec_id,
             sum(CAST({sql_rd("e.x * qx.y", 9)} AS DECIMAL(38,9))) AS dxy,
             sum(CAST({sql_rd("e.x * e.x", 9)} AS DECIMAL(38,9))) AS dxx,
             sum(CAST({sql_rd("qx.y * qx.y", 9)} AS DECIMAL(38,9))) AS dyy
      FROM ex e JOIN qx ON e.i = qx.i
      WHERE e.i <= {_MAT_PREFIX}
      GROUP BY e.vec_id
    ),
    short AS (
      SELECT vec_id,
             {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS coarse_cosine
      FROM cdots
      ORDER BY coarse_cosine DESC, vec_id ASC
      LIMIT {_MAT_SHORT}
    ),
    fdots AS (
      SELECT e.vec_id,
             sum(CAST({sql_rd("e.x * qx.y", 9)} AS DECIMAL(38,9))) AS dxy,
             sum(CAST({sql_rd("e.x * e.x", 9)} AS DECIMAL(38,9))) AS dxx,
             sum(CAST({sql_rd("qx.y * qx.y", 9)} AS DECIMAL(38,9))) AS dyy
      FROM ex e
      JOIN short s ON s.vec_id = e.vec_id
      JOIN qx ON e.i = qx.i
      GROUP BY e.vec_id
    )
    SELECT s.vec_id, s.coarse_cosine,
           {R("CAST(f.dxy AS DOUBLE) / (sqrt(CAST(f.dxx AS DOUBLE)) * sqrt(CAST(f.dyy AS DOUBLE)))", 6)} AS cosine
    FROM short s JOIN fdots f ON f.vec_id = s.vec_id
    ORDER BY cosine DESC, s.vec_id ASC
    LIMIT {_MAT_K}
    """,
)
def _q_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Matryoshka two-tier ANN (`sim.matryoshka_topk`): coarse cosine
    on the first {_MAT_PREFIX} of 64 dims over ALL vectors (an 8×
    byte-read reduction that becomes full-column pruning when the
    prefix is stored as its own column), deterministic
    top-{_MAT_SHORT} shortlist, exact decimal full-dim rerank of the
    shortlist only — SemDeDup's float-prune/exact-verify discipline
    applied to retrieval."""
    emb = _table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.matryoshka_topk(
        emb, qvec, k=_MAT_K, prefix_dims=_MAT_PREFIX, shortlist=_MAT_SHORT
    )


@register(
    "emb_label_knn_agreement",
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
    norms AS (
      SELECT vec_id, sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             {R("CAST(sum(CAST(" + sql_rd("ea.x * eb.x", 9) + " AS DECIMAL(38,9))) AS DOUBLE) / (max(na.nrm) * max(nb.nrm))", 6)} AS cos
      FROM cand c
      JOIN ex ea ON ea.vec_id = c.id_a
      JOIN ex eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      JOIN norms na ON na.vec_id = c.id_a
      JOIN norms nb ON nb.vec_id = c.id_b
      GROUP BY c.id_a, c.id_b
    ),
    sym AS (
      SELECT id_a AS vid, id_b AS nbr, cos FROM scored
      UNION ALL
      SELECT id_b AS vid, id_a AS nbr, cos FROM scored
    ),
    top1 AS (
      SELECT vid, nbr FROM sym
      QUALIFY row_number() OVER (
        PARTITION BY vid ORDER BY cos DESC, nbr ASC
      ) = 1
    ),
    j AS (
      SELECT e.label AS lbl, t.nbr, n.label AS nbr_lbl
      FROM embeddings e
      LEFT JOIN top1 t ON t.vid = e.vec_id
      LEFT JOIN embeddings n ON n.vec_id = t.nbr
    )
    SELECT lbl AS label,
           count(*) AS n_vecs,
           count(*) FILTER (WHERE nbr IS NOT NULL) AS n_scored,
           count(*) FILTER (WHERE nbr_lbl = lbl) AS n_agree,
           {R("CASE WHEN count(*) FILTER (WHERE nbr IS NOT NULL) = 0 THEN 0.0"
              " ELSE CAST(count(*) FILTER (WHERE nbr_lbl = lbl) AS DOUBLE)"
              " / count(*) FILTER (WHERE nbr IS NOT NULL) END", 6)} AS agreement
    FROM j GROUP BY lbl
    """,
)
def _q_emb_label_knn_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label-consistency audit (`sim.knn_label_agreement`): each
    vector's nearest LSH-blocked neighbor (exact decimal cosine,
    rounded before ranking) votes on its label; per-label agreement
    below the corpus norm flags label noise / cross-class duplication
    before anyone trains on it. Same bounded candidate generation as
    the blocked dedup path; the oracle replays the full blocked
    algorithm, planes and all."""
    emb = _table(spark, sf_dir, "embeddings")
    bits = _knn_bits(emb.count())
    return sim.knn_label_agreement(
        emb, bits=bits, tables=_EMB_TABLES, dim=_EMB_DIM
    )


@register(
    "emb_hard_negatives",
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
    norms AS (
      SELECT vec_id, sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             {R("CAST(sum(CAST(" + sql_rd("ea.x * eb.x", 9) + " AS DECIMAL(38,9))) AS DOUBLE) / (max(na.nrm) * max(nb.nrm))", 6)} AS cos
      FROM cand c
      JOIN ex ea ON ea.vec_id = c.id_a
      JOIN ex eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      JOIN norms na ON na.vec_id = c.id_a
      JOIN norms nb ON nb.vec_id = c.id_b
      GROUP BY c.id_a, c.id_b
    ),
    sym AS (
      SELECT id_a AS vid, id_b AS nbr, cos FROM scored
      UNION ALL
      SELECT id_b AS vid, id_a AS nbr, cos FROM scored
    ),
    lbl AS (SELECT vec_id, label FROM embeddings),
    hard AS (
      SELECT s.vid AS vec_id, la.label, s.nbr AS neg_id,
             lb.label AS neg_label, s.cos AS cosine,
             row_number() OVER (
               PARTITION BY s.vid ORDER BY s.cos DESC, s.nbr ASC
             ) AS rank
      FROM sym s
      JOIN lbl la ON la.vec_id = s.vid
      JOIN lbl lb ON lb.vec_id = s.nbr
      WHERE la.label <> lb.label
    )
    SELECT vec_id, label, CAST(rank AS INT) AS rank, neg_id, neg_label, cosine
    FROM hard WHERE rank <= {_HN_K}
    """,
)
def _q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Hard-negative mining for contrastive training: each vector's
    top-{_HN_K} highest-cosine DIFFERENT-label neighbors from the
    LSH-blocked candidate set (N-adaptive bits, the `_knn_bits` rule) —
    the negatives that actually move an embedding model, mined without
    an all-pairs pass. Exact decimal cosines rounded before ranking,
    per-anchor keyed window, label joins on the id key. Same bounded
    candidate volume as the blocked dedup/audit paths."""
    # r14 examined-and-reverted: _spread_scan here measured 2.7→3.7 s
    # SLOWER — the `emb.count()` register probe below executes the
    # spread exchange before any CPU-dense work benefits, and the
    # query's cost lives in the blocked pair join, not the scan stage.
    emb = _table(spark, sf_dir, "embeddings")
    bits = _knn_bits(emb.count())
    cand = sim.lsh_candidate_pairs(
        emb, _EMB_DIM, bits, _EMB_TABLES, "vec_id", "embedding"
    )
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("__v"),
        F.sqrt(sim.decimal_dot(F.col("embedding"), F.col("embedding"))).alias(
            "__nrm"
        ),
    )
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("__v").alias("va"),
        F.col("__nrm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("__v").alias("vb"),
        F.col("__nrm").alias("nb"),
    )
    scored = (
        cand.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            rd(
                sim.decimal_dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
        # r13 (guide §2.4): both union arms of the symmetrization read
        # this frame — without materialization the LSH candidate
        # generation + exact decimal re-rank ran twice.
        .localCheckpoint(eager=False)
    )
    sym = scored.select(
        F.col("id_a").alias("vec_id"), F.col("id_b").alias("nbr"), "cos"
    ).unionAll(
        scored.select(
            F.col("id_b").alias("vec_id"), F.col("id_a").alias("nbr"), "cos"
        )
    )
    la = emb.select("vec_id", "label")
    lb = emb.select(
        F.col("vec_id").alias("nbr"), F.col("label").alias("neg_label")
    )
    hard = (
        sym.join(la.hint("shuffle_hash"), "vec_id")
        .join(lb.hint("shuffle_hash"), "nbr")
        .filter(F.col("label") != F.col("neg_label"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    return (
        hard.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select(
            "vec_id",
            "label",
            F.col("rank").cast("int").alias("rank"),
            F.col("nbr").alias("neg_id"),
            "neg_label",
            F.col("cos").alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding isotropy / collapse report
# ---------------------------------------------------------------------------


@register(
    "emb_isotropy_report",
    f"""
    WITH ex AS ({_EX_SQL}),
    lbl AS (SELECT vec_id, label FROM embeddings),
    dimsum AS (
      SELECT l.label, e.i,
             CAST(sum(CAST({sql_rd("e.x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS s
      FROM ex e JOIN lbl l ON l.vec_id = e.vec_id
      GROUP BY l.label, e.i
    ),
    cnt AS (SELECT label, count(*) AS n FROM lbl GROUP BY label),
    mu AS (
      SELECT d.label,
             CAST(sum(CAST({sql_rd("(d.s / c.n) * (d.s / c.n)", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS m2
      FROM dimsum d JOIN cnt c ON c.label = d.label
      GROUP BY d.label
    ),
    nrm AS (
      SELECT l.label,
             CAST(sum(CAST({sql_rd(
                 "sqrt(CAST(nd.d2 AS DOUBLE))", 6
             )} AS DECIMAL(38,6))) AS DOUBLE) AS nsum
      FROM (
        SELECT vec_id,
               sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS d2
        FROM ex GROUP BY vec_id
      ) nd JOIN lbl l ON l.vec_id = nd.vec_id
      GROUP BY l.label
    )
    SELECT c.label, CAST(c.n AS BIGINT) AS n,
           {R("nrm.nsum / c.n", 6)} AS mean_norm,
           {R("sqrt(mu.m2)", 6)} AS centroid_norm,
           {R("sqrt(mu.m2) / (nrm.nsum / c.n)", 6)} AS anisotropy
    FROM cnt c
    JOIN mu ON mu.label = c.label
    JOIN nrm ON nrm.label = c.label
    """,
)
def _q_emb_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space collapse audit per label: mean vector norm,
    centroid norm, and their ratio (anisotropy: ~0 = directions
    cancel, healthy spread; ->1 = the class has collapsed onto one
    ray — the classic failure of a contrastive encoder, and exactly
    the audit run before trusting `dedup_semantic` at scale). Per-dim
    decimal sums are d-bounded (the `emb_covariance` discipline);
    per-row norms never explode — one `decimal_dot` per vector."""
    emb = _table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("i", "x"),
    )
    dimsum = exploded.groupBy("label", "i").agg(
        F.sum(rd(F.col("x").cast("double"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("s")
    )
    cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    mu = (
        dimsum.join(cnt.hint("shuffle_hash"), "label")
        .groupBy("label")
        .agg(
            F.sum(
                rd(
                    (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")), 9
                ).cast("decimal(38,9)")
            )
            .cast("double")
            .alias("m2")
        )
    )
    nrm = (
        emb.select(
            "label",
            rd(
                F.sqrt(sim.decimal_dot(F.col("embedding"), F.col("embedding"))),
                6,
            ).alias("nv"),
        )
        .groupBy("label")
        .agg(
            F.sum(F.col("nv").cast("decimal(38,6)")).cast("double").alias("nsum")
        )
    )
    return (
        cnt.join(mu.hint("shuffle_hash"), "label")
        .join(nrm.hint("shuffle_hash"), "label")
        .select(
            "label",
            F.col("n").cast("long").alias("n"),
            rd(F.col("nsum") / F.col("n"), 6).alias("mean_norm"),
            rd(F.sqrt(F.col("m2")), 6).alias("centroid_norm"),
            rd(F.sqrt(F.col("m2")) / (F.col("nsum") / F.col("n")), 6).alias(
                "anisotropy"
            ),
        )
    )


@register(
    "emb_retrieval_mrr",
    f"""
    WITH {_LSH_RANKED_SQL},
    hit AS (
      SELECT r.vid, min(r.rk) AS r1
      FROM ranked r
      JOIN embeddings q ON q.vec_id = r.vid
      JOIN embeddings n ON n.vec_id = r.nbr
      WHERE n.label = q.label
      GROUP BY r.vid
    ),
    per_q AS (
      SELECT q.vec_id AS vid, q.label AS q_lbl,
             {sql_rd("CASE WHEN h.r1 IS NULL THEN 0.0"
                     " ELSE 1.0 / CAST(h.r1 AS DOUBLE) END", 6)} AS rr
      FROM embeddings q LEFT JOIN hit h ON h.vid = q.vec_id
    )
    SELECT q_lbl AS label,
           count(*) AS n_queries,
           CAST(count(*) FILTER (WHERE rr > 0) AS BIGINT) AS n_hit,
           {R("CAST(sum(CAST(rr AS DECIMAL(38,6))) AS DOUBLE)"
              " / CAST(count(*) AS DOUBLE)", 6)} AS mrr
    FROM per_q GROUP BY q_lbl
    """,
)
def _q_emb_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval MRR with labels as relevance (`sim.retrieval_mrr`):
    per label, the mean reciprocal rank of the first same-label
    neighbor in each vector's LSH-blocked exact-cosine candidate
    ranking (rr = 0 for queries with no same-label candidate — every
    query counts). The depth complement of the 1-NN audit: agreement
    says whether the top hit is right, MRR says how far down the
    right answer lives. Adaptive `_knn_bits` blocking, decimal-summed
    reciprocal ranks; the oracle replays the full blocked ranking,
    planes and all."""
    emb = _table(spark, sf_dir, "embeddings")
    bits = _knn_bits(emb.count())
    return sim.retrieval_mrr(emb, bits=bits, tables=_EMB_TABLES, dim=_EMB_DIM)


@register(
    "emb_ood_zscore_by_label",
    f"""
    WITH m AS (
      SELECT label, u['i'] - 1 AS i,
             {sql_rd("CAST(sum(CAST(" + sql_rd("x", 9) + " AS DECIMAL(38,9))) AS DOUBLE) / count(*)", 6)} AS m
      FROM (SELECT label, u FROM (SELECT label,
                   unnest(list_transform(embedding, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM embeddings)),
           LATERAL (SELECT CAST(u['v'] AS DOUBLE) AS x)
      GROUP BY label, u['i'] - 1
    ),
    ex AS (
      SELECT vec_id, label, u['i'] - 1 AS i, CAST(u['v'] AS DOUBLE) AS x
      FROM (SELECT vec_id, label,
                   unnest(list_transform(embedding, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM embeddings)
    ),
    pv AS (
      SELECT e.label, e.vec_id,
             CAST(sum(CAST({sql_rd("e.x * c.m", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS dxy,
             CAST(sum(CAST({sql_rd("e.x * e.x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS dxx,
             CAST(sum(CAST({sql_rd("c.m * c.m", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS dyy
      FROM ex e JOIN m c ON c.label = e.label AND c.i = e.i
      GROUP BY e.label, e.vec_id
    ),
    cs AS (
      SELECT label, vec_id,
             {R("dxy / (sqrt(dxx) * sqrt(dyy))", 6)} AS c
      FROM pv
    ),
    st AS (
      SELECT *,
             {R(f"CAST(sum(CAST({sql_rd('c', 6)} AS DECIMAL(38,6))) OVER wl AS DOUBLE) / count(*) OVER wl", 6)} AS mu,
             {R(f"CAST(sum(CAST({sql_rd('c * c', 12)} AS DECIMAL(38,12))) OVER wl AS DOUBLE) / count(*) OVER wl", 12)} AS msq
      FROM cs WINDOW wl AS (PARTITION BY label)
    ),
    zz AS (
      SELECT vec_id, label, c,
             sqrt(greatest(msq - mu * mu, 0.0)) AS sig, mu
      FROM st
    )
    SELECT vec_id, label, c AS cos_centroid,
           CASE WHEN sig > 0 THEN {R("(c - mu) / sig", 6)} ELSE 0.0 END
             AS z_score,
           CAST(CASE WHEN abs(CASE WHEN sig > 0 THEN {R("(c - mu) / sig", 6)}
                              ELSE 0.0 END) >= 2.0
                THEN 1 ELSE 0 END AS INTEGER) AS ood_flag
    FROM zz
    """,
)
def _q_emb_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector OOD audit (`sim.centroid_ood_zscores`): cosine to the
    vector's own label centroid, z-scored within the label — |z| ≥ 2
    flags probable mislabels/outliers before they poison contrastive
    training or centroid-assuming dedup. Decimal-exact centroids, one
    map-side-combined cosine aggregation, label-keyed stats window."""
    return sim.centroid_ood_zscores(_table(spark, sf_dir, "embeddings"))


@register(
    "emb_lsh_bits_sweep",
    f"""
    WITH ex AS ({_EX_SQL}),
    planes AS (
      SELECT b.b, i.i,
             ('0x' || substr(md5('tsdt|t0|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {max(_BITS_SWEEP) - 1}) b(b),
           generate_series(0, 63) i(i)
    ),
    pdots AS (
      SELECT e.vec_id, p.b,
             CAST(sum(CAST({sql_rd("e.x * p.w", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS d
      FROM ex e JOIN planes p ON p.i = e.i - 1
      GROUP BY e.vec_id, p.b
    ),
    sigs AS (
      SELECT vec_id,
             sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
      FROM pdots GROUP BY vec_id
    )
    {" UNION ALL ".join(
        f'''SELECT {b} AS n_bits, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(m) AS BIGINT) AS max_bucket,
           CAST(sum(m * (m - 1) / 2) AS BIGINT) AS n_candidate_pairs
        FROM (SELECT sig % {1 << b} AS bucket, count(*) AS m
              FROM sigs GROUP BY sig % {1 << b})'''
        for b in _BITS_SWEEP
    )}
    """,
)
def _q_emb_lsh_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH OPERATING POINTS for the embedding blocker: from
    ONE 10-bit signature pass (decimal-exact dot signs), the bucket
    count, largest bucket, and within-bucket candidate volume at 6, 8
    and 10 bits — bits b uses the LOWER b bits of the same plane pool,
    so bucket structure NESTS (more bits strictly refine) and candidate
    volume is monotone non-increasing, the embedding twin of
    `dedup_lsh_band_sweep`'s banding theorem. This is the sweep that
    picks `_knn_bits`'s operating point with numbers instead of the
    log2 rule alone. Signature cost is paid once (lazy localCheckpoint);
    each operating point is a bucket groupBy over (id, sig) longs."""
    emb = _table(spark, sf_dir, "embeddings")
    sigs = (
        sim.lsh_signatures(emb, dim=64, bits=max(_BITS_SWEEP), tables=1)
        .select("vec_id", "sig")
        .localCheckpoint(eager=False)
    )
    rows = []
    for b in _BITS_SWEEP:
        buckets = sigs.groupBy(
            F.pmod(F.col("sig"), F.lit(1 << b)).alias("bucket")
        ).agg(F.count(F.lit(1)).alias("m"))
        rows.append(
            buckets.agg(
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
                F.max("m").cast("long").alias("max_bucket"),
                F.sum(
                    (F.col("m") * (F.col("m") - 1) / 2).cast("long")
                ).cast("long").alias("n_candidate_pairs"),
            ).select(
                F.lit(b).cast("int").alias("n_bits"),
                "n_buckets",
                "max_bucket",
                "n_candidate_pairs",
            )
        )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out


@register(
    "emb_separability_by_label",
    f"""
    WITH ex AS (
      SELECT vec_id, label, u['i'] - 1 AS i, CAST(u['v'] AS DOUBLE) AS x
      FROM (SELECT vec_id, label,
                   unnest(list_transform(embedding, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM embeddings)
    ),
    nv AS (
      SELECT vec_id,
             sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9)))
                  AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    un AS (
      SELECT e.label, e.vec_id, e.i, {sql_rd("e.x / n.nrm", 9)} AS u
      FROM ex e JOIN nv n ON n.vec_id = e.vec_id WHERE n.nrm > 0
    ),
    li AS (
      SELECT label, i,
             CAST(sum(CAST({sql_rd("u", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS s,
             CAST(sum(CAST({sql_rd("u * u", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS q
      FROM un GROUP BY label, i
    ),
    ti AS (
      SELECT i, CAST(sum(CAST({sql_rd("s", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS st
      FROM li GROUP BY i
    ),
    nl AS (SELECT label, count(DISTINCT vec_id) AS n FROM un GROUP BY label),
    nt AS (SELECT count(*) AS ntot FROM nv WHERE nrm > 0),
    lg AS (
      SELECT li.label,
             CAST(sum(CAST({sql_rd("li.s * li.s", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS ss,
             CAST(sum(CAST({sql_rd("li.q", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS qq,
             CAST(sum(CAST({sql_rd("li.s * (ti.st - li.s)", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS cross_dot
      FROM li JOIN ti ON ti.i = li.i
      GROUP BY li.label
    )
    SELECT lg.label, CAST(nl.n AS BIGINT) AS n_vecs,
           {R("(ss - qq) / (nl.n * (nl.n - 1))", 6)} AS intra_mean_cos,
           {R("cross_dot / (CAST(nl.n AS DOUBLE) * (nt.ntot - nl.n))", 6)}
             AS inter_mean_cos,
           {R("(ss - qq) / (nl.n * (nl.n - 1))"
              " - cross_dot / (CAST(nl.n AS DOUBLE) * (nt.ntot - nl.n))", 6)}
             AS separability_gap
    FROM lg JOIN nl ON nl.label = lg.label CROSS JOIN nt
    WHERE nl.n > 1
    """,
)
def _q_emb_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label SEPARABILITY without a single pair: mean intra-label and
    mean inter-label cosine from CLOSED FORMS over per-label unit-sum
    vectors — Σ_{{i≠j}} uᵢ·uⱼ = ‖S_a‖² − Σ‖uᵢ‖² and the inter term is
    S_a·(S_tot − S_a), so the contrastive-quality headline (do labels
    cohere, and do they separate?) costs three d-bounded aggregations
    instead of N² pair dots — at 100 TB this is the difference between
    an audit and an impossibility. `separability_gap` ≤ 0 means labels
    are indistinguishable to cosine (retrain the encoder before
    trusting SemDeDup cells or kNN votes). Unit vectors on the 9-dp
    grid; every sum decimal-accumulated; the only joins are on the
    64-row dimension key and the |labels|-row label key."""
    emb = _table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    nv = ex.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(rd(F.col("x") * F.col("x"), 9).cast("decimal(38,9)")).cast(
                "double"
            )
        ).alias("__nrm")
    )
    un = (
        ex.join(nv.hint("shuffle_hash"), "vec_id")
        .filter(F.col("__nrm") > 0)
        .select(
            "label",
            "vec_id",
            "i",
            rd(F.col("x") / F.col("__nrm"), 9).alias("__u"),
        )
    )
    li = un.groupBy("label", "i").agg(
        F.sum(rd(F.col("__u"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__s"),
        F.sum(rd(F.col("__u") * F.col("__u"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("__q"),
    )
    ti = li.groupBy("i").agg(
        F.sum(rd(F.col("__s"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__st")
    )
    nl = un.groupBy("label").agg(F.countDistinct("vec_id").alias("__n"))
    nt = nv.filter(F.col("__nrm") > 0).agg(
        F.count(F.lit(1)).alias("__ntot")
    )
    lg = (
        li.join(F.broadcast(ti), "i")
        .groupBy("label")
        .agg(
            F.sum(rd(F.col("__s") * F.col("__s"), 9).cast("decimal(38,9)"))
            .cast("double")
            .alias("__ss"),
            F.sum(rd(F.col("__q"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("__qq"),
            F.sum(
                rd(
                    F.col("__s") * (F.col("__st") - F.col("__s")), 9
                ).cast("decimal(38,9)")
            )
            .cast("double")
            .alias("__cross"),
        )
    )
    j = (
        lg.join(nl.hint("shuffle_hash"), "label")
        .crossJoin(F.broadcast(nt))
        .filter(F.col("__n") > 1)
    )
    intra = rd(
        (F.col("__ss") - F.col("__qq"))
        / (F.col("__n") * (F.col("__n") - 1)),
        6,
    )
    inter = rd(
        F.col("__cross")
        / (F.col("__n").cast("double") * (F.col("__ntot") - F.col("__n"))),
        6,
    )
    gap = rd(
        (F.col("__ss") - F.col("__qq"))
        / (F.col("__n") * (F.col("__n") - 1))
        - F.col("__cross")
        / (F.col("__n").cast("double") * (F.col("__ntot") - F.col("__n"))),
        6,
    )
    return j.select(
        "label",
        F.col("__n").cast("long").alias("n_vecs"),
        intra.alias("intra_mean_cos"),
        inter.alias("inter_mean_cos"),
        gap.alias("separability_gap"),
    )


@register(
    "emb_lsh_recall_by_bits",
    f"""
    WITH ex AS ({_EX_SQL}),
    planes AS (
      SELECT b.b, i.i,
             ('0x' || substr(md5('tsdt|t0|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {max(_BITS_SWEEP) - 1}) b(b),
           generate_series(0, 63) i(i)
    ),
    pdots AS (
      SELECT e.vec_id, p.b,
             CAST(sum(CAST({sql_rd("e.x * p.w", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS d
      FROM ex e JOIN planes p ON p.i = e.i - 1
      GROUP BY e.vec_id, p.b
    ),
    sigs AS (
      SELECT vec_id,
             sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
      FROM pdots GROUP BY vec_id
    ),
    norms AS (
      SELECT vec_id,
             sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    qex AS (SELECT vec_id AS qid, i, x FROM ex WHERE vec_id < {_RECALL_Q}),
    dots AS (
      SELECT q.qid, e.vec_id,
             CAST(sum(CAST({sql_rd("q.x * e.x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS dxy
      FROM qex q JOIN ex e ON e.i = q.i AND e.vec_id <> q.qid
      GROUP BY q.qid, e.vec_id
    ),
    cos AS (
      SELECT d.qid, d.vec_id,
             {R("d.dxy / (nq.nrm * nv.nrm)", 6)} AS c
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nv ON nv.vec_id = d.vec_id
    ),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
        FROM cos
      ) WHERE rn <= 10
    )
    {" UNION ALL ".join(
        f'''SELECT {b} AS n_bits,
           {R(f"CAST(sum(hit) AS DOUBLE) / ({_RECALL_Q} * 10.0)", 6)} AS recall_at_10,
           CAST(count(*) AS BIGINT) AS n_candidates
        FROM (
          SELECT CASE WHEN t.qid IS NOT NULL AND pr.rn <= 10 THEN 1 ELSE 0 END AS hit
          FROM (
            SELECT c.qid, c.vec_id,
                   row_number() OVER (PARTITION BY c.qid ORDER BY c.c DESC, c.vec_id ASC) AS rn
            FROM cos c
            JOIN sigs sq ON sq.vec_id = c.qid
            JOIN sigs sv ON sv.vec_id = c.vec_id
            WHERE sq.sig % {1 << b} = sv.sig % {1 << b}
          ) pr
          LEFT JOIN truth t ON t.qid = pr.qid AND t.vec_id = pr.vec_id
        )'''
        for b in _BITS_SWEEP
    )}
    """,
)
def _q_emb_lsh_recall_by_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall for the bits sweep: `emb_lsh_bits_sweep` prices
    candidate volume per operating point; this query prices what each
    point FORFEITS — recall@10 over {_RECALL_Q} deterministic probe
    vectors (exact decimal-cosine top-10 as truth, same-bucket
    candidates ranked by the same cosine as the probe result). The
    bucket nests (lower b bits of one plane pool), so recall is
    monotone non-increasing in bits while candidates shrink — the two
    tables together ARE the bits decision. At 100 TB the probe set is
    a sample, the per-probe cost is one bucket scan, and truth costs
    Q·N — the standard sampled-recall audit (the IVF/PQ recall rows'
    methodology, now for the hyperplane blocker)."""
    # r14: CPU-spread the single-split scan (guide §2.5; _spread_scan)
    emb = _spread_scan(_table(spark, sf_dir, "embeddings"), "vec_id")
    sigs = (
        sim.lsh_signatures(emb, dim=64, bits=max(_BITS_SWEEP), tables=1)
        .select("vec_id", "sig")
        .localCheckpoint(eager=False)
    )
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    # probe rows join the broadcast 8×64 query-element table on the
    # DIMENSION key (equi-join — an array-vs-array form here would be
    # an unsanctioned 8-row BNLJ), the oracle's own shape
    qex = ex.filter(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), "i", F.col("x").alias("__qx")
    )
    # r13 examined-and-kept: fusing the norms pass into the dots
    # aggregation (cos = rd(__dxy/(√Σqx²·√Σx²), 6) per group) was
    # measured ~0.7 s SLOWER across 3 interleaved A/B alternations —
    # the dots join is Q probes wide, so the fused form recomputes
    # each corpus vector's norm² Q times where this separate N×D pass
    # computes it once. Same argument holds at scale (2·Q·N·D extra
    # decimal ops vs one N×D pass + an N-row shuffle saved). The
    # sibling sim_recall_suite DOES fuse — its MRL pass already pays
    # the Q-wide expansion, so deriving cos there is free.
    dots = (
        ex.join(F.broadcast(qex), "i")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(rd(F.col("__qx") * F.col("x"), 9).cast("decimal(38,9)"))
            .cast("double")
            .alias("__dxy")
        )
    )
    norms = ex.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(rd(F.col("x") * F.col("x"), 9).cast("decimal(38,9)")).cast(
                "double"
            )
        ).alias("__nrm")
    ).localCheckpoint(eager=False)
    cos = (
        dots.join(
            F.broadcast(
                norms.select(F.col("vec_id").alias("qid"), F.col("__nrm").alias("__nq")).filter(
                    F.col("qid") < _RECALL_Q
                )
            ),
            "qid",
        )
        .join(norms.hint("shuffle_hash"), "vec_id")
        .select(
            "qid",
            "vec_id",
            rd(F.col("__dxy") / (F.col("__nq") * F.col("__nrm")), 6).alias(
                "__c"
            ),
        )
        .localCheckpoint(eager=False)
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("__c").desc(), F.col("vec_id").asc()
    )
    # r13 (guide §2.4): truth is joined by every bits branch — without
    # materialization the rank window over cos re-ran per branch.
    truth = (
        cos.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= 10)
        .select("qid", "vec_id", F.lit(1).alias("__t"))
        .localCheckpoint(eager=False)
    )
    qsig = sigs.select(F.col("vec_id").alias("qid"), F.col("sig").alias("__qs"))
    vsig = sigs.select("vec_id", F.col("sig").alias("__vs"))
    rows = []
    # r13 (guide §2.2): the per-branch rank window was a provable
    # no-op — each branch's candidate set is a SUBSET of cos (1:1 sig
    # joins, one sig per vec) ranked by the same total order
    # (__c desc, vec_id asc), so a truth row (≤ 9 rows ahead of it
    # globally) has ≤ 9 subset rows ahead of it and its subset rank is
    # always ≤ 10: (__t = 1 AND rn ≤ 10) ≡ (__t = 1). Dropping the
    # window removes one full Q×N-candidate sort per bits branch.
    for b in _BITS_SWEEP:
        probe = (
            cos.join(F.broadcast(qsig), "qid")
            .join(vsig.hint("shuffle_hash"), "vec_id")
            .filter(
                F.pmod(F.col("__qs"), F.lit(1 << b))
                == F.pmod(F.col("__vs"), F.lit(1 << b))
            )
        )
        scored = probe.join(
            truth.hint("shuffle_hash"), ["qid", "vec_id"], "left"
        ).select(
            F.when(F.col("__t") == 1, 1).otherwise(0).alias("hit")
        )
        rows.append(
            scored.agg(
                rd(
                    F.sum("hit").cast("double") / F.lit(_RECALL_Q * 10.0), 6
                ).alias("recall_at_10"),
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
            ).select(
                F.lit(b).cast("int").alias("n_bits"),
                "recall_at_10",
                "n_candidates",
            )
        )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out


@register(
    "sim_ivf_nprobe_recall",
    f"""
    WITH ex AS ({_EX_SQL}),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= 15
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    qex AS (SELECT vec_id AS query_id, i, x FROM ex WHERE vec_id IN (0, 1, 2, 3, 4)),
    qdist AS (
      SELECT q.query_id, c.cid,
             sum(CAST({sql_rd("(q.x - c.x) * (q.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM qex q JOIN cex c ON c.i = q.i
      GROUP BY q.query_id, c.cid
    ),
    terms AS (
      SELECT q.query_id, e.vec_id,
             sum(CAST({sql_rd("e.x * q.x", 9)} AS DECIMAL(38,9))) AS dxy,
             sum(CAST({sql_rd("e.x * e.x", 9)} AS DECIMAL(38,9))) AS dxx,
             sum(CAST({sql_rd("q.x * q.x", 9)} AS DECIMAL(38,9))) AS dyy
      FROM ex e JOIN qex q ON q.i = e.i
      GROUP BY q.query_id, e.vec_id
    ),
    scored_all AS (
      SELECT query_id, vec_id,
             {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS cosine
      FROM terms
    ),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
               ) AS rn
        FROM scored_all
      ) WHERE rn <= 10
    )
    {" UNION ALL ".join(_nprobe_branch_sql(np_) for np_ in _NPROBE_SWEEP)}
    """,
)
def _q_sim_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD operating-point sweep: measured recall@10 per IVF
    nprobe ∈ {_NPROBE_SWEEP} over the five standard probe vectors —
    with `dedup_lsh_band_sweep` (banding) and `emb_lsh_recall_by_bits`
    (hyperplane bits) this completes the blocking-knob trilogy: every
    approximate structure in the repo now carries a measured
    cost-vs-recall curve, not a rule of thumb. Truth is the exact
    decimal-cosine top-10 (= nprobe exhausting all 16 cells); the
    centroid table is shared across all nprobe branches, so the sweep
    pays ONE corpus assignment per branch instead of re-deriving
    centroids. Cell membership, probe ranking, and candidate ranks are
    all decimal-exact — the oracle replays them cell-for-cell."""
    # r14: CPU-spread the single-split scan (guide §2.5; _spread_scan)
    emb = _spread_scan(_table(spark, sf_dir, "embeddings"), "vec_id")
    cents = sim.ivf_centroids(emb, 16)
    qset = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
    assigned = sim.ivf_assign_dec(emb, cents).localCheckpoint(eager=False)
    # r13 (guide §2.4): truth (the nprobe=16 full-probe exact re-rank,
    # the most expensive branch) is joined by all 5 sweep branches —
    # the lazy form re-executed it per branch. Checkpoint once.
    truth = sim.ivf_batch_topk(
        emb, qset, k=10, nprobe=16, centroids=cents, assigned=assigned
    ).select("query_id", "vec_id").localCheckpoint(eager=False)
    rows = []
    for np_ in _NPROBE_SWEEP:
        pred = sim.ivf_batch_topk(
            emb, qset, k=10, nprobe=np_, centroids=cents, assigned=assigned
        ).select("query_id", "vec_id")
        hits = pred.join(
            truth.hint("shuffle_hash"), ["query_id", "vec_id"]
        ).agg(F.count(F.lit(1)).alias("n_hits"))
        rows.append(
            hits.select(
                F.lit(np_).cast("int").alias("nprobe"),
                F.col("n_hits").cast("long").alias("n_hits"),
                rd(F.col("n_hits").cast("double") / F.lit(50.0), 6).alias(
                    "recall_at_10"
                ),
            )
        )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out


@register(
    "emb_retrieval_ndcg",
    f"""
    WITH {_LSH_RANKED_SQL},
    lbl AS (SELECT vec_id, label FROM embeddings),
    cnt AS (SELECT label, count(*) AS c FROM embeddings GROUP BY label),
    terms AS (
      SELECT r.vid,
             CASE WHEN n.label = q.label AND r.rk <= {_NDCG_K}
                  THEN CAST(([{", ".join(repr(w) for w in _NDCG_WS)}])[r.rk]
                            AS DECIMAL(38,9))
                  ELSE CAST(0 AS DECIMAL(38,9)) END AS term
      FROM ranked r
      JOIN lbl q ON q.vec_id = r.vid
      JOIN lbl n ON n.vec_id = r.nbr
    ),
    dcg AS (SELECT vid, sum(term) AS dcg FROM terms GROUP BY vid),
    perq AS (
      SELECT q.vec_id AS vid, q.label AS q_lbl,
             CASE WHEN least({_NDCG_K}, cnt.c - 1) >= 1 THEN
               {R(f"CAST(COALESCE(d.dcg, 0) AS DOUBLE)"
                  f" / ([{', '.join(repr(v) for v in _NDCG_IDCG)}])"
                  f"[least({_NDCG_K}, cnt.c - 1)]", 6)}
             END AS ndcg
      FROM embeddings q
      JOIN cnt ON cnt.label = q.label
      LEFT JOIN dcg d ON d.vid = q.vec_id
    )
    SELECT q_lbl AS label,
           count(*) AS n_queries,
           CAST(count(*) FILTER (WHERE ndcg = 0.0) AS BIGINT) AS n_zero,
           {R("CAST(sum(CAST(ndcg AS DECIMAL(38,6))) AS DOUBLE)"
              " / CAST(count(*) AS DOUBLE)", 6)} AS ndcg
    FROM perq GROUP BY q_lbl
    """,
)
def _q_emb_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 with labels as binary relevance
    (`sim.retrieval_ndcg`): the graded-position retrieval eval over
    the SAME LSH-blocked exact-cosine ranking as `emb_retrieval_mrr`
    (factored `_LSH_RANKED_SQL`, so the two evals can never rank
    different candidates). MRR reads the FIRST hit's depth; NDCG pays
    for every relevant item the top-k misses — normalized by the ideal
    DCG over min(k, |label|−1) corpus-wide relevants, it also charges
    the blocking structure for candidates it never produced.
    Position weights and the IDCG table are shared 9-dp literals
    (`sim.ndcg_weights`) — neither engine computes log2 at query
    time."""
    emb = _table(spark, sf_dir, "embeddings")
    bits = _knn_bits(emb.count())
    return sim.retrieval_ndcg(
        emb, k=_NDCG_K, bits=bits, tables=_EMB_TABLES, dim=_EMB_DIM
    )


@register(
    "emb_matryoshka_recall_by_dim",
    f"""
    WITH ex AS ({_EX_SQL}),
    qex AS (SELECT vec_id AS qid, i, x FROM ex WHERE vec_id < {_RECALL_Q}),
    qn AS (
      SELECT qid,
             {", ".join(f'''CAST(sum(CASE WHEN i <= {d} THEN CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9)) END) AS DOUBLE) AS qxx{d}''' for d in _MRL_DIMS)}
      FROM qex GROUP BY qid
    ),
    dots AS (
      SELECT q.qid, e.vec_id,
             {_mrl_dim_cols_sql()}
      FROM qex q JOIN ex e ON e.i = q.i AND e.vec_id <> q.qid
      GROUP BY q.qid, e.vec_id
    ),
    cosd AS (
      {" UNION ALL ".join(
        f'''SELECT {d} AS pd, d.qid, d.vec_id,
               {R(f"d.dxy{d} / (sqrt(n.qxx{d}) * sqrt(d.dxx{d}))", 6)} AS c
        FROM dots d JOIN qn n ON n.qid = d.qid'''
        for d in _MRL_DIMS)}
    ),
    short AS (
      SELECT pd, qid, vec_id FROM (
        SELECT pd, qid, vec_id,
               row_number() OVER (PARTITION BY pd, qid
                                  ORDER BY c DESC, vec_id ASC) AS rn
        FROM cosd
      ) WHERE rn <= {_MRL_SHORTLIST}
    ),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c DESC, vec_id ASC) AS rn
        FROM cosd WHERE pd = {max(_MRL_DIMS)}
      ) WHERE rn <= 10
    )
    SELECT s.pd AS prefix_dims,
           CAST(count(t.qid) AS BIGINT) AS n_hits,
           {R(f"CAST(count(t.qid) AS DOUBLE) / ({_RECALL_Q} * 10.0)", 6)}
             AS recall_at_10
    FROM short s
    LEFT JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id
    GROUP BY s.pd
    """,
)
def _q_emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall for the Matryoshka prefix-dims knob
    (`sim.matryoshka_topk`'s coarse tier): recall@10 over the standard
    {_RECALL_Q} probes when the 40-deep shortlist is built from only
    the first D ∈ {_MRL_DIMS} coordinates — the exact re-rank recovers
    ordering, so the ONLY loss is truth items the prefix tier never
    shortlists, and recall = |truth ∩ shortlist| / 10 exactly. D=64 is
    the built-in identity row (full-dim shortlist ⊇ truth ⇒ recall 1),
    pinning the harness. Completes the measured cost-vs-recall family:
    LSH bits, IVF nprobe, PQ bits, and now the MRL prefix — every
    approximate blocking structure in the repo carries its forfeit
    curve. One pass computes all four prefix dots as conditional
    decimal sums (no fourfold scan); per-(D, probe) ranks are keyed
    windows."""
    # r14: CPU-spread the single-split scan (guide §2.5; _spread_scan)
    emb = _spread_scan(_table(spark, sf_dir, "embeddings"), "vec_id")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    qex = ex.filter(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), "i", F.col("x").alias("__qx")
    )

    def csum(cond, term):
        return F.sum(F.when(cond, rd(term, 9).cast("decimal(38,9)"))).cast(
            "double"
        )

    qn = qex.groupBy("qid").agg(
        *[
            csum(F.col("i") < d, F.col("__qx") * F.col("__qx")).alias(f"__qxx{d}")
            for d in _MRL_DIMS
        ]
    )
    dots = (
        ex.join(F.broadcast(qex), "i")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            *[
                c
                for d in _MRL_DIMS
                for c in (
                    csum(F.col("i") < d, F.col("__qx") * F.col("x")).alias(
                        f"__dxy{d}"
                    ),
                    csum(F.col("i") < d, F.col("x") * F.col("x")).alias(
                        f"__dxx{d}"
                    ),
                )
            ]
        )
    )
    # r14 (guide §2.4): j feeds one union branch PER prefix dim plus
    # the truth re-read — the lazy form re-ran the Q×N×D expansion +
    # 10-column decimal agg once per branch (profiled: 4 sequential
    # ~0.5-1.5 s single-task stages). Checkpoint the bounded Q×N
    # result once; every branch reads materialized rows.
    j = dots.join(F.broadcast(qn), "qid").localCheckpoint(eager=False)
    cosd = None
    for d in _MRL_DIMS:
        c = rd(
            F.col(f"__dxy{d}")
            / (F.sqrt(F.col(f"__qxx{d}")) * F.sqrt(F.col(f"__dxx{d}"))),
            6,
        )
        part = j.select(
            F.lit(d).alias("pd"), "qid", "vec_id", c.alias("__c")
        )
        cosd = part if cosd is None else cosd.unionByName(part)
    wsh = Window.partitionBy("pd", "qid").orderBy(
        F.col("__c").desc(), F.col("vec_id").asc()
    )
    short = (
        cosd.withColumn("__rn", F.row_number().over(wsh))
        .filter(F.col("__rn") <= _MRL_SHORTLIST)
        .select("pd", "qid", "vec_id")
    )
    wtr = Window.partitionBy("qid").orderBy(
        F.col("__c").desc(), F.col("vec_id").asc()
    )
    truth = (
        cosd.filter(F.col("pd") == max(_MRL_DIMS))
        .withColumn("__rn", F.row_number().over(wtr))
        .filter(F.col("__rn") <= 10)
        .select(F.col("qid"), F.col("vec_id"), F.lit(1).alias("__hit"))
    )
    return (
        short.join(truth.hint("shuffle_hash"), ["qid", "vec_id"], "left")
        .groupBy(F.col("pd").alias("prefix_dims"))
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "prefix_dims",
            "n_hits",
            rd(
                F.col("n_hits").cast("double") / F.lit(_RECALL_Q * 10.0), 6
            ).alias("recall_at_10"),
        )
    )


@register("sim_recall_suite", _SUITE_RECALL_SQL)
def _q_sim_recall_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""The recall-curve SUITE: every approximate blocking structure's
    forfeit curve — LSH hyperplane bits ∈ {_BITS_SWEEP}, IVF nprobe ∈
    {_NPROBE_SWEEP}, Matryoshka prefix dims ∈ {_MRL_DIMS} — off ONE
    exact-cosine truth computation (the third instance of the
    amortize-the-shared-prefix pattern after dedup_report_suite and
    text_bpe_suite). The standalone curves each pay the Q×N exact
    truth pass and their own candidate machinery; here the shared cos
    matrix (8 probes × corpus, self-excluded, decimal-exact,
    lazily checkpointed) feeds all ten operating points, and every
    candidate set is RANKED BY THE SAME cos values — so the three
    curves are comparable cell-for-cell: one truth, one probe set, one
    ranking rule. Normalized (section, k, n_hits, n_candidates,
    recall_at_10) rows. Conventions unified suite-wide (probes =
    vec_id < {_RECALL_Q}, self excluded); the standalone queries keep
    their own contracts and remain independently oracle-checked — the
    LSH and MRL sections reconcile with them exactly (pytest), the IVF
    section differs by design (8 probes vs 5, self excluded vs kept).
    """
    # r14: CPU-spread the single-split scan (guide §2.5; see
    # _spread_scan) — the Q×N×D expansion + 10-column decimal partial
    # agg below fuse into the scan stage and ran on ONE core.
    emb = _spread_scan(_table(spark, sf_dir, "embeddings"), "vec_id")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    qex = ex.filter(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), "i", F.col("x").alias("__qx")
    )

    # r13 (guide §2.3/§2.4): _MRL_DIMS includes the full dim (64), so
    # the MRL pass's d=64 prefix columns ARE the exact full-dim dot and
    # norms² — the separate dots pass (a second Q×N×D expansion + agg)
    # and the norms pass (a third full scan+explode+groupBy) were
    # recomputing values the MRL aggregation already produces. One
    # expansion pass (j, checkpointed) now feeds cos, truth, and every
    # MRL branch; cos = rd(__dxy64 / (sqrt(__qxx64)·sqrt(__dxx64)), 6)
    # is bit-identical to the old two-pass form (same decimal addend
    # multisets, same double ops in the same order).
    def csum(cond, term):
        return F.sum(F.when(cond, rd(term, 9).cast("decimal(38,9)"))).cast(
            "double"
        )

    qn = qex.groupBy("qid").agg(
        *[
            csum(F.col("i") < d, F.col("__qx") * F.col("__qx")).alias(
                f"__qxx{d}"
            )
            for d in _MRL_DIMS
        ]
    )
    mdots = (
        ex.join(F.broadcast(qex), "i")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            *[
                c
                for d in _MRL_DIMS
                for c in (
                    csum(F.col("i") < d, F.col("__qx") * F.col("x")).alias(
                        f"__dxy{d}"
                    ),
                    csum(F.col("i") < d, F.col("x") * F.col("x")).alias(
                        f"__dxx{d}"
                    ),
                )
            ]
        )
    )
    j = mdots.join(F.broadcast(qn), "qid").localCheckpoint(eager=False)
    _D = max(_MRL_DIMS)
    cos = j.select(
        "qid",
        "vec_id",
        rd(
            F.col(f"__dxy{_D}")
            / (F.sqrt(F.col(f"__qxx{_D}")) * F.sqrt(F.col(f"__dxx{_D}"))),
            6,
        ).alias("__c"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("__c").desc(), F.col("vec_id").asc()
    )
    truth = (
        cos.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= 10)
        .select("qid", "vec_id", F.lit(1).alias("__t"))
        .localCheckpoint(eager=False)
    )

    # r13 (guide §2.2): the per-branch rank window was a provable
    # no-op for every LSH/IVF branch — each branch's candidate set is
    # a SUBSET of cos (1:1 sig joins / one centroid per vec) ranked by
    # the same total order (__c desc, vec_id asc), so a truth row (≤ 9
    # rows ahead of it globally) has ≤ 9 subset rows ahead of it and
    # its subset rank is always ≤ 10: (__t = 1 AND rn ≤ 10) ≡
    # (__t = 1). The MRL branches rank by their own prefix cosine and
    # keep their shortlist window; they pass only shortlist rows here.
    def branch(section: str, k: int, pred) -> DataFrame:
        scored = pred.join(
            truth.hint("shuffle_hash"), ["qid", "vec_id"], "left"
        ).select(
            F.when(F.col("__t") == 1, 1).otherwise(0).alias("hit")
        )
        return scored.agg(
            F.sum("hit").cast("long").alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
        ).select(
            F.lit(section).alias("section"),
            F.lit(k).cast("int").alias("k"),
            "n_hits",
            "n_candidates",
            rd(
                F.col("n_hits").cast("double") / F.lit(_RECALL_Q * 10.0), 6
            ).alias("recall_at_10"),
        )

    def sweep_rows(section: str, agg_row, ks) -> list:
        return [
            agg_row.select(
                F.lit(section).alias("section"),
                F.lit(k).cast("int").alias("k"),
                F.col(f"__h{k}").alias("n_hits"),
                F.col(f"__c{k}").alias("n_candidates"),
                rd(
                    F.col(f"__h{k}").cast("double")
                    / F.lit(_RECALL_Q * 10.0),
                    6,
                ).alias("recall_at_10"),
            )
            for k in ks
        ]

    rows = []
    # LSH bits: one signature pass at max bits, nested lower-bit buckets.
    # r13 session 4 (guide §2.4): the three bits branches each re-ran
    # the cos⨝sigs⨝truth join and differed only in the pmod filter —
    # ONE join pass with per-bits conditional sums computes the same
    # (n_hits, n_candidates) integers (bucket membership at b bits is a
    # row-local predicate), projected to the same 3 output rows.
    sigs = (
        sim.lsh_signatures(emb, dim=64, bits=max(_BITS_SWEEP), tables=1)
        .select("vec_id", "sig")
        .localCheckpoint(eager=False)
    )
    qsig = sigs.select(F.col("vec_id").alias("qid"), F.col("sig").alias("__qs"))
    vsig = sigs.select("vec_id", F.col("sig").alias("__vs"))

    def hc(match, tag):
        # r14 (ADVICE r13): reproduce the pre-fusion empty-subset
        # semantics exactly. The oracle's per-branch sum(hit)/count(*)
        # over an EMPTY subset yields (NULL, 0, NULL); the plain
        # conditional sums yield (0, 0, 0.0) for an empty bucket and
        # (NULL, NULL, NULL) when the joined frame itself is empty.
        # n_hits is NULL unless the branch has candidates; n_candidates
        # coalesces to 0 (count(*) is never NULL); recall derives from
        # n_hits, so it goes NULL with it. Identical integers on any
        # corpus where every branch is non-empty (all test SFs).
        m = F.sum(F.when(match, 1).otherwise(0))
        h = F.sum(F.when(match & (F.col("__t") == 1), 1).otherwise(0))
        return [
            F.when(m > 0, h).cast("long").alias(f"__h{tag}"),
            F.coalesce(m, F.lit(0)).cast("long").alias(f"__c{tag}"),
        ]

    lsh_agg = (
        cos.join(F.broadcast(qsig), "qid")
        .join(vsig.hint("shuffle_hash"), "vec_id")
        .join(truth.hint("shuffle_hash"), ["qid", "vec_id"], "left")
        .agg(
            *[
                c
                for b in _BITS_SWEEP
                for c in hc(
                    F.pmod(F.col("__qs"), F.lit(1 << b))
                    == F.pmod(F.col("__vs"), F.lit(1 << b)),
                    b,
                )
            ]
        )
        .localCheckpoint(eager=False)
    )
    rows.extend(sweep_rows("lsh_bits", lsh_agg, _BITS_SWEEP))
    # IVF nprobe: one corpus assignment, driver-ranked probe cells.
    # r13 session 4: probe_centroids ranks by (decimal distance, cid)
    # and slices the SAME sorted list per nprobe, so the probe sets
    # nest — ship the max-nprobe probe table WITH each cell's probe
    # rank and compute every operating point as a pr ≤ nprobe
    # conditional sum over ONE cos⨝candidates⨝truth join (was one
    # join pass per nprobe).
    cents = sim.ivf_centroids(emb, 16)
    assigned = sim.ivf_assign_dec(emb, cents).localCheckpoint(eager=False)
    qrows = emb.filter(F.col("vec_id") < _RECALL_Q).select(
        "vec_id", "embedding"
    ).collect()
    probe_rows = [
        (int(r["vec_id"]), cid, pr)
        for r in qrows
        for pr, cid in enumerate(
            sim.probe_centroids(
                cents, [float(x) for x in r["embedding"]], max(_NPROBE_SWEEP)
            ),
            start=1,
        )
    ]
    probe_df = spark.createDataFrame(
        probe_rows, "qid bigint, centroid_id int, pr int"
    )
    candm = assigned.join(F.broadcast(probe_df), "centroid_id").select(
        "vec_id", "qid", "pr"
    )
    ivf_agg = (
        cos.join(candm.hint("shuffle_hash"), ["qid", "vec_id"])
        .join(truth.hint("shuffle_hash"), ["qid", "vec_id"], "left")
        .agg(
            *[
                c
                for np_ in _NPROBE_SWEEP
                for c in hc(F.col("pr") <= F.lit(np_), np_)
            ]
        )
        .localCheckpoint(eager=False)
    )
    rows.extend(sweep_rows("ivf_nprobe", ivf_agg, _NPROBE_SWEEP))
    # MRL prefix dims: every prefix dot comes from the same checkpointed
    # one-pass aggregation (j) that produced cos/truth above
    for d in _MRL_DIMS:
        c = rd(
            F.col(f"__dxy{d}")
            / (F.sqrt(F.col(f"__qxx{d}")) * F.sqrt(F.col(f"__dxx{d}"))),
            6,
        )
        wsh = Window.partitionBy("qid").orderBy(
            F.col("__mc").desc(), F.col("vec_id").asc()
        )
        short = (
            j.select("qid", "vec_id", c.alias("__mc"))
            .withColumn("__rn", F.row_number().over(wsh))
            .filter(F.col("__rn") <= _MRL_SHORTLIST)
            .select("qid", "vec_id")
        )
        rows.append(branch("mrl_dim", d, short))
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out


@register(
    "emb_centroid_shift_by_label",
    f"""
    WITH ex AS (
      SELECT vec_id, label, u['i'] - 1 AS i, CAST(u['v'] AS DOUBLE) AS x,
             vec_id % 2 AS half
      FROM (SELECT vec_id, label,
                   unnest(list_transform(embedding, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM embeddings)
    ),
    m AS (
      SELECT label, i, half,
             {R("CAST(sum(CAST(" + sql_rd("x", 9) + " AS DECIMAL(38,9))) AS DOUBLE) / count(*)", 9)} AS m,
             count(*) AS n
      FROM ex GROUP BY label, i, half
    ),
    piv AS (
      SELECT label, i,
             max(CASE WHEN half = 0 THEN m END) AS a,
             max(CASE WHEN half = 1 THEN m END) AS b,
             max(CASE WHEN half = 0 THEN n END) AS na,
             max(CASE WHEN half = 1 THEN n END) AS nb
      FROM m GROUP BY label, i
    ),
    ok2 AS (SELECT * FROM piv WHERE a IS NOT NULL AND b IS NOT NULL),
    agg AS (
      SELECT label,
             CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
             CAST(sum(CAST({R("a * b", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS dot,
             CAST(sum(CAST({R("a * a", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS naa,
             CAST(sum(CAST({R("b * b", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS nbb,
             CAST(sum(CAST({R("(a - b) * (a - b)", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS sh2
      FROM ok2 GROUP BY label
    )
    SELECT label, n_a, n_b,
           {R("dot / (sqrt(naa) * sqrt(nbb))", 6)} AS centroid_cosine,
           {R("sqrt(sh2)", 6)} AS l2_shift
    FROM agg
    """,
)
def _q_emb_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DRIFT detector — the check a retrieval/dedup owner
    runs after re-embedding a corpus with a new model checkpoint or
    ingesting a new batch: split each label's vectors into two
    deterministic halves (vec_id parity standing in for
    old-batch/new-batch), mean-pool each half (the proven
    `emb_mean_pool_by_label` decimal-exact per-dimension pattern),
    and compare the two centroids per label by cosine and L2 shift.
    Centroid cosine ≈ 1 and small L2 → the space is stable and ANN
    index parameters / dedup thresholds transfer; a label whose
    halves disagree flags re-tuning BEFORE recall silently degrades
    (the drift sibling of `emb_ood_zscore_by_label`, which scores
    points, not the space). Plan: one explode + one (label, dim,
    half)-keyed decimal mean — vectors never shuffle whole — then a
    64-row-per-label pivot and one label agg; every sum
    order-independent via fixed-grid rounding + decimal
    accumulation. |labels|-row output."""
    emb = _table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "__xf")
    ).select(
        "label",
        "i",
        F.col("__xf").cast("double").alias("__x"),
        (F.col("vec_id") % 2).alias("__half"),
    )
    m = ex.groupBy("label", "i", "__half").agg(
        rd(
            F.sum(rd(F.col("__x"), 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("__m"),
        F.count(F.lit(1)).alias("__n"),
    )
    piv = m.groupBy("label", "i").agg(
        F.max(F.when(F.col("__half") == 0, F.col("__m"))).alias("__a"),
        F.max(F.when(F.col("__half") == 1, F.col("__m"))).alias("__b"),
        F.max(F.when(F.col("__half") == 0, F.col("__n"))).alias("__na"),
        F.max(F.when(F.col("__half") == 1, F.col("__n"))).alias("__nb"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())

    def _ds12(term):
        return F.sum(rd(term, 12).cast("decimal(38,12)")).cast("double")

    agg = piv.groupBy("label").agg(
        F.max("__na").cast("long").alias("n_a"),
        F.max("__nb").cast("long").alias("n_b"),
        _ds12(F.col("__a") * F.col("__b")).alias("__dot"),
        _ds12(F.col("__a") * F.col("__a")).alias("__naa"),
        _ds12(F.col("__b") * F.col("__b")).alias("__nbb"),
        _ds12((F.col("__a") - F.col("__b")) * (F.col("__a") - F.col("__b"))).alias("__sh2"),
    )
    return agg.select(
        "label",
        "n_a",
        "n_b",
        rd(
            F.col("__dot") / (F.sqrt(F.col("__naa")) * F.sqrt(F.col("__nbb"))), 6
        ).alias("centroid_cosine"),
        rd(F.sqrt(F.col("__sh2")), 6).alias("l2_shift"),
    )


@register(
    "emb_simplified_silhouette",
    f"""
    WITH ex AS (
      SELECT vec_id, label, u['i'] - 1 AS i, CAST(u['v'] AS DOUBLE) AS x
      FROM (SELECT vec_id, label,
                   unnest(list_transform(embedding, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM embeddings)
    ),
    cen AS (
      SELECT label AS clabel, i,
             {R("CAST(sum(CAST(" + R("x", 9) + " AS DECIMAL(38,9)))"
                " AS DOUBLE) / count(*)", 9)} AS m
      FROM ex GROUP BY label, i
    ),
    d2 AS (
      SELECT e.vec_id, e.label, c.clabel,
             CAST(sum(CAST({R("(e.x - c.m) * (e.x - c.m)", 9)}
                  AS DECIMAL(38,9))) AS DOUBLE) AS dd
      FROM ex e JOIN cen c ON c.i = e.i
      GROUP BY e.vec_id, e.label, c.clabel
    ),
    ab AS (
      SELECT vec_id, label,
             max(CASE WHEN clabel = label
                      THEN {R("sqrt(dd)", 9)} END) AS a,
             min(CASE WHEN clabel <> label
                      THEN {R("sqrt(dd)", 9)} END) AS b
      FROM d2 GROUP BY vec_id, label
    ),
    s AS (
      SELECT label, a, b,
             CASE WHEN greatest(a, b) > 0.0
                  THEN {R("(b - a) / greatest(a, b)", 9)}
                  ELSE 0.0 END AS sil
      FROM ab
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           {R("CAST(sum(CAST(a AS DECIMAL(38,9))) AS DOUBLE)"
              " / count(*)", 6)} AS mean_intra,
           {R("CAST(sum(CAST(b AS DECIMAL(38,9))) AS DOUBLE)"
              " / count(*)", 6)} AS mean_nearest_other,
           {R("CAST(sum(CAST(sil AS DECIMAL(38,9))) AS DOUBLE)"
              " / count(*)", 6)} AS mean_silhouette
    FROM s GROUP BY label
    """,
)
def _q_emb_simplified_silhouette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SIMPLIFIED SILHOUETTE per label — the cluster-quality score a
    team reads before trusting label-conditioned sampling or
    per-label ANN routing: a = distance to OWN label centroid, b =
    distance to the NEAREST other centroid, s = (b−a)/max(a,b)
    averaged per label (s → 1 separated, → 0 overlapping, < 0
    misassigned). The simplified (centroid) form replaces classic
    silhouette's O(n²) pairwise distances with O(n·k) centroid
    distances — the only formulation that survives 10⁹ vectors, and
    the standard large-scale substitute (same ordering, bounded
    bias). Plan: decimal-exact per-(label, dim) centroids
    (`emb_mean_pool_by_label` pattern, 640 bounded rows) BROADCAST
    back onto one exploded scan; per-(vector, centroid) squared
    distances accumulate rd-9 decimal terms (order-independent in
    both engines); sqrt is IEEE-exact. Vectors never pairwise-join,
    never shuffle whole."""
    emb = _table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "__xf")
    ).select("vec_id", "label", "i", F.col("__xf").cast("double").alias("x"))
    cen = ex.groupBy(F.col("label").alias("clabel"), "i").agg(
        rd(
            F.sum(rd(F.col("x"), 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("m")
    )
    term = rd((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")), 9)
    d2 = (
        ex.join(F.broadcast(cen), "i")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(term.cast("decimal(38,9)")).cast("double").alias("dd"))
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), rd(F.sqrt("dd"), 9))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), rd(F.sqrt("dd"), 9))
        ).alias("b"),
    )
    sil = F.when(
        F.greatest(F.col("a"), F.col("b")) > 0.0,
        rd(
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b")),
            9,
        ),
    ).otherwise(F.lit(0.0))
    s = ab.select("label", "a", "b", sil.alias("sil"))

    def dmean(c):
        return rd(
            F.sum(F.col(c).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )

    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        dmean("a").alias("mean_intra"),
        dmean("b").alias("mean_nearest_other"),
        dmean("sil").alias("mean_silhouette"),
    )
