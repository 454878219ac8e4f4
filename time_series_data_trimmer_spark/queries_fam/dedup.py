"""Dedup-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "dedup_exact_groups",
    """
    SELECT md5(text) AS content_key, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_groups(_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH shingled AS ({_SH_SQL}),
    base AS (
      SELECT s.doc_id, s.grams, length(d.text) // 64 AS bucket
      FROM shingled s JOIN documents d USING (doc_id)
    ),
    cand AS (
      -- NULL text => NULL bucket => ONE NULL block row (mirrors the
      -- Spark side's array_distinct([NULL, NULL]); list_distinct would
      -- DROP the NULL, so the CASE keeps it explicitly)
      SELECT doc_id, grams,
             unnest(CASE WHEN bucket IS NULL THEN [CAST(NULL AS BIGINT)]
                    ELSE [bucket, bucket + 1] END) AS blk
      FROM base
    ),
    capped AS (
      SELECT doc_id, grams, blk FROM cand
      QUALIFY row_number() OVER (PARTITION BY blk ORDER BY doc_id) <= {dd.DEFAULT_MAX_BUCKET}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.grams, b.grams)) AS i,
             len(list_distinct(list_concat(a.grams, b.grams))) AS u
      FROM capped a JOIN capped b ON a.blk IS NOT DISTINCT FROM b.blk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
    FROM pairs WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.2
    """,
)
def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary form now runs the DEFAULT (bounded) blocking: every
    length block capped at dedup.DEFAULT_MAX_BUCKET docs, reproduced
    in SQL with the same QUALIFY cap — the unbounded variant is no
    longer registered anywhere (it remains callable with
    max_bucket=None as a small-corpus verification path)."""
    return dd.ngram_jaccard_pairs(_table(spark, sf_dir, "documents"), min_jaccard=0.2)


@register(
    "dedup_ngram_jaccard_capped",
    f"""
    WITH shingled AS ({_SH_SQL}),
    base AS (
      SELECT s.doc_id, s.grams, length(d.text) // 64 AS bucket
      FROM shingled s JOIN documents d USING (doc_id)
    ),
    cand AS (
      -- NULL text => NULL bucket => ONE NULL block row (mirrors the
      -- Spark side's array_distinct([NULL, NULL]); list_distinct would
      -- DROP the NULL, so the CASE keeps it explicitly)
      SELECT doc_id, grams,
             unnest(CASE WHEN bucket IS NULL THEN [CAST(NULL AS BIGINT)]
                    ELSE [bucket, bucket + 1] END) AS blk
      FROM base
    ),
    capped AS (
      SELECT doc_id, grams, blk FROM cand
      QUALIFY row_number() OVER (PARTITION BY blk ORDER BY doc_id) <= 40
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.grams, b.grams)) AS i,
             len(list_distinct(list_concat(a.grams, b.grams))) AS u
      FROM capped a JOIN capped b ON a.blk IS NOT DISTINCT FROM b.blk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
    FROM pairs WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= 0.2
    """,
)
def _q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-bucket production variant through the gate: each
    length block truncated to its first 40 docs by id (deterministic),
    reproduced in SQL with the same QUALIFY cap — proves the skew guard
    changes candidate sets identically in both engines."""
    return dd.ngram_jaccard_pairs(
        _table(spark, sf_dir, "documents"), min_jaccard=0.2, max_bucket=40
    )


@register(
    "dedup_ngram_jaccard_prefix",
    f"""
    WITH sub AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(generate_series(1, len(w) - 2),
                                   i -> array_to_string(list_slice(w, i, i + 2), ' '))
               ELSE [array_to_string(w, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sub)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.grams, b.grams)) AS i,
             len(list_distinct(list_concat(a.grams, b.grams))) AS u
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
    FROM pairs WHERE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) >= {_PREFIX_TAU}
    """,
)
def _q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT τ-Jaccard join via PPJoin-style prefix filtering: the
    oracle is plain BRUTE FORCE over all pairs — prefix filtering has
    zero false negatives, so the blocked Spark plan must reproduce the
    exhaustive answer verbatim. Restricted to half the corpus (doc_id
    parity — keeps cross-source near-dups, unlike a source filter) so
    the quadratic oracle stays cheap; the Spark side scales by
    blocking on each doc's rarest grams (candidate volume tracks
    rare-gram df², not corpus size)."""
    docs = _table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return dd.ngram_jaccard_prefix_pairs(docs, min_jaccard=_PREFIX_TAU)


@register(
    "dedup_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (SELECT doc_id, {_SIMHASH_BITS_SQL} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {_SIMHASH_FP_SQL} AS simhash FROM bits
    """,
)
def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (SELECT doc_id, {_SIMHASH_BITS_SQL} FROM hashed GROUP BY doc_id),
    fp AS (SELECT doc_id, {_SIMHASH_FP_SQL} AS simhash FROM bits),
    ck AS (
      SELECT doc_id, simhash, cb.combo_id, {_SIMHASH_KEY_SQL} AS cv
      FROM fp, (VALUES {_SIMHASH_COMBO_VALUES}) cb(combo_id, {_SIMHASH_COMBO_COLS})
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS ha, b.simhash AS hb
      FROM ck a JOIN ck b
        ON a.combo_id = b.combo_id AND a.cv = b.cv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-blocked SimHash near-dup pairs with the N-adaptive
    combinatorial layout (m=6 chunks × 10 bits, C(6,3)=20 subsets →
    30-bit keys: bucket size N/2^30 instead of the old fixed layout's
    N/2^15). The oracle replicates fingerprint + the SAME combo table
    + Hamming filter in SQL (bit ops are engine-portable, the hash
    family is md5-only)."""
    fp = dd.simhash(_table(spark, sf_dir, "documents"))
    out = dd.simhash_pairs(fp, max_hamming=3, n_chunks=_SIMHASH_M)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION
      SELECT id_b AS src, id_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
    )
    SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    """,
)
def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the minhash-LSH candidate pairs: every
    document labeled with the min id reachable through the pair graph
    (iterative min-label propagation; the oracle computes the same
    fixpoint with a recursive CTE). Singletons keep their own id."""
    docs = _table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs)
    return dd.connected_components(pairs, all_ids=docs.select("doc_id"))


@register(
    "dedup_incremental_batch",
    """
    WITH seen AS (
      SELECT DISTINCT coalesce(md5(text), '<NULL>') AS d FROM documents WHERE doc_id % 3 = 0
    ),
    batch AS (
      SELECT doc_id, coalesce(md5(text), '<NULL>') AS digest FROM documents WHERE doc_id % 3 <> 0
    ),
    fresh AS (
      SELECT b.* FROM batch b WHERE NOT EXISTS (
        SELECT 1 FROM seen s WHERE s.d = b.digest
      )
    )
    SELECT digest, min(doc_id) AS keep_id, count(*) AS batch_dups
    FROM fresh GROUP BY digest
    """,
)
def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new batch (docs with doc_id % 3 ≠ 0)
    deduped against the already-ingested corpus (digests of the % 3 = 0
    docs) — digest anti-join + within-batch survivor pick. The
    daily-increment path: the alternative (re-running exact dedup over
    corpus+batch) rescans the full history every day."""
    docs = _table(spark, sf_dir, "documents")
    # sentinel-coalesce to match both the oracle's seen CTE and
    # dedup_incremental's batch-digest convention: with NULL-text docs in
    # the history, bare md5(text) (NULL) would never anti-join-suppress
    # the batch's '<NULL>' digests (r4 advisor finding).
    seen = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.coalesce(F.md5("text"), F.lit("<NULL>")).alias("d"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return dd.dedup_incremental(batch, seen)


@register(
    "dedup_incremental_multi",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 3 AS b,
             coalesce(md5(text), '<NULL>') AS digest
      FROM documents
    ),
    fb AS (SELECT digest, min(b) AS batch_id FROM d GROUP BY digest)
    SELECT d.digest, min(d.doc_id) AS keep_id,
           count(*) AS batch_dups, CAST(f.batch_id AS INT) AS batch_id
    FROM d JOIN fb f ON d.digest = f.digest AND d.b = f.batch_id
    GROUP BY d.digest, f.batch_id
    """,
)
def _q_dedup_incremental_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup PRODUCTION LOOP (r5): three sequential
    batches (doc_id % 3) applied against a hash-bucketed digest-history
    table via `incremental_dedup_batches` — each batch anti-joins the
    bucketed history (history side shuffle-free) and appends its
    survivors. The oracle states the loop's fixed point directly: a
    digest survives in the EARLIEST batch containing it, with that
    batch's min id and dup count — which is what N anti-join steps
    converge to regardless of N (associativity; the 3-batch == one-shot
    equivalence is pinned in tests/test_asof_incremental.py)."""
    import shutil
    import uuid

    docs = _table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    table = f"tsdt_hist_{uuid.uuid4().hex[:8]}"
    try:
        out = dd.incremental_dedup_batches(spark, batches, history_table=table)
        rows = out.collect()
        result = spark.createDataFrame(rows, out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(
            os.path.join(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
                         .removeprefix("file:"), table),
            ignore_errors=True,
        )
    return result


@register(
    "dedup_embedding_topk_pairs",
    f"""
    WITH ex AS ({_EX_SQL}),
    planes AS (
      SELECT t.t, b.b, i.i,
             ('0x' || substr(md5('tsdt|t' || t.t || '|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {_EMB_TABLES - 1}) t(t),
           generate_series(0, {_EMB_BITS - 1}) b(b),
           generate_series(0, {_EMB_DIM - 1}) i(i)
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
    pairdots AS (
      SELECT c.id_a, c.id_b,
             sum(CAST({sql_rd("ea.x * eb.x", 9)} AS DECIMAL(38,9))) AS dxy
      FROM cand c
      JOIN ex ea ON ea.vec_id = c.id_a
      JOIN ex eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      GROUP BY c.id_a, c.id_b
    ),
    norms AS (
      SELECT vec_id, sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    )
    SELECT id_a, id_b,
           {R("CAST(dxy AS DOUBLE) / (na.nrm * nb.nrm)", 6)} AS cosine
    FROM pairdots
    JOIN norms na ON na.vec_id = id_a
    JOIN norms nb ON nb.vec_id = id_b
    ORDER BY CAST(dxy AS DOUBLE) / (na.nrm * nb.nrm) DESC, id_a ASC, id_b ASC
    LIMIT 20
    """,
)
def _q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup pairs (production path). The oracle SQL
    replicates the SAME deterministic blocking (md5-derived planes,
    decimal-exact dot signs), so the gate verifies the full blocked
    algorithm against an independent engine — same approach as
    dedup_minhash_lsh_pairs. The all-pairs exact path remains available
    as sim.topk_similar_pairs for recall measurement."""
    out = sim.topk_similar_pairs_blocked(
        _table(spark, sf_dir, "embeddings"), k=20, bits=_EMB_BITS,
        tables=_EMB_TABLES, dim=_EMB_DIM,
    )
    return out.select("id_a", "id_b", rd(F.col("cosine"), 6).alias("cosine"))


@register("dedup_decontaminate_vs_heldout", _DECONTAM_SQL)
def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage scan (`dd.decontaminate`): train docs (source
    != src0) sharing any distinct word 4-gram with the held-out set
    (source == src0) are flagged with their shared-gram count — the
    decontamination pass every LLM training pipeline runs. Both sides
    shingle scan-side and join on md5 DIGESTS (narrow keys, nothing
    broadcast, linear in gram volume)."""
    docs = _table(spark, sf_dir, "documents")
    return dd.decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=4,
        min_shared=1,
    )


@register("decontam_bloom_prefilter", _DECONTAM_SQL)
def _q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_decontaminate_vs_heldout` behind a Bloom membership
    prefilter (`dd.decontaminate_bloom`): the held-out gram digests
    fold into an m=2^20-bit filter (<= m/64 longs, broadcast once);
    every train gram tests its k=4 md5 probe bits MAP-SIDE and only
    candidates enter the exact digest join — the train gram stream,
    the expensive side at 100 TB, stops shuffling. Zero false
    negatives by construction; false positives die in the exact join.
    The oracle is IDENTICAL to the plain decontamination query —
    result equality is the operator's claim (same pattern as
    `text_heavy_hitters_by_source`)."""
    docs = _table(spark, sf_dir, "documents")
    return dd.decontaminate_bloom(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=4,
        min_shared=1,
    )


@register(
    "dedup_duplicate_spans",
    f"""
    WITH {_span_grams_sql(_SPAN_K)},
    {_SPAN_ISLANDS_SQL}
    SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
           max(e) - min(s) + 1 AS n_tokens
    FROM islands GROUP BY doc_id, island
    """,
)
def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate detection (`dd.duplicate_spans`): the
    dedup granularity doc-level passes miss — k-token spans repeated
    ACROSS documents (license headers, boilerplate, quoted passages),
    merged into maximal per-doc islands. Linear plan: positional gram
    digests scan-side, one distinct-doc count per digest, one
    shuffle-hash rehydration join, per-doc keyed window merge."""
    return dd.duplicate_spans(_table(spark, sf_dir, "documents"), k=_SPAN_K)


@register(
    "dedup_span_stats_by_source",
    f"""
    WITH {_span_grams_sql(_SPAN_K)},
    {_SPAN_ISLANDS_SQL},
    spans AS (
      SELECT doc_id, max(e) - min(s) + 1 AS n_tokens
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (SELECT doc_id, sum(n_tokens) AS dup_tokens FROM spans GROUP BY doc_id),
    tok AS (
      SELECT d.source, d.doc_id,
             CASE WHEN d.text IS NOT NULL
                  THEN len(string_split(trim(d.text), ' ')) ELSE 0 END AS n_tok,
             coalesce(p.dup_tokens, 0) AS dup_tokens
      FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    )
    SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(dup_tokens) AS BIGINT) AS dup_span_tokens,
           {R("CAST(sum(dup_tokens) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)", 6)} AS dup_fraction
    FROM tok GROUP BY source
    """,
)
def _q_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-token budget (`dd.duplicate_span_stats`):
    the corpus-health metric that decides whether a span-removal
    rewrite pass pays for itself. Algebraic aggregations only on top
    of the span plan; exact integer token counts, fraction rounded
    with the shared floor formula."""
    return dd.duplicate_span_stats(_table(spark, sf_dir, "documents"), k=_SPAN_K)


@register(
    "dedup_span_removal",
    f"""
    WITH {_span_grams_sql(_SPAN_K)},
    owners AS (
      SELECT gd, min(doc_id) AS owner FROM grams
      GROUP BY gd HAVING count(distinct doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, u.t
      FROM grams g JOIN owners o ON o.gd = g.gd AND o.owner <> g.doc_id,
           unnest(generate_series(g.pos, g.pos + {_SPAN_K - 1})) AS u(t)
    ),
    affected AS (SELECT DISTINCT doc_id FROM covered),
    aff_tok AS (
      SELECT p.doc_id, generate_subscripts(p.w, 1) AS t, unnest(p.w) AS tok
      FROM (SELECT t2.doc_id, t2.w FROM toks t2
            JOIN affected a ON a.doc_id = t2.doc_id) p
    ),
    kept AS (
      SELECT a.doc_id, a.t, a.tok FROM aff_tok a
      ANTI JOIN covered c ON c.doc_id = a.doc_id AND c.t = a.t
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY t) AS new_text
      FROM kept GROUP BY doc_id
    ),
    rebuilt_all AS (
      SELECT a.doc_id AS rid, coalesce(r.new_text, '') AS new_text
      FROM affected a LEFT JOIN rebuilt r ON r.doc_id = a.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN ra.rid IS NOT NULL THEN ra.new_text ELSE d.text END AS text
    FROM documents d LEFT JOIN rebuilt_all ra ON ra.rid = d.doc_id
    """,
)
def _q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup REWRITE (`dd.remove_duplicate_spans`): each
    duplicate gram's lowest-id document owns it; every other document
    drops the covered tokens — the Lee-et-al. remove-all-but-one
    contract, made deterministic and append-stable by min-id
    ownership. The token-level explode touches AFFECTED docs only;
    untouched docs pass through as a column copy."""
    return dd.remove_duplicate_spans(_table(spark, sf_dir, "documents"), k=_SPAN_K)


@register(
    "dedup_embedding_clusters",
    f"""
    WITH RECURSIVE ex AS ({_EX_SQL}),
    planes AS (
      SELECT t.t, b.b, i.i,
             ('0x' || substr(md5('tsdt|t' || t.t || '|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {_EMB_TABLES - 1}) t(t),
           generate_series(0, {_EMB_BITS - 1}) b(b),
           generate_series(0, {_EMB_DIM - 1}) i(i)
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
    pairdots AS (
      SELECT c.id_a, c.id_b,
             sum(CAST({sql_rd("ea.x * eb.x", 9)} AS DECIMAL(38,9))) AS dxy
      FROM cand c
      JOIN ex ea ON ea.vec_id = c.id_a
      JOIN ex eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      GROUP BY c.id_a, c.id_b
    ),
    norms AS (
      SELECT vec_id, sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    edges AS (
      SELECT id_a, id_b FROM pairdots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE CAST(dxy AS DOUBLE) / (na.nrm * nb.nrm) >= {_EMB_CLUSTER_TAU}
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION
      SELECT id_b AS src, id_a AS dst FROM edges
    ),
    reach(src, dst) AS (
      SELECT vec_id AS src, vec_id AS dst FROM embeddings
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
    )
    SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src
    """,
)
def _q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clusters: LSH-blocked candidate pairs with exact
    cosine >= τ (`sim.threshold_similar_pairs_blocked` — no top-k cap,
    the full thresholded edge set) fed into the same min-label
    connected components as the text-dedup path
    (`dd.connected_components`). The embedding-space analogue of
    `dedup_clusters`; oracle computes the identical fixpoint with a
    recursive CTE over the identically-blocked edge set."""
    emb = _table(spark, sf_dir, "embeddings")
    pairs = sim.threshold_similar_pairs_blocked(
        emb, tau=_EMB_CLUSTER_TAU, bits=_EMB_BITS, tables=_EMB_TABLES, dim=_EMB_DIM
    )
    out = dd.connected_components(
        pairs.select("id_a", "id_b"), all_ids=emb.select("vec_id"), id_col="vec_id"
    )
    return out.select("vec_id", "cluster_id")


@register(
    "dedup_semantic",
    f"""
    WITH {_SEMDEDUP_CTE_SQL},
    dropped AS (
      SELECT DISTINCT p.id_b AS vec_id
      FROM pdots p
      JOIN norms na ON na.vec_id = p.id_a
      JOIN norms nb ON nb.vec_id = p.id_b
      WHERE CAST(p.dxy AS DOUBLE) / (na.nrm * nb.nrm) >= {_SEMDEDUP_TAU}
    )
    SELECT a.vec_id, CAST(a.cid AS INT) AS centroid_id
    FROM assigned a
    WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) survivor set
    (`sim.semdedup_survivors`): coarse IVF cells as the blocking
    structure, exact decimal cosine >= tau within each cell, greedy
    min-id survivor per near-dup neighborhood. The embedding-space
    complement to `dedup_embedding_clusters` (LSH-blocked CC): the
    cell structure here is the SAME index `sim_ivf_*` search uses, so
    one clustering pays for dedup AND retrieval. The oracle replays
    the identical deterministic centroid pick (md5-order sample),
    decimal-exact assignment argmin, within-cell pair dots, and the
    NOT-IN drop rule.

    The cell count is N-ADAPTIVE (k = max(16, ceil(sqrt(N))), derived
    from a deterministic parquet-metadata count and replayed by the
    oracle's `kk` CTE) — the registered/benched form IS the scale
    path. r6's fixed k=16 form measured 28.8x at 10x data (quadratic
    pair volume); see `_semdedup_k` and SCALING.md §r7."""
    emb = _table(spark, sf_dir, "embeddings")
    k = _semdedup_k(emb.count())
    return sim.semdedup_survivors(
        emb, tau=_SEMDEDUP_TAU, n_centroids=k
    ).select("vec_id", F.col("centroid_id").cast("int").alias("centroid_id"))


@register(
    "decontam_overlap_frac",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE source <> 'src0' AND text IS NOT NULL
    ),
    tg AS (
      SELECT doc_id, md5(g) AS gd FROM (
        SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) - 3 >= 1
          THEN list_transform(generate_series(1, len(w) - 3),
                              i -> array_to_string(w[i:i+3], ' '))
          ELSE [array_to_string(w, ' ')] END)) AS g
        FROM t)
    ),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id),
    h AS (
      SELECT DISTINCT md5(g) AS gd FROM (
        SELECT unnest(list_distinct(CASE WHEN len(w) - 3 >= 1
          THEN list_transform(generate_series(1, len(w) - 3),
                              i -> array_to_string(w[i:i+3], ' '))
          ELSE [array_to_string(w, ' ')] END)) AS g
        FROM (SELECT string_split(text, ' ') AS w FROM documents
              WHERE source = 'src0' AND text IS NOT NULL))
    ),
    hit AS (
      SELECT tg.doc_id, count(*) AS n_shared
      FROM tg JOIN h USING (gd) GROUP BY tg.doc_id
    )
    SELECT tot.doc_id, tot.n_grams,
           coalesce(hit.n_shared, 0) AS n_shared,
           {R("CAST(coalesce(hit.n_shared, 0) AS DOUBLE) / CAST(tot.n_grams AS DOUBLE)", 9)} AS contamination_frac
    FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
    """,
)
def _q_decontam_overlap_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination scoring (`dd.contamination_fraction`): for
    every train doc (source != src0), the FRACTION of its distinct
    word 4-grams found anywhere in the held-out set (source == src0) —
    the tunable complement of the hard-threshold
    `dedup_decontaminate_vs_heldout` flag. Digest-only joins, total
    output (zero-hit docs score 0.0)."""
    docs = _table(spark, sf_dir, "documents")
    return dd.contamination_fraction(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=4,
    )


@register(
    "dedup_fuzzy_prefix_pairs",
    """
    WITH raw AS (
      SELECT doc_id,
             substr(norm, 1, 32) AS p,
             string_split(norm, ' ')[1] AS blk
      FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        FROM documents WHERE text IS NOT NULL
      )
      WHERE len(string_split(norm, ' ')[1]) > 0
    ),
    base AS (
      SELECT doc_id, p, blk FROM (
        SELECT *, row_number() OVER (PARTITION BY blk ORDER BY doc_id ASC) AS rn
        FROM raw
      ) WHERE rn <= 200
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.p, b.p) AS INT) AS edit_dist
    FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p, b.p) <= 5
    """,
)
def _q_fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (`dd.fuzzy_prefix_pairs`): docs
    sharing their first normalized token whose 32-char normalized
    prefixes are within Levenshtein 5 — the typo/OCR-noise dup class
    that digest equality and shingle Jaccard both miss (one character
    edit changes every containing shingle). The DP runs only on
    blocked candidates over bounded prefixes; Spark and DuckDB
    implement the identical integer DP, so pairs are oracle-exact."""
    out = dd.fuzzy_prefix_pairs(
        _table(spark, sf_dir, "documents"), prefix_len=32, max_dist=5
    )
    return out.select(
        "id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist")
    )


@register(
    "dedup_sorted_neighborhood_pairs",
    """
    WITH base AS (
      SELECT doc_id,
             substr(norm, 1, 32) AS p,
             substr(norm, 1, 4) AS blk
      FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        FROM documents WHERE text IS NOT NULL
      )
      WHERE len(substr(norm, 1, 4)) > 0
    ),
    lagged AS (
      SELECT doc_id AS id_b, p AS pb,
             lag(doc_id, 1) OVER w AS id1, lag(p, 1) OVER w AS pp1,
             lag(doc_id, 2) OVER w AS id2, lag(p, 2) OVER w AS pp2,
             lag(doc_id, 3) OVER w AS id3, lag(p, 3) OVER w AS pp3
      FROM base WINDOW w AS (PARTITION BY blk ORDER BY p ASC, doc_id ASC)
    ),
    pairs AS (
      SELECT id_b, pb, id1 AS id_a, pp1 AS pa FROM lagged WHERE id1 IS NOT NULL
      UNION ALL
      SELECT id_b, pb, id2 AS id_a, pp2 AS pa FROM lagged WHERE id2 IS NOT NULL
      UNION ALL
      SELECT id_b, pb, id3 AS id_a, pp3 AS pa FROM lagged WHERE id3 IS NOT NULL
    )
    SELECT least(id_a, id_b) AS id_a,
           greatest(id_a, id_b) AS id_b,
           CAST(levenshtein(pa, pb) AS INT) AS edit_dist
    FROM pairs
    WHERE levenshtein(pa, pb) <= 5
    """,
)
def _q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs
    (`dd.sorted_neighborhood_pairs`, Hernandez & Stolfo 1995):
    per-block sort by normalized prefix, compare each record only to
    its 3 predecessors — LINEAR N*w compare volume, never quadratic by
    construction (the structural alternative to `dedup_fuzzy_prefix_pairs`'
    capped block self-join). One keyed window pass + scan-side stack;
    no self-join anywhere in the plan."""
    out = dd.sorted_neighborhood_pairs(
        _table(spark, sf_dir, "documents"), window=3, prefix_len=32, max_dist=5
    )
    return out.select(
        "id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist")
    )


@register(
    "dedup_linkage_scores",
    f"""
    WITH {_LINKAGE_SCORED_SQL}
    SELECT id_a, id_b, edit_dist, CAST(score AS INT) AS score,
           CASE WHEN score >= 8 THEN 'match'
                WHEN score >= 0 THEN 'possible'
                ELSE 'nonmatch' END AS link_class
    FROM scored
    """,
)
def _q_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter-style record-linkage scoring
    (`dd.linkage_scores`): sorted-neighborhood candidates (linear N·w,
    no self-join) scored by fixed integer field weights (lang, source,
    size band, prefix edit distance) into match / possible / nonmatch
    — the three-way decision rule of the classic model with
    engine-portable arithmetic (EM-fitted weights are not
    deterministic; production linkage configures them, as here). Two
    narrow shuffle-hash joins pull the comparison fields; cost is
    linear in candidates at any scale."""
    return dd.linkage_scores(_table(spark, sf_dir, "documents"))


@register(
    "dedup_lsh_eval_report",
    f"""
    WITH sub AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(generate_series(1, len(w) - 2),
                                   i -> array_to_string(list_slice(w, i, i + 2), ' '))
               ELSE [array_to_string(w, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM sub)
    ),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    pred AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    {_EVAL_TRUTH_TAIL_SQL}
    """,
)
def _q_dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED quality of the MinHash-LSH candidate generator against
    exact τ-Jaccard ground truth (the PPJoin exact path), at two
    relevance bars straddling the banding S-curve threshold
    ((1/b)^(1/r) ≈ 0.5 for 4 bands × 2 rows): per τ, exact
    TP/FP/FN counts, precision, recall. This is the eval that decides
    band geometry before anyone trusts LSH output at 100 TB — recall
    at τ=0.5 should be high (pairs at the S-curve knee), recall at
    τ=0.2 quantifies what the curve's tail forfeits. Truth comes from
    the zero-false-negative prefix join; both pair sets live on the
    doc-parity half corpus (the prefix query's own cost policy); the
    eval joins are (id, id)-keyed over bounded pair sets. The oracle
    replays BOTH generators brute-force."""
    sub = _table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    pred = dd.minhash_lsh_pairs(sub).select("id_a", "id_b")
    return _candidate_eval_frame(sub, pred)


@register(
    "dedup_simhash_eval_report",
    f"""
    WITH sub AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM sub
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (SELECT doc_id, {_SIMHASH_BITS_SQL} FROM hashed GROUP BY doc_id),
    fp AS (SELECT doc_id, {_SIMHASH_FP_SQL} AS simhash FROM bits),
    ck AS (
      SELECT doc_id, simhash, cb.combo_id, {_SIMHASH_KEY_SQL} AS cv
      FROM fp, (VALUES {_SIMHASH_COMBO_VALUES}) cb(combo_id, {_SIMHASH_COMBO_COLS})
    ),
    pred AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ck a JOIN ck b
        ON a.combo_id = b.combo_id AND a.cv = b.cv AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    {_EVAL_TRUTH_TAIL_SQL}
    """,
)
def _q_dedup_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED quality of the SimHash hamming<=3 candidate generator
    against the SAME exact tau-Jaccard ground truth and SAME parity-half
    corpus as `dedup_lsh_eval_report` — together the two reports are the
    generator-selection matrix (precision/recall per tau, directly
    comparable cell-for-cell): SimHash targets cosine-of-token-counts,
    so its recall at Jaccard tau quantifies exactly what switching
    generators trades away. Shared `_candidate_eval_frame` engine;
    the oracle replays fingerprint + combinatorial blocking + hamming
    filter brute-force."""
    sub = _table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    fp = dd.simhash(sub)
    pred = dd.simhash_pairs(fp, max_hamming=3, n_chunks=_SIMHASH_M).select(
        "id_a", "id_b"
    )
    return _candidate_eval_frame(sub, pred)


@register(
    "dedup_lsh_band_sweep",
    f"""
    WITH shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL})
    {" UNION ALL ".join(
        f"SELECT {b} AS n_bands, {r} AS rows_per_band, "
        f"CAST({t} AS DOUBLE) AS s_curve_tau, "
        f"CAST(({_sql_band_pairs(b, r)}) AS BIGINT) AS n_candidate_pairs"
        for b, r, t in _LSH_GEOMETRIES
    )}
    """,
)
def _q_dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-geometry OPERATING POINTS for the MinHash-LSH generator:
    from ONE 8-hash signature pass, the distinct candidate-pair volume
    of (8 bands × 1 row), (4 × 2) and (2 × 4) — the capacity-planning
    sweep run before committing a banding to a 100 TB dedup (more
    bands/shorter rows = lower S-curve threshold = more candidates;
    the S-curve knee (1/b)^(1/r) is printed beside each count, as a
    shared Python literal because libm pow is 1-ulp engine-specific).
    `dedup_lsh_eval_report` measures precision/recall AT the chosen
    point; this sweep prices the alternatives WITHOUT paying three
    exact-truth evaluations. Signatures compute once (lazy
    localCheckpoint — the pack-offsets pattern); each geometry is a
    bucketed (band, key) equi-join over bounded buckets."""
    sigs = dd.minhash_signatures(
        _table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    rows = []
    for b, r, t in _LSH_GEOMETRIES:
        keys = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    "|",
                                    *[
                                        F.col("sig")[band * r + k]
                                        for k in range(r)
                                    ],
                                )
                            ).alias("key"),
                        )
                        for band in range(b)
                    ]
                )
            ).alias("__bk"),
        ).select(
            "doc_id",
            F.col("__bk.band").alias("band"),
            F.col("__bk.key").alias("key"),
        )
        a = keys.select(
            F.col("doc_id").alias("id_a"), "band", "key"
        )
        bb = keys.select(
            F.col("doc_id").alias("id_b"), "band", "key"
        )
        pairs = (
            a.join(bb.hint("shuffle_hash"), ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        rows.append(
            pairs.agg(
                F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
            ).select(
                F.lit(b).cast("int").alias("n_bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(float(t)).alias("s_curve_tau"),
                "n_candidate_pairs",
            )
        )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out


@register(
    "dedup_containment_pairs",
    f"""
    WITH shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    m AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(a.grams, b.grams)) AS inter,
             len(a.grams) AS n_a, len(b.grams) AS n_b
      FROM cand c
      JOIN shingled a ON a.doc_id = c.id_a
      JOIN shingled b ON b.doc_id = c.id_b
    ),
    s AS (
      SELECT id_a, id_b,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(inter AS BIGINT) AS n_common,
             {R("CAST(inter AS DOUBLE) / (n_a + n_b - inter)", 6)} AS jaccard,
             {R("CAST(inter AS DOUBLE) / least(n_a, n_b)", 6)} AS containment
      FROM m
    )
    SELECT *,
           CAST(CASE WHEN containment >= 0.6 AND jaccard < 0.5
                THEN 1 ELSE 0 END AS INTEGER) AS excerpt_flag
    FROM s WHERE containment >= 0.6
    """,
)
def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment over the LSH candidate set
    (`dd.ngram_containment_pairs`): the excerpt/quote near-dup class
    symmetric Jaccard misses — a short doc embedded in a long one has
    containment ≈ 1 while Jaccard stays under every dedup threshold.
    `excerpt_flag` marks pairs ONLY this operator catches. The oracle
    replays candidates and exact set arithmetic brute-force."""
    return dd.ngram_containment_pairs(
        _table(spark, sf_dir, "documents"), min_containment=0.6
    )


@register(
    "dedup_impact_by_source",
    f"""
    WITH RECURSIVE shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION
      SELECT id_b AS src, id_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
    ),
    cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    tok AS (
      SELECT doc_id, source, CAST({_SQL_NTOK} AS BIGINT) AS t FROM documents
    ),
    ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    base AS (
      SELECT source, count(*) AS n_docs, sum(t) AS n_tokens
      FROM tok GROUP BY source
    ),
    e AS (
      SELECT source, count(*) AS n_docs_exact, sum(t) AS n_tokens_exact
      FROM tok JOIN ex USING (doc_id) GROUP BY source
    ),
    nr AS (
      SELECT source, count(*) AS n_docs_near, sum(t) AS n_tokens_near
      FROM tok JOIN cl ON cl.doc_id = tok.doc_id
                      AND cl.doc_id = cl.cluster_id
      GROUP BY source
    )
    SELECT b.source,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(e.n_docs_exact, 0) AS BIGINT) AS n_docs_exact,
           CAST(coalesce(e.n_tokens_exact, 0) AS BIGINT) AS n_tokens_exact,
           CAST(coalesce(nr.n_docs_near, 0) AS BIGINT) AS n_docs_near,
           CAST(coalesce(nr.n_tokens_near, 0) AS BIGINT) AS n_tokens_near,
           {R("1.0 - CAST(coalesce(nr.n_tokens_near, 0) AS DOUBLE)"
              " / b.n_tokens", 6)} AS pct_tokens_removed_near
    FROM base b
    LEFT JOIN e USING (source)
    LEFT JOIN nr USING (source)
    """,
)
def _q_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT DEDUP COSTS EACH SOURCE — the before/after report a mix
    owner reads before re-weighting: per source, doc and token counts
    raw, after exact dedup (min-id per md5 digest), and after near-dup
    clustering (connected components over the LSH candidate graph,
    survivors = cluster representatives). A source whose token mass
    halves under near-dedup was padding the mix with near-copies; the
    mix weights must be recomputed AFTER this table, not before
    (`mix_token_budget_per_source` consumes exactly these counts).
    Composition of proven pieces: exact groups (digest shuffle), LSH
    pairs (bucketed), min-label CC (bounded rounds, localCheckpoint),
    three per-source aggregations joined on the tiny source key. The
    oracle replays CC with a recursive CTE (the dedup_clusters
    precedent)."""
    docs = _table(spark, sf_dir, "documents")
    # r13 (guide §2.3): ONE tokenize scan + ONE source-keyed
    # aggregation with survivor flags attached by two left joins,
    # replacing three independent tokenize scans + three shuffles +
    # a 3-way re-join (the `dedup_report_suite` §2 restructure applied
    # to the standalone query). Conditional sums over 0/1 flags ≡ the
    # old per-survivor-set aggs; sources with no survivors read 0
    # either way.
    tok = docs.select(
        "doc_id", "source", tx.token_count(F.col("text")).cast("long").alias("__t")
    )
    keep_exact = dd.exact_dedup_groups(docs).select(
        F.col("keep_id").alias("doc_id"), F.lit(1).alias("__ke")
    )
    comp = dd.dedup_components(docs)
    keep_near = comp.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", F.lit(1).alias("__kn")
    )
    flagged = (
        tok.join(keep_exact.hint("shuffle_hash"), "doc_id", "left")
        .join(keep_near.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "source",
            "__t",
            F.coalesce(F.col("__ke"), F.lit(0)).alias("__ke"),
            F.coalesce(F.col("__kn"), F.lit(0)).alias("__kn"),
        )
    )
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("n_tokens"),
        F.sum("__ke").cast("long").alias("n_docs_exact"),
        F.sum(F.col("__t") * F.col("__ke")).cast("long").alias("n_tokens_exact"),
        F.sum("__kn").cast("long").alias("n_docs_near"),
        F.sum(F.col("__t") * F.col("__kn")).cast("long").alias("n_tokens_near"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_docs_exact",
        "n_tokens_exact",
        "n_docs_near",
        "n_tokens_near",
        rd(
            F.lit(1.0)
            - F.col("n_tokens_near").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("pct_tokens_removed_near"),
    )


@register(
    "dedup_semantic_tau_sweep",
    f"""
    WITH {_SEMDEDUP_CTE_SQL},
    cos AS (
      SELECT p.id_a, p.id_b,
             CAST(p.dxy AS DOUBLE) / (na.nrm * nb.nrm) AS c
      FROM pdots p
      JOIN norms na ON na.vec_id = p.id_a
      JOIN norms nb ON nb.vec_id = p.id_b
    ),
    taus AS (SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in _SEMDEDUP_SWEEP_TAUS)}]) AS tau),
    nt AS (SELECT count(*) AS n FROM embeddings),
    per AS (
      SELECT t.tau,
             count(c2.id_a) AS n_pairs,
             count(DISTINCT c2.id_b) AS n_dropped
      FROM taus t LEFT JOIN cos c2 ON c2.c >= t.tau
      GROUP BY t.tau
    )
    SELECT per.tau,
           CAST(per.n_pairs AS BIGINT) AS n_pairs,
           CAST(per.n_dropped AS BIGINT) AS n_dropped,
           {R("CAST(per.n_dropped AS DOUBLE) / nt.n", 6)} AS drop_frac
    FROM per CROSS JOIN nt
    """,
)
def _q_dedup_semantic_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup τ-SENSITIVITY from ONE within-cell pair pass: the pair
    count, dropped-doc count, and corpus drop fraction at τ ∈
    {_SEMDEDUP_SWEEP_TAUS} — the curve a mix owner reads before
    committing a threshold (drop 2% or 20%?), priced at one blocking
    pass instead of three dedup runs. Pairs come from
    `sim.semdedup_pairs` at the LOWEST τ (every higher-τ answer is a
    filter of that set); the SQL reuses `_SEMDEDUP_CTE_SQL` verbatim,
    so the sweep can never drift from the registered survivor query.
    N-adaptive cells as always; the τ explode is a 3-literal array."""
    emb = _table(spark, sf_dir, "embeddings")
    k = _semdedup_k(emb.count())
    pairs = sim.semdedup_pairs(
        emb, tau=min(_SEMDEDUP_SWEEP_TAUS), n_centroids=k
    ).select("id_a", "id_b", "cosine")
    tau_rows = F.explode(
        F.array(*[F.lit(float(t)) for t in _SEMDEDUP_SWEEP_TAUS])
    ).alias("tau")
    taus_df = emb.sparkSession.range(1).select(tau_rows)
    nt = emb.agg(F.count(F.lit(1)).alias("__n"))
    # explode τ INTO the pair rows and filter (the wave-14 eval shape:
    # an inequality JOIN here would be an unsanctioned 3-row BNLJ); the
    # tiny taus frame equi-joins back so zero-pair τ rows survive
    hits = (
        pairs.select("id_a", "id_b", "cosine", tau_rows)
        .filter(F.col("cosine") >= F.col("tau"))
        .groupBy("tau")
        .agg(
            F.count("id_a").alias("n_pairs"),
            F.countDistinct("id_b").alias("n_dropped"),
        )
    )
    per = taus_df.join(hits.hint("shuffle_hash"), "tau", "left").select(
        "tau",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
    )
    return per.crossJoin(F.broadcast(nt)).select(
        "tau",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        rd(F.col("n_dropped").cast("double") / F.col("__n"), 6).alias(
            "drop_frac"
        ),
    )


@register(
    "dedup_cluster_size_histogram",
    f"""
    WITH RECURSIVE shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION
      SELECT id_b AS src, id_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
    ),
    cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    sz AS (SELECT cluster_id, count(*) AS size FROM cl GROUP BY cluster_id),
    bk AS (
      SELECT cluster_id, size,
             CAST(length(bin(size)) - 1 AS BIGINT) AS bucket
      FROM sz
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(size) AS BIGINT) AS n_docs,
           CAST(min(size) AS BIGINT) AS min_size,
           CAST(max(size) AS BIGINT) AS max_size
    FROM bk GROUP BY bucket
    """,
)
def _q_dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW DUPLICATED is the corpus, as a shape: near-dup cluster sizes
    in exact log2 buckets (bucket = bit_length(size)−1, the
    degree-stats convention — no float log edge at powers of two).
    Bucket 0 = unique documents; a heavy tail is the OOM/skew hazard
    every bounded-block rule in this repo guards against, and THIS
    table is where that tail is measured before it bites (the r3
    pair-explosion incident would have shown here first). Same CC
    chain as the survivors pipeline; output is O(log max-size) rows."""
    docs = _table(spark, sf_dir, "documents")
    comp = dd.dedup_components(docs)
    sz = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    bk = sz.select(
        "size", F.expr("CAST(length(bin(size)) - 1 AS BIGINT)").alias("bucket")
    )
    return bk.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("size").cast("long").alias("n_docs"),
        F.min("size").cast("long").alias("min_size"),
        F.max("size").cast("long").alias("max_size"),
    )


@register(
    "dedup_cross_source_matrix",
    """
    WITH d AS (
      SELECT md5(array_to_string(list_slice(
               list_filter(string_split(trim(lower(text)), ' '),
                           x -> length(x) > 0), 1, 16), ' ')) AS dig,
             source
      FROM documents WHERE text IS NOT NULL
    ),
    ds AS (SELECT DISTINCT dig, source FROM d),
    cnt AS (SELECT dig, source, count(*) AS n FROM d GROUP BY 1, 2),
    pairs AS (
      SELECT a.dig, a.source AS source_a, b.source AS source_b,
             ca.n AS n_a, cb.n AS n_b
      FROM ds a
      JOIN ds b ON a.dig = b.dig AND a.source < b.source
      JOIN cnt ca ON ca.dig = a.dig AND ca.source = a.source
      JOIN cnt cb ON cb.dig = b.dig AND cb.source = b.source
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_shared_digests,
           CAST(sum(n_a + n_b) AS BIGINT) AS n_docs_involved
    FROM pairs GROUP BY source_a, source_b
    """,
)
def _q_dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO COPIES WHOM: the source×source shared-OPENER matrix — for
    each source pair, how many distinct 16-token normalized prefixes
    they share and how many documents carry them. Shared openers are
    the boilerplate/syndication provenance signal (full-content dup
    matrices stay empty until corpora literally mirror each other;
    prefix sharing surfaces the template reuse that precedes it), and
    the heavy-hitter pairs say which sources to cross-dedup FIRST —
    the provenance-graph complement of `dedup_impact_by_source`.
    Digests shuffle, never text; the within-digest pair explode is
    bounded by a digest's source multiplicity (≤ |sources|), so the
    join is output-proportional at any corpus size."""
    docs = _table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    prefix = F.concat_ws(
        " ",
        F.slice(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), " "),
                lambda x: F.length(x) > 0,
            ),
            1,
            16,
        ),
    )
    d = docs.select(F.md5(prefix).alias("__dig"), "source")
    ds = d.distinct()
    cnt = d.groupBy("__dig", "source").agg(F.count(F.lit(1)).alias("__n"))
    a = ds.select(F.col("__dig"), F.col("source").alias("source_a"))
    b = ds.select(F.col("__dig"), F.col("source").alias("source_b"))
    ca = cnt.select(
        F.col("__dig"), F.col("source").alias("source_a"), F.col("__n").alias("__na")
    )
    cb = cnt.select(
        F.col("__dig"), F.col("source").alias("source_b"), F.col("__n").alias("__nb")
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), "__dig")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(ca.hint("shuffle_hash"), ["__dig", "source_a"])
        .join(cb.hint("shuffle_hash"), ["__dig", "source_b"])
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_digests"),
        F.sum(F.col("__na") + F.col("__nb")).cast("long").alias("n_docs_involved"),
    )


@register(
    "dedup_report_suite",
    f"""
    WITH RECURSIVE shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION
      SELECT id_b AS src, id_a AS dst FROM cand
    ),
    reach(src, dst) AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
    ),
    cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    sz AS (SELECT cluster_id, count(*) AS size FROM cl GROUP BY cluster_id),
    hb AS (
      SELECT CAST(length(bin(size)) - 1 AS BIGINT) AS bucket,
             count(*) AS n_clusters, sum(size) AS n_docs,
             min(size) AS min_size, max(size) AS max_size
      FROM sz GROUP BY 1
    ),
    tok AS (
      SELECT doc_id, source, CAST({_SQL_NTOK} AS BIGINT) AS t, {_SQL_H} AS h
      FROM documents
    ),
    ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    base AS (
      SELECT source, count(*) AS n_docs, sum(t) AS n_tokens
      FROM tok GROUP BY source
    ),
    e AS (
      SELECT source, count(*) AS n_docs_exact, sum(t) AS n_tokens_exact
      FROM tok JOIN ex USING (doc_id) GROUP BY source
    ),
    nr AS (
      SELECT source, count(*) AS n_docs_near, sum(t) AS n_tokens_near
      FROM tok JOIN cl ON cl.doc_id = tok.doc_id AND cl.doc_id = cl.cluster_id
      GROUP BY source
    ),
    imp AS (
      SELECT b.source,
             b.n_docs, b.n_tokens,
             coalesce(e.n_docs_exact, 0) AS n_docs_exact,
             coalesce(e.n_tokens_exact, 0) AS n_tokens_exact,
             coalesce(nr.n_docs_near, 0) AS n_docs_near,
             coalesce(nr.n_tokens_near, 0) AS n_tokens_near
      FROM base b LEFT JOIN e USING (source) LEFT JOIN nr USING (source)
    ),
    budg AS (
      SELECT tok.doc_id, tok.source, tok.t AS n_tokens, tok.h,
             CAST(sum(tok.t) OVER (PARTITION BY tok.source
                  ORDER BY tok.h, tok.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM tok JOIN cl ON cl.doc_id = tok.doc_id AND cl.doc_id = cl.cluster_id
    ),
    kept AS (SELECT * FROM budg WHERE cum_tokens <= {_MIX_BUDGET}),
    bsum AS (
      SELECT source, count(*) AS n_docs_kept, sum(n_tokens) AS n_tokens_kept
      FROM kept GROUP BY source
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tok_end
      FROM kept
    ),
    o AS (
      SELECT n_tokens, tok_end,
             CAST(floor((tok_end - n_tokens) / 512.0) AS BIGINT) AS first_seq,
             CAST(floor((tok_end - 1) / 512.0) AS BIGINT) AS last_seq
      FROM c WHERE n_tokens > 0
    ),
    pk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_sequences,
             CAST(sum(CASE WHEN first_seq < last_seq THEN 1 ELSE 0 END)
                  AS BIGINT) AS split_docs,
             CAST(sum(last_seq - first_seq + 1) AS BIGINT) AS fragments,
             CAST(((sum(n_tokens) + 511) // 512) * 512 - sum(n_tokens)
                  AS BIGINT) AS tail_pad_tokens
      FROM o
    )
    {_suite_unpivot_sql()}
    """,
)
def _q_dedup_report_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY DEDUP REPORT, ONE LABELING (`dd.dedup_components`): the
    cluster-size histogram, the per-source impact accounting, the
    post-dedup budget summary, and the dedup→budget→pack audit — four
    report sections that each independently recomputed the identical
    LSH-candidate graph + connected components when run as standalone
    queries (the 4 most expensive entries in the r7 bench, ~33 s
    combined). Here the CC labeling is computed ONCE (materialized by
    the CC loop's own localCheckpoint) and every section reads it;
    output is normalized (section, k, metric, value) rows with
    integer-valued metrics so DOUBLE carries them exactly. The
    standalone queries stay registered — each section remains
    independently oracle-checked — while this suite is the form a
    corpus owner (and the bench) actually runs."""
    docs = _table(spark, sf_dir, "documents")
    comp = dd.dedup_components(docs)

    def unpivot(frame, section, k_expr, metrics):
        stack = ", ".join(
            f"'{m}', CAST({m} AS DOUBLE)" for m in metrics
        )
        return frame.withColumn("__k", k_expr).selectExpr(
            f"'{section}' AS section",
            "__k AS k",
            f"stack({len(metrics)}, {stack}) AS (metric, value)",
        )

    # §1 cluster-size histogram (log2 buckets)
    sz = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    hb = (
        sz.select(
            F.expr("CAST(length(bin(size)) - 1 AS BIGINT)").alias("bucket"),
            "size",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("size").cast("long").alias("n_docs"),
            F.min("size").cast("long").alias("min_size"),
            F.max("size").cast("long").alias("max_size"),
        )
    )
    hist = unpivot(
        hb, "histogram", F.col("bucket").cast("string"),
        ["n_clusters", "n_docs", "min_size", "max_size"],
    )

    # §2 per-source impact (raw / exact / near) — r13 (guide §2.3):
    # ONE tokenize scan + ONE source-keyed aggregation with survivor
    # flags attached by two left joins, replacing three independent
    # tokenize scans + three shuffles + a 3-way re-join. Same output:
    # conditional sums over flags ≡ the old per-survivor-set aggs
    # (sources with no survivors read 0 either way).
    tok = docs.select(
        "doc_id", "source",
        tx.token_count(F.col("text")).cast("long").alias("__t"),
    )
    keep_exact = dd.exact_dedup_groups(docs).select(
        F.col("keep_id").alias("doc_id"), F.lit(1).alias("__ke")
    )
    keep_near = comp.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    flagged = (
        tok.join(keep_exact.hint("shuffle_hash"), "doc_id", "left")
        .join(
            keep_near.withColumn("__kn", F.lit(1)).hint("shuffle_hash"),
            "doc_id",
            "left",
        )
        .select(
            "source",
            "__t",
            F.coalesce(F.col("__ke"), F.lit(0)).alias("__ke"),
            F.coalesce(F.col("__kn"), F.lit(0)).alias("__kn"),
        )
    )
    imp = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("n_tokens"),
        F.sum("__ke").cast("long").alias("n_docs_exact"),
        F.sum(F.col("__t") * F.col("__ke")).cast("long").alias("n_tokens_exact"),
        F.sum("__kn").cast("long").alias("n_docs_near"),
        F.sum(F.col("__t") * F.col("__kn")).cast("long").alias("n_tokens_near"),
    )
    impact = unpivot(
        imp, "impact", F.col("source"),
        ["n_docs", "n_tokens", "n_docs_exact", "n_tokens_exact",
         "n_docs_near", "n_tokens_near"],
    )

    # §3 post-dedup budget summary (survivors only)
    surv = docs.join(keep_near.hint("shuffle_hash"), "doc_id", "left_semi")
    # r13: budgeted feeds both the §3 summary and the §4 pack semi-join
    # — checkpoint so the budget window runs once.
    budgeted = sp.token_budget_per_stratum(surv, _MIX_BUDGET).localCheckpoint(
        eager=False
    )
    bsum = budgeted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
    )
    budget = unpivot(
        bsum, "budget", F.col("source"), ["n_docs_kept", "n_tokens_kept"]
    )

    # §4 pack audit over the budgeted corpus
    final_docs = docs.join(
        budgeted.select("doc_id").hint("shuffle_hash"), "doc_id", "left_semi"
    )
    packed = sp.sequence_pack_offsets(final_docs, seq_len=512)
    audit = _pack_efficiency_agg(packed)
    pack = unpivot(
        audit, "pack", F.lit("_all"),
        ["n_docs", "n_tokens", "n_sequences", "split_docs", "fragments",
         "tail_pad_tokens"],
    )

    return hist.unionByName(impact).unionByName(budget).unionByName(pack)


@register(
    "dedup_family_agreement",
    f"""
    WITH shingled AS ({_SH_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    mh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (SELECT doc_id, {_SIMHASH_BITS_SQL} FROM hashed GROUP BY doc_id),
    fp AS (SELECT doc_id, {_SIMHASH_FP_SQL} AS simhash FROM bits),
    ck AS (
      SELECT doc_id, simhash, cb.combo_id, {_SIMHASH_KEY_SQL} AS cv
      FROM fp, (VALUES {_SIMHASH_COMBO_VALUES}) cb(combo_id, {_SIMHASH_COMBO_COLS})
    ),
    shp AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ck a JOIN ck b
        ON a.combo_id = b.combo_id AND a.cv = b.cv AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    u AS (
      SELECT coalesce(m.id_a, s.id_a) AS id_a,
             coalesce(m.id_b, s.id_b) AS id_b,
             CASE WHEN m.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_mh,
             CASE WHEN s.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_sh
      FROM mh m FULL OUTER JOIN shp s
        ON s.id_a = m.id_a AND s.id_b = m.id_b
    ),
    agg AS (
      SELECT CAST(sum(in_mh) AS BIGINT) AS n_minhash,
             CAST(sum(in_sh) AS BIGINT) AS n_simhash,
             CAST(sum(in_mh * in_sh) AS BIGINT) AS n_both,
             CAST(count(*) AS BIGINT) AS n_union
      FROM u
    )
    SELECT n_minhash, n_simhash, n_both, n_union,
           CASE WHEN n_union > 0 THEN
             {R("CAST(n_both AS DOUBLE) / n_union", 6)}
           END AS overlap_jaccard,
           CASE WHEN n_minhash + n_simhash > 0 THEN
             {R("2.0 * n_both / (CAST(n_minhash AS DOUBLE) + n_simhash)", 6)}
           END AS dice
    FROM agg
    """,
)
def _q_dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METHOD-AGREEMENT audit between the two near-dup families:
    MinHash-LSH candidate pairs (Jaccard lens) vs pigeonhole-blocked
    SimHash pairs (Hamming lens) — pair-set overlap Jaccard and Dice.
    The reading a dedup owner needs BEFORE trusting either eval
    report alone: high agreement → one cheap method suffices; low
    agreement → the two families see DIFFERENT duplication (shingle
    overlap vs token-multiset similarity) and the pipeline should
    run both (each family's recall eval, `dedup_lsh_eval_report` /
    `dedup_simhash_eval_report`, scores against its OWN ground truth
    and cannot see this). Both generators are the proven bounded
    ones; the comparison is one full-outer join on the (bounded)
    pair keys + a 1-row agg. Zero new machinery — pure composition."""
    docs = _table(spark, sf_dir, "documents")
    mh = dd.minhash_lsh_pairs(docs).select("id_a", "id_b", F.lit(1).alias("__mh"))
    fp = dd.simhash(docs)
    sh = dd.simhash_pairs(fp, max_hamming=3, n_chunks=_SIMHASH_M).select(
        "id_a", "id_b", F.lit(1).alias("__sh")
    )
    u = mh.join(sh.hint("shuffle_hash"), ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("__mh"), F.lit(0)).alias("__m"),
        F.coalesce(F.col("__sh"), F.lit(0)).alias("__s"),
    )
    agg = u.agg(
        F.sum("__m").cast("long").alias("n_minhash"),
        F.sum("__s").cast("long").alias("n_simhash"),
        F.sum(F.col("__m") * F.col("__s")).cast("long").alias("n_both"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
    )
    return agg.select(
        "n_minhash",
        "n_simhash",
        "n_both",
        "n_union",
        F.when(
            F.col("n_union") > 0,
            rd(F.col("n_both").cast("double") / F.col("n_union"), 6),
        ).alias("overlap_jaccard"),
        F.when(
            F.col("n_minhash") + F.col("n_simhash") > 0,
            rd(
                F.lit(2.0) * F.col("n_both")
                / (F.col("n_minhash").cast("double") + F.col("n_simhash")),
                6,
            ),
        ).alias("dice"),
    )


# ---------------------------------------------------------------------------
# r11 wave 4: posting-density probe — the one-scan forecast that picks
# exact PPJoin vs LSH-first (operationalizes the SCALING r11 finding).
# ---------------------------------------------------------------------------

#: measured envelope (SCALING.md r11 scale projection): past ~64
#: candidate pairs per posting row the exact prefix join's verify
#: stage dominated the LSH path on the 8x salted-replica fixture.
_DENSITY_PPJOIN_ENVELOPE = 64


@register(
    "dedup_prefix_density_probe",
    f"""
    WITH shing AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(generate_series(1, len(w) - 2),
                      i -> array_to_string(list_slice(w, i, i + 2), ' '))
               ELSE [array_to_string(w, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE text IS NOT NULL)
    ),
    tok AS (SELECT doc_id, md5(g.gram) AS gd
            FROM shing, LATERAL (SELECT unnest(grams) AS gram) g),
    dfc AS (SELECT gd, count(*) AS df FROM tok GROUP BY gd),
    h AS (SELECT df, count(*) AS c FROM dfc GROUP BY df),
    tot AS (
      SELECT sum(c) AS n_types,
             sum(df * c) AS n_postings,
             sum(CAST(df * (df - 1) // 2 AS DECIMAL(38,0)) * c) AS cand,
             max(df) AS max_df
      FROM h
    ),
    cum AS (
      SELECT df, sum(c) OVER (ORDER BY df) AS cum, tot.n_types
      FROM h CROSS JOIN tot
    ),
    p99 AS (
      SELECT min(df) AS p99_df FROM cum
      WHERE cum >= CAST(ceil(0.99 * n_types) AS BIGINT)
    ),
    nd AS (SELECT count(*) AS n_docs FROM shing)
    SELECT CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(tot.n_types AS BIGINT) AS n_gram_types,
           CAST(tot.n_postings AS BIGINT) AS n_postings,
           CAST(tot.cand AS BIGINT) AS candidate_upper_bound,
           CAST(tot.max_df AS BIGINT) AS max_df,
           CAST(p99.p99_df AS BIGINT) AS p99_df,
           {R("CAST(tot.cand AS DOUBLE) / tot.n_postings", 6)}
             AS density_ratio,
           CASE WHEN CAST(tot.cand AS DOUBLE)
                     <= {_DENSITY_PPJOIN_ENVELOPE} * tot.n_postings
                THEN 'ppjoin' ELSE 'lsh_first' END AS recommend
    FROM nd CROSS JOIN tot CROSS JOIN p99
    """,
)
def _q_dedup_prefix_density_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POSTING-DENSITY PROBE for the exact-vs-LSH dedup choice: the
    SCALING r11 projection showed the exact PPJoin's cost is quadratic
    in DUPLICATION DENSITY — candidate volume is Σ_g C(df(g), 2) over
    gram posting lists — while the LSH path stays output-bound. This
    one-scan probe computes that forecast BEFORE anyone runs a join:
    gram-type/posting counts, the exact candidate upper bound
    Σ df·(df−1)/2, max and p99 posting length (p99 as an order
    statistic over the BOUNDED df-histogram — cumulative fold over
    ≤max_df rows, no corpus-sized window), the density ratio
    (candidates per posting row), and the recommendation at the
    measured envelope ({_DENSITY_PPJOIN_ENVELOPE} candidates/posting —
    the 8× salted-replica crossover). Invariant-13 shape: the
    engine-selection input is data-derived, cheap (one shingle scan +
    one gram-keyed count, digest-keyed shuffles), and replayed
    verbatim by the oracle. One row out at any scale."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tok = docs.select(
        "doc_id", F.explode(dd.word_shingles(F.col("text"))).alias("g")
    ).select("doc_id", F.md5("g").alias("gd"))
    dfc = tok.groupBy("gd").agg(F.count(F.lit(1)).alias("df"))
    h = dfc.groupBy("df").agg(F.count(F.lit(1)).alias("c"))
    tot = h.agg(
        F.sum("c").alias("n_types"),
        F.sum(F.col("df") * F.col("c")).alias("n_postings"),
        F.sum(
            (F.col("df") * (F.col("df") - 1) / F.lit(2))
            .cast("decimal(38,0)")
            * F.col("c")
        ).alias("cand"),
        F.max("df").alias("max_df"),
        F.sort_array(
            F.collect_list(F.struct(F.col("df"), F.col("c")))
        ).alias("a"),
    )
    # p99 df from the bounded histogram: posexplode the sorted
    # (df, c) array, prefix-sum via slice-aggregate (waterfill
    # precedent), take the smallest df whose cumulative count reaches
    # ceil(0.99 * n_types).
    cum = tot.select(
        "n_types",
        "n_postings",
        "cand",
        "max_df",
        "a",
        F.posexplode("a").alias("__k0", "__s"),
    ).select(
        "n_types",
        "n_postings",
        "cand",
        "max_df",
        F.col("__s.df").alias("df"),
        F.expr(
            "aggregate(slice(a, 1, __k0 + 1), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x.c)"
        ).alias("cum"),
    )
    p99 = (
        cum.filter(
            F.col("cum") >= F.ceil(F.lit(0.99) * F.col("n_types"))
        )
        .groupBy("n_types", "n_postings", "cand", "max_df")
        .agg(F.min("df").alias("p99_df"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return p99.crossJoin(F.broadcast(nd)).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_types").cast("long").alias("n_gram_types"),
        F.col("n_postings").cast("long").alias("n_postings"),
        F.col("cand").cast("long").alias("candidate_upper_bound"),
        F.col("max_df").cast("long").alias("max_df"),
        F.col("p99_df").cast("long").alias("p99_df"),
        rd(
            F.col("cand").cast("double") / F.col("n_postings"), 6
        ).alias("density_ratio"),
        F.when(
            F.col("cand").cast("double")
            <= F.lit(_DENSITY_PPJOIN_ENVELOPE) * F.col("n_postings"),
            F.lit("ppjoin"),
        )
        .otherwise(F.lit("lsh_first"))
        .alias("recommend"),
    )


def _auto_dispatch_sql(env_num: int, env_den: int) -> str:
    """Oracle body for the probe-dispatched dedup: compute the SAME
    integer decision rule, then surface the CHOSEN arm's verified-pair
    counts (both arms are materialized as CTEs — the exact arm is the
    brute-force truth, which the prefix join reproduces verbatim by
    its zero-false-negative contract; the LSH arm replays banding +
    exact verify)."""
    return f"""
    WITH sub AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 2 = 0 AND text IS NOT NULL
    ),
    shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(generate_series(1, len(w) - 2),
                                   i -> array_to_string(list_slice(w, i, i + 2), ' '))
               ELSE [array_to_string(w, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sub)
    ),
    tok AS (SELECT doc_id, md5(g.gram) AS gd
            FROM shingled, LATERAL (SELECT unnest(grams) AS gram) g),
    dfc AS (SELECT gd, count(*) AS df FROM tok GROUP BY gd),
    tot AS (
      SELECT coalesce(sum(df), 0) AS n_postings,
             coalesce(sum(CAST(df * (df - 1) // 2 AS DECIMAL(38,0))),
                      CAST(0 AS DECIMAL(38,0))) AS cand
      FROM dfc
    ),
    dec AS (
      SELECT CASE WHEN cand * {env_den} <= {env_num} * n_postings
                  THEN 'ppjoin' ELSE 'lsh_first' END AS method,
             n_postings, cand
      FROM tot
    ),
    jac AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams)))
                      AS DOUBLE) AS j
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    ),
    ep AS (
      SELECT count(*) AS n,
             coalesce(sum(CASE WHEN j >= 0.9 THEN 1 END), 0) AS nhi
      FROM jac WHERE j >= {_PREFIX_TAU}
    ),
    sig AS ({_SIG_SQL}),
    bands AS (
      SELECT doc_id, b.band,
             md5(sig[b.band * 2 + 1] || '|' || sig[b.band * 2 + 2]) AS key
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    pred AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    lshv AS (
      SELECT p.id_a, p.id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams)))
                      AS DOUBLE) AS j
      FROM pred p
      JOIN shingled a ON a.doc_id = p.id_a
      JOIN shingled b ON b.doc_id = p.id_b
    ),
    lp AS (
      SELECT count(*) AS n,
             coalesce(sum(CASE WHEN j >= 0.9 THEN 1 END), 0) AS nhi
      FROM lshv WHERE j >= {_PREFIX_TAU}
    )
    SELECT dec.method,
           CAST(dec.n_postings AS BIGINT) AS n_postings,
           CAST(dec.cand AS BIGINT) AS candidate_upper_bound,
           {R("CASE WHEN dec.n_postings > 0 THEN CAST(dec.cand AS DOUBLE)"
              " / dec.n_postings ELSE 0.0 END", 6)} AS density_ratio,
           CAST(CASE WHEN dec.method = 'ppjoin' THEN ep.n ELSE lp.n END
                AS BIGINT) AS n_pairs_tau,
           CAST(CASE WHEN dec.method = 'ppjoin' THEN ep.nhi ELSE lp.nhi END
                AS BIGINT) AS n_pairs_hi
    FROM dec CROSS JOIN ep CROSS JOIN lp
    """


def _auto_dispatch_frame(
    spark: SparkSession, sf_dir: str, envelope: tuple[int, int]
) -> DataFrame:
    sub = (
        _table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .filter(F.col("text").isNotNull())
    )
    pairs, dec = dd.dedup_auto_pairs(
        sub, min_jaccard=_PREFIX_TAU, envelope=envelope
    )
    np_, cand = dec["n_postings"], dec["candidate_upper_bound"]
    ratio = (
        rd(F.lit(cand).cast("double") / F.lit(np_).cast("double"), 6)
        if np_ > 0
        else F.lit(0.0)
    )
    rep = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs_tau"),
        F.coalesce(
            F.sum(F.when(F.col("jaccard") >= 0.9, F.lit(1))), F.lit(0)
        )
        .cast("long")
        .alias("n_pairs_hi"),
    )
    return rep.select(
        F.lit(dec["method"]).alias("method"),
        F.lit(np_).cast("long").alias("n_postings"),
        F.lit(cand).cast("long").alias("candidate_upper_bound"),
        ratio.alias("density_ratio"),
        F.col("n_pairs_tau"),
        F.col("n_pairs_hi"),
    )


@register("dedup_auto_method_choice", _auto_dispatch_sql(64, 1))
def _q_dedup_auto_method_choice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROBE-DISPATCHED dedup at the measured envelope (VERDICT r11
    #6): `dd.dedup_auto_pairs` runs the one-scan posting-density
    forecast (Σ_g C(df(g), 2) candidates vs posting rows — the SCALING
    r11 salted-replica crossover, 64 candidates/posting) and EXECUTES
    the method it sanctions: exact PPJoin prefix join under the
    envelope, LSH-first (banded MinHash + exact verify) above it —
    `auto_bucket_cap`'s pattern applied to engine selection. The
    decision inputs are ALL-INTEGER (cross-multiplied rational
    envelope — no float drift at any corpus size), surfaced in the
    report row, and the oracle re-derives the identical decision AND
    replays the chosen arm's verified-pair counts (τ={_PREFIX_TAU} and
    0.9). Parity-half corpus (the prefix family's own oracle-cost
    policy). This corpus sits well under the envelope → the exact arm
    fires; `dedup_auto_lsh_branch` pins the other arm."""
    return _auto_dispatch_frame(spark, sf_dir, (64, 1))


@register("dedup_auto_lsh_branch", _auto_dispatch_sql(1, 8))
def _q_dedup_auto_lsh_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dispatcher's OTHER arm, value-verified: same probe, same
    integer decision rule, but at a 1/8-candidates-per-posting
    envelope this corpus's density (~0.25-2.4 across SFs) exceeds the
    bound, so `dedup_auto_pairs` takes the LSH-first composition —
    banded MinHash candidates, exact Jaccard verify on candidates
    only. The oracle replays banding + verify and the same decision,
    so BOTH dispatch branches (not just the one the default envelope
    happens to pick) are hash-checked end to end. The recall the LSH
    arm forfeits vs the exact arm is visible as this query's
    n_pairs_tau vs `dedup_auto_method_choice`'s — the measured cost of
    the cheap path, in the same report shape."""
    return _auto_dispatch_frame(spark, sf_dir, (1, 8))


@register(
    "dedup_minhash_estimator_error",
    f"""
    WITH sub AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(generate_series(1, len(w) - 2),
                                   i -> array_to_string(list_slice(w, i, i + 2), ' '))
               ELSE [array_to_string(w, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
            FROM sub)
    ),
    sig AS ({_SIG_SQL}),
    jac AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams)))
                      AS DOUBLE) AS j
      FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    ),
    pairs AS (SELECT id_a, id_b, j FROM jac WHERE j >= {_PREFIX_TAU}),
    est AS (
      SELECT p.id_a, p.id_b, p.j,
             ({" + ".join(f"CASE WHEN a.sig[{i}] = b.sig[{i}] THEN 1 ELSE 0 END" for i in range(1, 9))})
               / 8.0 AS e
      FROM pairs p
      JOIN sig a ON a.doc_id = p.id_a
      JOIN sig b ON b.doc_id = p.id_b
    ),
    banded AS (
      SELECT CASE WHEN j < 0.4 THEN '0.2-0.4'
                  WHEN j < 0.6 THEN '0.4-0.6'
                  WHEN j < 0.8 THEN '0.6-0.8'
                  ELSE '0.8-1.0' END AS j_band,
             j, e
      FROM est
    )
    SELECT j_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {R("CAST(sum(CAST(" + R("j", 6) + " AS DECIMAL(38,9)))"
              " AS DOUBLE) / count(*)", 6)} AS mean_exact,
           {R("CAST(sum(CAST(e AS DECIMAL(38,9))) AS DOUBLE)"
              " / count(*)", 6)} AS mean_estimate,
           {R("CAST(sum(CAST(e AS DECIMAL(38,9))) AS DOUBLE) / count(*)"
              " - CAST(sum(CAST(" + R("j", 6) + " AS DECIMAL(38,9)))"
              " AS DOUBLE) / count(*)", 6)} AS bias,
           {R("CAST(sum(CAST(" + R("abs(e - j)", 6) + " AS DECIMAL(38,9)))"
              " AS DOUBLE) / count(*)", 6)} AS mae
    FROM banded GROUP BY j_band
    """,
)
def _q_dedup_minhash_estimator_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MINHASH ESTIMATOR CALIBRATION — the third leg of the dedup
    eval triad: the LSH/SimHash eval reports measure CANDIDATE
    quality (precision/recall), this measures the ESTIMATOR itself —
    per exact-Jaccard band, the 8-hash signature-agreement estimate's
    mean, bias, and MAE against exact truth on the parity-half
    corpus. The numbers a team reads before trusting
    `minhash_jaccard_estimate` as a verify-free filter (expected MAE
    at 8 hashes ≈ √(j(1−j)/8) ≈ 0.17 at j=0.5 — if the measured row
    says that, skipping exact verify at a coarse τ is quantified, not
    hoped). Truth pairs come from the zero-false-negative prefix
    join; estimates are exact eighths (binary-exact doubles) and the
    exact j values are identical integer-ratio divisions in both
    engines; band means accumulate via the rd→decimal idiom. All
    joins are id-keyed over the bounded truth-pair set."""
    sub = _table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    truth = dd.ngram_jaccard_prefix_pairs(sub, min_jaccard=_PREFIX_TAU)
    # r13 (guide §2.4): both join sides (a, b) read the signatures —
    # checkpoint so the shingle→md5→min aggregation runs once.
    sig = dd.minhash_signatures(sub).localCheckpoint(eager=False)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("__sa"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("__sb"))
    agree = F.aggregate(
        F.zip_with(
            F.col("__sa"), F.col("__sb"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = (
        truth.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select(
            F.col("jaccard").alias("__j"),
            (agree.cast("double") / F.lit(8.0)).alias("__e"),
        )
    )
    banded = est.select(
        F.when(F.col("__j") < 0.4, F.lit("0.2-0.4"))
        .when(F.col("__j") < 0.6, F.lit("0.4-0.6"))
        .when(F.col("__j") < 0.8, F.lit("0.6-0.8"))
        .otherwise(F.lit("0.8-1.0"))
        .alias("j_band"),
        "__j",
        "__e",
    )
    n = F.count(F.lit(1))
    sj = F.sum(rd(F.col("__j"), 6).cast("decimal(38,9)")).cast("double")
    se = F.sum(F.col("__e").cast("decimal(38,9)")).cast("double")
    sd = F.sum(
        rd(F.abs(F.col("__e") - F.col("__j")), 6).cast("decimal(38,9)")
    ).cast("double")
    return banded.groupBy("j_band").agg(
        n.cast("long").alias("n_pairs"),
        rd(sj / n, 6).alias("mean_exact"),
        rd(se / n, 6).alias("mean_estimate"),
        rd(se / n - sj / n, 6).alias("bias"),
        rd(sd / n, 6).alias("mae"),
    )


@register(
    "dedup_removed_vs_kept_profile",
    f"""
    WITH g AS (
      SELECT doc_id, source, text,
             min(doc_id) OVER (PARTITION BY md5(coalesce(text, '<null>')))
               AS keep_id
      FROM documents
    ),
    cls AS (
      SELECT coalesce(CAST(source AS VARCHAR), '<NULL>') AS src,
             CASE WHEN doc_id = keep_id THEN 'kept' ELSE 'removed' END
               AS fate,
             CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len(string_split(trim(text), ' ')) END AS toks,
             CASE WHEN text IS NULL THEN 0 ELSE length(text) END AS chars
      FROM g
    )
    SELECT src AS source, fate,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           {R("CAST(sum(toks) AS DOUBLE) / count(*)", 6)} AS mean_tokens,
           {R("CAST(sum(chars) AS DOUBLE) / count(*)", 6)} AS mean_chars
    FROM cls GROUP BY src, fate
    """,
)
def _q_dedup_removed_vs_kept_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHAT DOES DEDUP REMOVE? — the bias audit run before trusting a
    deduped corpus: per source, the kept-vs-removed doc/token counts
    and mean length under exact (content-hash, min-id survivor)
    dedup. If the removed mass is systematically SHORTER (template
    boilerplate) the dedup is cleaning; if a source's removed docs
    look like its kept ones, that source is mirror-duplicated and its
    effective diversity is the kept count, which mix budgeting
    (`mix_budget_after_dedup`) must consume. Exact-dedup survivor
    rule is the registry-wide one (min doc_id per md5(text), NULL
    text = its own group via the sentinel). Integer token/char sums;
    one digest-keyed window + one grouped aggregate — two shuffles at
    any scale."""
    docs = _table(spark, sf_dir, "documents")
    keep = F.min("doc_id").over(
        Window.partitionBy(F.md5(F.coalesce(F.col("text"), F.lit("<null>"))))
    )
    toks = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
    ).otherwise(tx.token_count(F.col("text")))
    chars = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.length("text")
    )
    cls = docs.select(
        F.coalesce(F.col("source").cast("string"), F.lit("<NULL>")).alias(
            "src"
        ),
        F.when(F.col("doc_id") == keep, F.lit("kept"))
        .otherwise(F.lit("removed"))
        .alias("fate"),
        toks.alias("__toks"),
        chars.alias("__chars"),
    )
    n = F.count(F.lit(1))
    return cls.groupBy("src", "fate").agg(
        n.cast("long").alias("n_docs"),
        F.sum("__toks").cast("long").alias("total_tokens"),
        rd(F.sum("__toks").cast("double") / n, 6).alias("mean_tokens"),
        rd(F.sum("__chars").cast("double") / n, 6).alias("mean_chars"),
    ).select(
        F.col("src").alias("source"),
        "fate",
        "n_docs",
        "total_tokens",
        "mean_tokens",
        "mean_chars",
    )


_SHINGLE_SWEEP_NS = (2, 3, 4)


def _shingle_probe_sql(n: int) -> str:
    return f"""
      SELECT {n} AS shingle_n, gd FROM (
        SELECT list_distinct(CASE WHEN len(w) >= {n}
          THEN list_transform(generate_series(1, len(w) - {n - 1}),
               i -> array_to_string(list_slice(w, i, i + {n - 1}), ' '))
          ELSE [array_to_string(w, ' ')] END) AS grams
        FROM (SELECT string_split(text, ' ') AS w
              FROM documents WHERE text IS NOT NULL)
      ), LATERAL (SELECT md5(unnest(grams)) AS gd) g"""


@register(
    "dedup_shingle_size_probe",
    f"""
    WITH tok AS (
      {" UNION ALL ".join(_shingle_probe_sql(n) for n in _SHINGLE_SWEEP_NS)}
    ),
    dfc AS (
      SELECT shingle_n, gd, count(*) AS df FROM tok GROUP BY shingle_n, gd
    ),
    tot AS (
      SELECT shingle_n,
             count(*) AS n_types,
             sum(df) AS n_postings,
             sum(CAST(df * (df - 1) // 2 AS DECIMAL(38,0))) AS cand
      FROM dfc GROUP BY shingle_n
    )
    SELECT CAST(shingle_n AS INTEGER) AS shingle_n,
           CAST(n_types AS BIGINT) AS n_gram_types,
           CAST(n_postings AS BIGINT) AS n_postings,
           CAST(cand AS BIGINT) AS candidate_upper_bound,
           {R("CASE WHEN n_postings > 0 THEN CAST(cand AS DOUBLE)"
              " / n_postings ELSE 0.0 END", 6)} AS density_ratio,
           CASE WHEN cand <= 64 * n_postings
                THEN 'ppjoin' ELSE 'lsh_first' END AS recommend
    FROM tot
    """,
)
def _q_dedup_shingle_size_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHINGLE-SIZE sensitivity of the dedup cost forecast: the
    posting-density probe swept over n-gram orders n ∈ {_SHINGLE_SWEEP_NS}
    — the knob every near-dup pipeline sets once and forgets. Smaller
    n → fewer, hotter gram types → posting lists fatten and the exact
    join's Σ C(df,2) forecast explodes; larger n → sparser postings
    but less recall against paraphrase. This one-scan-per-n sweep
    puts NUMBERS on that trade for the corpus at hand (density_ratio
    and the 64-envelope decision per n), so shingle size is chosen
    from data like the method is (`dedup_auto_pairs`) and the cap is
    (`auto_bucket_cap`). Each n is an independent shingle scan +
    digest-keyed count; |{_SHINGLE_SWEEP_NS}| bounded rows out."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = None
    for n in _SHINGLE_SWEEP_NS:
        t = docs.select(
            F.lit(n).alias("shingle_n"),
            F.explode(dd.word_shingles(F.col("text"), n)).alias("g"),
        ).select("shingle_n", F.md5("g").alias("gd"))
        toks = t if toks is None else toks.unionByName(t)
    dfc = toks.groupBy("shingle_n", "gd").agg(
        F.count(F.lit(1)).alias("df")
    )
    tot = dfc.groupBy("shingle_n").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("df").alias("n_postings"),
        F.sum(
            F.expr("CAST(df * (df - 1) DIV 2 AS DECIMAL(38,0))")
        ).alias("cand"),
    )
    return tot.select(
        F.col("shingle_n").cast("int").alias("shingle_n"),
        F.col("n_types").cast("long").alias("n_gram_types"),
        F.col("n_postings").cast("long").alias("n_postings"),
        F.col("cand").cast("long").alias("candidate_upper_bound"),
        rd(
            F.when(
                F.col("n_postings") > 0,
                F.col("cand").cast("double") / F.col("n_postings"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("density_ratio"),
        F.when(
            F.col("cand") <= F.lit(64) * F.col("n_postings"),
            F.lit("ppjoin"),
        )
        .otherwise(F.lit("lsh_first"))
        .alias("recommend"),
    )
