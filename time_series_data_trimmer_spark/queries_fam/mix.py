"""Mix-family extension queries."""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403



@register(
    "sample_hash_bernoulli",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_SQL_H} < {int(_SAMPLE_RATE * (1 << 32))}
    """,
)
def _q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample (keep iff hash_u32(doc_id) <
    rate·2³²): scan-side codegen, no shuffle, membership stable under
    repartitioning — the reproducible alternative to df.sample."""
    out = sp.hash_sample(_table(spark, sf_dir, "documents"), _SAMPLE_RATE)
    return out.select("doc_id", "source")


@register(
    "sample_stratified_by_source",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_SQL_H} < {_STRATA_CASE}
    """,
)
def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive
    ('80% of src0, 50% of src1, 25% of src2, 10% of the rest'). The
    per-row threshold is a CASE over the stratum: still one scan, no
    join, no shuffle."""
    out = sp.stratified_hash_sample(
        _table(spark, sf_dir, "documents"), _STRATA_RATES, _STRATA_DEFAULT
    )
    return out.select("doc_id", "source")


@register(
    "mix_token_budget_per_source",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             {_SQL_H} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {_MIX_BUDGET}
    """,
)
def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing: each source keeps a deterministic
    hash-ordered prefix of docs while the running token total stays
    within budget (docs are atomic — cap, never split). One window
    shuffle on the stratum key, integer cumulative sum, no joins."""
    out = sp.token_budget_per_stratum(
        _table(spark, sf_dir, "documents"), _MIX_BUDGET
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


@register(
    "mix_sequence_pack_offsets",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             {_SQL_H} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tok_end
      FROM toks
    )
    SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
           CAST(floor((tok_end - n_tokens) / 512.0) AS BIGINT) AS first_seq,
           CAST(floor((tok_end - 1) / 512.0) AS BIGINT) AS last_seq
    FROM c WHERE n_tokens > 0
    """,
)
def _q_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing (seq_len=512): each doc's global
    token interval and the training sequences it spans, in deterministic
    hash order. r4: scale-safe distributed prefix-sum — the shard id is
    the hash's top bits, so per-shard window cumsum + broadcast base
    offsets reproduce the global-order result bit-for-bit with no
    keyless window anywhere in the plan (the oracle stays the simple
    global-window SQL)."""
    return sp.sequence_pack_offsets(_table(spark, sf_dir, "documents"), seq_len=512)


@register(
    "mix_sequence_pack_sharded",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             {_SQL_H} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY source, h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tok_end
      FROM toks
    )
    SELECT doc_id, source, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
           CAST(floor((tok_end - n_tokens) / 512.0) AS BIGINT) AS first_seq,
           CAST(floor((tok_end - 1) / 512.0) AS BIGINT) AS last_seq
    FROM c WHERE n_tokens > 0
    """,
)
def _q_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production per-shard packing (shard = source, seq_len=512):
    shard-major deterministic concat order with globally contiguous
    offsets — per-shard window cumsum, driver-side cumsum of the
    per-shard totals (one bounded row per shard), broadcast base-offset
    join. The oracle is the equivalent single global window ordered by
    (source, h, doc_id) — DuckDB doesn't need the scale-safe shape,
    the result must match it exactly."""
    return sp.sequence_pack_offsets_sharded(
        _table(spark, sf_dir, "documents"), seq_len=512
    )


@register(
    "sample_top_n_per_source",
    f"""
    WITH h AS (
      SELECT doc_id, source,
             {sp.sql_hash_u32('doc_id', 'tsdt|topn')} AS hv
      FROM documents
    )
    SELECT doc_id, source FROM h
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) <= 10
    """,
)
def _q_top_n_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample
    (`sp.hash_top_n_per_group`, 10 docs per source by smallest u32
    hash): exact counts per stratum, append-stable membership, one
    keyed window — what rate-based sampling can't give and RNG
    reservoirs can't reproduce."""
    out = sp.hash_top_n_per_group(
        _table(spark, sf_dir, "documents"), n=10, group_col="source"
    )
    return out.select("doc_id", "source")


@register(
    "mix_train_val_test_split",
    f"""
    WITH h AS (
      SELECT doc_id, source,
             {sp.sql_hash_u32('doc_id', 'tsdt|split')} AS hv
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN hv < {int(0.1 * (1 << 32))} THEN 'test'
                WHEN hv < {2 * int(0.1 * (1 << 32))} THEN 'val'
                ELSE 'train' END AS split
    FROM h
    """,
)
def _q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (`sp.train_val_test_split`,
    10/10/80 by u32 hash bucket): labels are a pure function of
    (seed, doc_id) — no row can migrate between splits across runs,
    appends, or engines (the leakage mode randomSplit invites).
    Scan-side codegen, zero shuffle."""
    out = sp.train_val_test_split(
        _table(spark, sf_dir, "documents"), val_frac=0.1, test_frac=0.1
    )
    return out.select("doc_id", "source", "split")


@register(
    "mix_shuffle_shards",
    f"""
    WITH h AS (
      SELECT doc_id, {sp.sql_hash_u32('doc_id', 'tsdt|shuffle')} AS hv
      FROM documents
    )
    SELECT doc_id, CAST(hv % 16 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) - 1
                AS BIGINT) AS pos
    FROM h
    """,
)
def _q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle (`sp.shuffle_to_shards`):
    hash-permutation into 16 shards with within-shard positions — the
    export-order primitive (no global sort, no rand()); one shuffle +
    per-shard keyed window."""
    out = sp.shuffle_to_shards(_table(spark, sf_dir, "documents"), n_shards=16)
    return out.select("doc_id", "shard", "pos")


@register(
    "mix_temperature_sample",
    f"""
    WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
    t AS (
      SELECT CAST(sum(CAST({R("sqrt(CAST(c AS DOUBLE))", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS T,
             CAST(sum(c) AS DOUBLE) AS N
      FROM c
    ),
    r AS (
      SELECT source,
             least(1.0,
               ((0.25 * t.N) * {R("sqrt(CAST(c AS DOUBLE))", 9)})
                 / ((CAST(c AS DOUBLE)) * t.T)) AS rate
      FROM c, t
    )
    SELECT d.doc_id, d.source, {R("r.rate", 9)} AS keep_rate
    FROM documents d JOIN r ON d.source = r.source
    WHERE {sp.sql_hash_u32("d.doc_id", "tsdt|temp")}
          < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
    """,
)
def _q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature-scaled domain sampling
    (`sp.temperature_sample`): per-source keep rates ∝ √count/count at
    an overall 25% target — the mT5-style domain-rebalancing step.
    Rates are decimal-exact (√c rounded to 9 dp, T summed in decimal),
    membership is the portable md5 coin; the oracle reproduces every
    rate and every member bit-for-bit."""
    return sp.temperature_sample(
        _table(spark, sf_dir, "documents"), target_frac=0.25
    ).select("doc_id", "source", "keep_rate")


@register(
    "mix_epoch_upsample",
    """
    WITH c AS (
      SELECT coalesce(CAST(source AS VARCHAR), '<NULL>') AS g, count(*) AS c
      FROM documents GROUP BY 1
    ),
    m AS (SELECT max(c) AS cmax FROM c),
    e AS (
      SELECT g,
             least(4, CAST(ceil(sqrt(CAST(m.cmax AS DOUBLE) / CAST(c.c AS DOUBLE))) AS INT)) AS epochs
      FROM c, m
    )
    SELECT d.doc_id, d.source,
           CAST(unnest(generate_series(1, e.epochs)) AS INT) AS epoch
    FROM documents d
    JOIN e ON coalesce(CAST(d.source AS VARCHAR), '<NULL>') = e.g
    """,
)
def _q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-based domain upsampling (`sp.epoch_upsample`): integer
    replication epochs_g = min(4, ceil(sqrt(c_max/c_g))) per source —
    the multi-epoch small-domain mixing of LLM data recipes, as an
    explode(sequence) on the scan (zero payload shuffle; the
    (group, epochs) table is a bounded broadcast). Complement of
    `mix_temperature_sample`: that down-samples dominant domains,
    this up-samples small ones, both under the alpha=0.5 law."""
    return sp.epoch_upsample(
        _table(spark, sf_dir, "documents"), max_epochs=4
    ).select("doc_id", "source", "epoch")


@register(
    "mix_dsir_importance",
    f"""
    WITH wt AS (
      SELECT string_split(trim(text), ' ') AS w FROM documents
      WHERE source = 'src0' AND text IS NOT NULL
    ),
    tg AS (
      SELECT ({_DSIR_H}) % {_DSIR_B} AS b FROM (
        SELECT array_to_string(w[i.i:i.i+1], ' ') AS gram
        FROM wt, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i
        WHERE len(w) >= 2)
    ),
    wr AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      WHERE source <> 'src0' AND text IS NOT NULL
    ),
    rg AS (
      SELECT doc_id, ({_DSIR_H}) % {_DSIR_B} AS b FROM (
        SELECT doc_id, array_to_string(w[i.i:i.i+1], ' ') AS gram
        FROM wr, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i
        WHERE len(w) >= 2)
    ),
    ct AS (SELECT b, count(*) AS ct FROM tg GROUP BY b),
    cr AS (SELECT b, count(*) AS cr FROM rg GROUP BY b),
    tt AS (SELECT CAST(sum(ct) AS DOUBLE) AS t FROM ct),
    rt AS (SELECT CAST(sum(cr) AS DOUBLE) AS r FROM cr),
    ratios AS (
      SELECT coalesce(ct.b, cr.b) AS b,
             {R(f"((CAST(coalesce(ct.ct, 0) AS DOUBLE) + 1.0) / (tt.t + {float(_DSIR_B)}))"
                f" / ((CAST(coalesce(cr.cr, 0) AS DOUBLE) + 1.0) / (rt.r + {float(_DSIR_B)}))", 9)} AS ratio
      FROM ct FULL OUTER JOIN cr ON ct.b = cr.b CROSS JOIN tt CROSS JOIN rt
    )
    SELECT rg.doc_id, count(*) AS n_grams,
           {R("CAST(sum(CAST(ratio AS DECIMAL(38,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 9)} AS importance
    FROM rg JOIN ratios ON ratios.b = rg.b
    GROUP BY rg.doc_id
    """,
)
def _q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-bigram importance scoring
    (`sp.dsir_importance`, Xie et al. 2023): raw docs (source != src0)
    scored by the decimal-mean of per-bucket probability ratios vs the
    target slice (source == src0) — the in-domain data-selection
    signal. Ratio-MEAN variant (the paper's log-product is not
    bit-reproducible; same determinism policy as the un-logged idf).
    Grams collapse to hash%4096 ints on the scan; both count tables
    and their totals fold into one <= 4096-row broadcast ratio table;
    the only wide exchange is the per-doc decimal mean."""
    docs = _table(spark, sf_dir, "documents")
    return sp.dsir_importance(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n_buckets=_DSIR_B,
    )


@register(
    "sample_pps_by_chars",
    f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             {sp.sql_hash_u32('doc_id', _PPS_SEED)} AS h
      FROM documents WHERE n_chars > 0
    ),
    o AS (
      SELECT doc_id, n_chars,
             sum(n_chars) OVER (
               ORDER BY h % {_PPS_S}, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    ),
    w AS (SELECT sum(n_chars) AS tw FROM t)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           CAST(({_PPS_K} * CAST(cum AS HUGEINT)) // tw
              - ({_PPS_K} * CAST(cum - n_chars AS HUGEINT)) // tw AS BIGINT)
             AS n_hits
    FROM o CROSS JOIN w
    WHERE ({_PPS_K} * CAST(cum AS HUGEINT)) // tw
        - ({_PPS_K} * CAST(cum - n_chars AS HUGEINT)) // tw >= 1
    """,
)
def _q_pps_by_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample exactly {k}=100 draws from documents with inclusion
    count ∝ n_chars via systematic PPS (`sp.pps_systematic_sample`) —
    the "sample documents proportional to token count" primitive a
    training-data mix needs, with zero transcendental functions: the
    md5-shuffled order, a distributed integer prefix sum (per-shard
    window + S bounded shard totals, no global sort), and two exact
    integer divisions per row. Σ n_hits telescopes to exactly k
    (pytest-pinned); every arithmetic step is reproduced verbatim in
    the oracle, so the SAMPLE ITSELF is cross-engine identical —
    a property no rand()-based sampler has."""
    docs = _table(spark, sf_dir, "documents")
    return sp.pps_systematic_sample(
        docs, k=_PPS_K, weight_col="n_chars", key_col="doc_id",
        n_shards=_PPS_S, seed=_PPS_SEED,
    )


@register(
    "mix_pack_efficiency_report",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             {_SQL_H} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tok_end
      FROM toks
    ),
    o AS (
      SELECT n_tokens, tok_end,
             CAST(floor((tok_end - n_tokens) / 512.0) AS BIGINT) AS first_seq,
             CAST(floor((tok_end - 1) / 512.0) AS BIGINT) AS last_seq
      FROM c WHERE n_tokens > 0
    ),
    a AS (
      SELECT count(*) AS n_docs,
             sum(n_tokens) AS n_tokens,
             sum(CASE WHEN first_seq < last_seq THEN 1 ELSE 0 END) AS split_docs,
             sum(last_seq - first_seq + 1) AS fragments
      FROM o
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((n_tokens + 511) // 512 AS BIGINT) AS n_sequences,
           CAST(split_docs AS BIGINT) AS split_docs,
           {R("CAST(split_docs AS DOUBLE) / n_docs", 6)} AS split_frac,
           CAST(fragments AS BIGINT) AS fragments,
           {R("CAST(fragments AS DOUBLE) / ((n_tokens + 511) // 512)", 6)}
             AS docs_per_seq,
           CAST(((n_tokens + 511) // 512) * 512 - n_tokens AS BIGINT)
             AS tail_pad_tokens,
           {R("CAST(n_tokens AS DOUBLE) / (((n_tokens + 511) // 512) * 512)", 6)}
             AS utilization
    FROM a
    """,
)
def _q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit of the concat-and-chop layout
    (seq_len=512) — the report a training-data build reads before
    committing a mix to sequence files: how many docs straddle a
    sequence boundary (attention-mask fragmentation), mean docs per
    training sequence (fragments / n_sequences), and the layout's
    token utilization (concat-and-chop pads ONLY the final partial
    sequence, so utilization ~1 by construction — the row PROVES it,
    and the same report run on a pad-per-doc layout is the comparison
    that justifies packing). One aggregate row over the pack-offsets
    frame (`sp.sequence_pack_offsets`, scale-safe sharded prefix-sum);
    sequence count and tail pad in exact integer arithmetic (DIV), no
    scalar joins — a single-row select over one aggregation."""
    packed = sp.sequence_pack_offsets(
        _table(spark, sf_dir, "documents"), seq_len=512
    )
    return _pack_efficiency_agg(packed)


@register(
    "mix_grouped_kfold",
    f"""
    WITH d AS (
      SELECT source, CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             ({sp.sql_hash_u32("source", "tsdt|fold")}) % 5 AS fold
      FROM documents
    ),
    f AS (
      SELECT fold, count(DISTINCT source) AS n_sources, count(*) AS n_docs,
             sum(n_tokens) AS n_tokens
      FROM d GROUP BY fold
    ),
    t AS (SELECT sum(n_tokens) AS tot FROM f)
    SELECT CAST(fold AS INTEGER) AS fold,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {R("CAST(n_tokens AS DOUBLE) / tot", 6)} AS token_share
    FROM f CROSS JOIN t
    """,
)
def _q_mix_grouped_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE 5-fold assignment: every document of a source lands
    in the same fold (fold = md5-hash of the SOURCE, not the doc), so
    cross-validation and held-out splits can't leak near-duplicates
    that cluster within a source — the leakage-safe split a dedup'd
    corpus still needs (doc-level `mix_train_val_test_split` splits
    finer but lets one source straddle train/val). Report per fold:
    source count, doc count, token count, token share (the balance
    check hash-folding is supposed to deliver). One scan + one fold
    aggregation; the total is the sanctioned 1-row scalar."""
    docs = _table(spark, sf_dir, "documents")
    fold = (sp.hash_u32(F.col("source"), "tsdt|fold") % 5).cast("int")
    d = docs.select(
        "source",
        tx.token_count(F.col("text")).cast("long").alias("__ntok"),
        fold.alias("fold"),
    )
    f = d.groupBy("fold").agg(
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__ntok").alias("__nt"),
    )
    t = f.agg(F.sum("__nt").alias("__tot"))
    return f.crossJoin(F.broadcast(t)).select(
        "fold",
        "n_sources",
        "n_docs",
        F.col("__nt").cast("long").alias("n_tokens"),
        rd(F.col("__nt").cast("double") / F.col("__tot"), 6).alias(
            "token_share"
        ),
    )


@register(
    "sample_neyman_allocation",
    f"""
    WITH d AS (
      SELECT source, CAST({_SQL_NTOK} AS BIGINT) AS t FROM documents
    ),
    g AS (
      SELECT source, count(*) AS n,
             sum(CAST(t AS DECIMAL(38,0))) AS s1,
             sum(CAST(t * t AS DECIMAL(38,0))) AS s2
      FROM d GROUP BY source
    ),
    v AS (
      SELECT source, n,
             {R("sqrt(greatest(CAST(s2 AS DOUBLE) / n"
                " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),"
                " 0.0))", 6)} AS sigma
      FROM g
    ),
    w AS (SELECT *, CAST({R("n * sigma", 6)} AS DECIMAL(38,6)) AS wgt FROM v),
    tot AS (SELECT sum(wgt) AS tw FROM w)
    SELECT source, CAST(n AS BIGINT) AS n_docs, sigma AS sigma_tokens,
           {R("CAST(wgt AS DOUBLE) / CAST(tw AS DOUBLE)", 6)} AS share,
           CAST(floor(1000.0 * (CAST(wgt AS DOUBLE) / CAST(tw AS DOUBLE)) + 0.5)
                AS BIGINT) AS n_alloc
    FROM w CROSS JOIN tot
    """,
)
def _q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN ALLOCATION for a stratified sample (budget 1000 docs):
    each source's share ∝ N_h·σ_h (stratum size × token-count
    std-dev), the variance-minimizing allocation for estimating corpus
    token statistics from a sample — the statistics-literate upgrade
    of proportional stratified sampling (`sample_stratified_by_source`
    samples at a flat rate; Neyman oversamples high-variance strata).
    Integer-exact power sums per stratum (token counts are ints —
    decimal(38,0), no scaling needed), one IEEE sqrt per stratum, the
    σ·N weights 6-dp-rounded into decimal before the share division;
    the total is the sanctioned 1-row scalar."""
    docs = _table(spark, sf_dir, "documents")
    d = docs.select(
        "source", tx.token_count(F.col("text")).cast("long").alias("__t")
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__t").cast("decimal(38,0)")).alias("__s1"),
        F.sum((F.col("__t") * F.col("__t")).cast("decimal(38,0)")).alias(
            "__s2"
        ),
    )
    sigma = rd(
        F.sqrt(
            F.greatest(
                F.col("__s2").cast("double") / F.col("n")
                - (F.col("__s1").cast("double") / F.col("n"))
                * (F.col("__s1").cast("double") / F.col("n")),
                F.lit(0.0),
            )
        ),
        6,
    )
    w = g.select(
        "source",
        F.col("n"),
        sigma.alias("sigma"),
        rd(F.col("n") * sigma, 6).cast("decimal(38,6)").alias("__wgt"),
    )
    tot = w.agg(F.sum("__wgt").alias("__tw"))
    share = F.col("__wgt").cast("double") / F.col("__tw").cast("double")
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.col("sigma").alias("sigma_tokens"),
        rd(share, 6).alias("share"),
        F.floor(F.lit(1000.0) * share + F.lit(0.5))
        .cast("long")
        .alias("n_alloc"),
    )


@register(
    "mix_budget_after_dedup",
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
    toks AS (
      SELECT doc_id, source,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             {_SQL_H} AS h
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM cl WHERE doc_id = cluster_id)
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {_MIX_BUDGET}
    """,
)
def _q_mix_budget_after_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE ORDER THAT MATTERS, MADE EXPLICIT: the per-source token
    budget applied AFTER near-dedup (survivors of the LSH + connected
    components pipeline), not before. Budgeting first and deduping
    second under-fills every dup-heavy source (its budget was spent on
    copies that dedup then removes); this composition spends the
    budget entirely on surviving documents — the pipeline
    `dedup_impact_by_source` tells you to run. Same proven pieces:
    bucketed LSH pairs, min-label CC, one stratum-keyed budget window
    over the deduped stream."""
    docs = _table(spark, sf_dir, "documents")
    comp = dd.dedup_components(docs)
    keep = comp.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    surv = docs.join(keep.hint("shuffle_hash"), "doc_id", "left_semi")
    out = sp.token_budget_per_stratum(surv, _MIX_BUDGET)
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


@register(
    "data_prune_prototypicality",
    f"""
    WITH ex AS ({_EX_SQL}),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= {_PROTO_K - 1}
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({R("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    sdot AS (
      SELECT a.vec_id, a.cid,
             sum(CAST({R("e.x * c.x", 9)} AS DECIMAL(38,9))) AS dxy,
             sum(CAST({R("e.x * e.x", 9)} AS DECIMAL(38,9))) AS dxx,
             sum(CAST({R("c.x * c.x", 9)} AS DECIMAL(38,9))) AS dyy
      FROM assigned a
      JOIN ex e ON e.vec_id = a.vec_id
      JOIN cex c ON c.cid = a.cid AND c.i = e.i
      GROUP BY a.vec_id, a.cid
    ),
    scored AS (
      SELECT vec_id, cid,
             {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS proto_cos
      FROM sdot
    ),
    rk AS (
      SELECT *,
             row_number() OVER (PARTITION BY cid
                                ORDER BY proto_cos DESC, vec_id ASC) AS rn,
             count(*) OVER (PARTITION BY cid) AS nc
      FROM scored
    )
    SELECT vec_id, CAST(cid AS INT) AS centroid_id, proto_cos,
           rn > (nc * {_PROTO_PRUNE_PCT}) // 100 AS keep
    FROM rk
    """,
)
def _q_data_prune_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning decision (`sim.prototypicality_prune`,
    Sorscher et al. 2022): per IVF cell, rank vectors by cosine to
    their own centroid and drop the 20% most prototypical — the
    keep/prune bit a curation pipeline writes after SemDeDup has
    removed near-copies. Same deterministic IVF structure as
    `sim_ivf_*`/`dedup_semantic`; FIXED k is the scale path here
    (assignment N·k, rank one window — no pair volume anywhere)."""
    emb = _table(spark, sf_dir, "embeddings")
    return sim.prototypicality_prune(
        emb, n_centroids=_PROTO_K, prune_pct=_PROTO_PRUNE_PCT
    )


@register(
    "mix_pack_len_sweep",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             {_SQL_H} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tok_end
      FROM toks
    ),
    ls AS (SELECT unnest([{", ".join(str(L) for L in _PACK_LENS)}]) AS seq_len),
    o AS (
      SELECT seq_len, n_tokens,
             CAST(floor((tok_end - n_tokens) / CAST(seq_len AS DOUBLE))
                  AS BIGINT) AS first_seq,
             CAST(floor((tok_end - 1) / CAST(seq_len AS DOUBLE))
                  AS BIGINT) AS last_seq
      FROM c CROSS JOIN ls WHERE n_tokens > 0
    ),
    a AS (
      SELECT seq_len,
             count(*) AS n_docs,
             sum(n_tokens) AS n_tokens,
             sum(CASE WHEN first_seq < last_seq THEN 1 ELSE 0 END) AS split_docs,
             sum(last_seq - first_seq + 1) AS fragments
      FROM o GROUP BY seq_len
    )
    SELECT CAST(seq_len AS INTEGER) AS seq_len,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((n_tokens + seq_len - 1) // seq_len AS BIGINT) AS n_sequences,
           CAST(split_docs AS BIGINT) AS split_docs,
           {R("CAST(split_docs AS DOUBLE) / n_docs", 6)} AS split_frac,
           CAST(fragments AS BIGINT) AS fragments,
           {R("CAST(fragments AS DOUBLE)"
              " / ((n_tokens + seq_len - 1) // seq_len)", 6)} AS docs_per_seq,
           CAST(((n_tokens + seq_len - 1) // seq_len) * seq_len - n_tokens
                AS BIGINT) AS tail_pad_tokens,
           {R("CAST(n_tokens AS DOUBLE)"
              " / (((n_tokens + seq_len - 1) // seq_len) * seq_len)", 6)}
             AS utilization
    FROM a
    """,
)
def _q_mix_pack_len_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-LENGTH OPERATING POINTS from ONE corpus scan: the
    packing-efficiency audit (`mix_pack_efficiency_report`) at 256 /
    512 / 1024 tokens simultaneously. The global concat order and the
    prefix-sum intervals [tok_start, tok_end) do not depend on
    seq_len — only the chop does — so the sweep computes the prefix
    sum ONCE and derives every length's split/fragment/utilization
    numbers by integer floor-division of the SAME intervals (a 3-way
    explode of narrow (n_tokens, tok_end) longs, then one 3-group
    agg). The table a training run picks its context length from:
    longer sequences cross fewer chop boundaries (fewer split
    documents) but pack more documents per sequence — the
    attention-masking/fragmentation cost — and strand more tail
    padding."""
    docs = _table(spark, sf_dir, "documents")
    packed = sp.sequence_pack_offsets(docs, seq_len=512).select(
        "n_tokens", "tok_start", "tok_end"
    )
    o = packed.select(
        "n_tokens",
        "tok_start",
        "tok_end",
        F.explode(
            F.array(*[F.lit(int(L)) for L in _PACK_LENS])
        ).alias("seq_len"),
    ).select(
        "seq_len",
        "n_tokens",
        F.floor(
            F.col("tok_start") / F.col("seq_len").cast("double")
        ).cast("long").alias("__fs"),
        F.floor(
            (F.col("tok_end") - 1) / F.col("seq_len").cast("double")
        ).cast("long").alias("__ls"),
    )
    a = o.groupBy("seq_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(
            F.when(F.col("__fs") < F.col("__ls"), 1).otherwise(0)
        ).alias("split_docs"),
        F.sum(F.col("__ls") - F.col("__fs") + 1).alias("fragments"),
    )
    nseq = F.expr("(n_tokens + seq_len - 1) DIV seq_len")
    return a.select(
        F.col("seq_len").cast("int").alias("seq_len"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        nseq.cast("long").alias("n_sequences"),
        F.col("split_docs").cast("long").alias("split_docs"),
        rd(F.col("split_docs").cast("double") / F.col("n_docs"), 6).alias(
            "split_frac"
        ),
        F.col("fragments").cast("long").alias("fragments"),
        rd(F.col("fragments").cast("double") / nseq, 6).alias("docs_per_seq"),
        (nseq * F.col("seq_len") - F.col("n_tokens"))
        .cast("long")
        .alias("tail_pad_tokens"),
        rd(
            F.col("n_tokens").cast("double") / (nseq * F.col("seq_len")), 6
        ).alias("utilization"),
    )


@register(
    "mix_curriculum_shards",
    f"""
    WITH {_HLS_VS_C4_SQL},
    bd AS (
      SELECT {R(f"quantile_cont(logit, {_CURR_P[0]!r})", 6)} AS b1,
             {R(f"quantile_cont(logit, {_CURR_P[1]!r})", 6)} AS b2
      FROM sc
    ),
    toks AS (
      SELECT doc_id, CAST({_SQL_NTOK} AS BIGINT) AS n_tokens FROM documents
    ),
    assigned AS (
      SELECT CASE WHEN sc.logit <= bd.b1 THEN 'A_low'
                  WHEN sc.logit <= bd.b2 THEN 'B_mid'
                  ELSE 'C_high' END AS band,
             CAST({sp.sql_hash_u32("sc.doc_id", _CURR_SEED)} // 1073741824
                  AS INTEGER) AS shard,
             toks.n_tokens,
             CAST(round(sc.logit * 1000000, 0) AS BIGINT) AS logit_e6
      FROM sc CROSS JOIN bd
      JOIN toks ON toks.doc_id = sc.doc_id
    )
    SELECT band, shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           {R("CAST(sum(logit_e6) AS DOUBLE)"
              " / (1000000.0 * CAST(count(*) AS DOUBLE))", 6)} AS mean_logit
    FROM assigned GROUP BY band, shard
    """,
)
def _q_mix_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM SHARD MANIFEST — the training-ORDER handoff: band
    every document into quality terciles of the hashed-linear scorer
    logit (the SAME factored scorer the three eval queries audit, so
    the curriculum signal is the one whose calibration/AUC/PR the
    repo already measures), then split each band into 4 deterministic
    hash shards (top 2 bits). A curriculum run consumes shards in
    band order (easy → hard or the reverse); the manifest reports each
    shard's doc/token mass and mean logit so the schedule's token
    budget is known BEFORE any data moves. Portability discipline:
    tercile boundaries are exact interpolated percentiles 6-dp-rounded
    on both engines (`percentile` ≡ `quantile_cont`, the
    token_percentiles precedent) with probe literals written once in
    Python (invariant 15); band compares happen on the already-6-dp
    logit; mean logit accumulates integer 1e6 micro-units. One scan +
    a 1-row boundary broadcast + one (band, shard) aggregation."""
    docs = _table(spark, sf_dir, "documents")
    sc = tx.hashed_linear_score(docs).select("doc_id", "logit")
    bd = sc.agg(
        rd(
            F.expr(f"percentile(logit, {_CURR_P[0]!r})"), 6
        ).alias("__b1"),
        rd(
            F.expr(f"percentile(logit, {_CURR_P[1]!r})"), 6
        ).alias("__b2"),
    )
    toks = docs.select(
        "doc_id", tx.token_count(F.col("text")).cast("long").alias("__nt")
    )
    band = (
        F.when(F.col("logit") <= F.col("__b1"), "A_low")
        .when(F.col("logit") <= F.col("__b2"), "B_mid")
        .otherwise("C_high")
    )
    assigned = (
        sc.crossJoin(F.broadcast(bd))
        .join(toks.hint("shuffle_hash"), "doc_id")
        .select(
            band.alias("band"),
            F.shiftright(
                sp.hash_u32(F.col("doc_id"), _CURR_SEED), 30
            ).cast("int").alias("shard"),
            F.col("__nt").alias("n_tokens"),
            F.round(F.col("logit") * 1000000, 0).cast("long").alias(
                "__logit_e6"
            ),
        )
    )
    return assigned.groupBy("band", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        rd(
            F.sum("__logit_e6").cast("double")
            / (1000000.0 * F.count(F.lit(1)).cast("double")),
            6,
        ).alias("mean_logit"),
    )


# ---------------------------------------------------------------------------
# r9 wave 7: split-leakage audit — the contamination number a
# deterministic split still leaves on the table.
# ---------------------------------------------------------------------------


@register(
    "mix_split_leakage_audit",
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
    sp AS (
      SELECT doc_id,
             CASE WHEN {sp.sql_hash_u32('doc_id', 'tsdt|split')} < {int(0.1 * (1 << 32))} THEN 'test'
                  WHEN {sp.sql_hash_u32('doc_id', 'tsdt|split')} < {2 * int(0.1 * (1 << 32))} THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    ),
    labeled AS (
      SELECT least(sa.split, sb.split) AS split_a,
             greatest(sa.split, sb.split) AS split_b
      FROM cand c
      JOIN sp sa ON sa.doc_id = c.id_a
      JOIN sp sb ON sb.doc_id = c.id_b
    ),
    tot AS (SELECT count(*) AS n FROM labeled)
    SELECT split_a, split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS crosses_split,
           {R("CAST(count(*) AS DOUBLE) / (SELECT n FROM tot)", 6)} AS frac_of_pairs
    FROM labeled GROUP BY split_a, split_b
    """,
)
def _q_mix_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-LEAKAGE audit: how many NEAR-DUPLICATE pairs (the
    MinHash-LSH candidate generator every dedup query trusts) straddle
    the deterministic train/val/test split — the contamination a
    doc-level hash split still leaves when near-dups aren't collapsed
    first. A train/test bridging pair means the eval set contains a
    near-copy of training data: eval scores inflate even though the
    split itself is perfectly reproducible. This is the MEASURED
    argument for `pipeline_dedup_budget_pack`'s dedup-BEFORE-split
    ordering and the quantitative companion of
    `dedup_decontaminate_vs_heldout` (which decontaminates against an
    explicit held-out set; this audits the split you already made).
    Output: (split_a ≤ split_b) pair counts with a crosses_split flag
    and each cell's share of all candidate pairs. Plan: the standard
    bucketed LSH pair generator (digests shuffle, never text) + two
    id-keyed joins onto the scan-side split labels + a ≤6-row agg;
    the total joins back as one broadcast scalar."""
    docs = _table(spark, sf_dir, "documents")
    cand = dd.minhash_lsh_pairs(docs).select("id_a", "id_b")
    splits = sp.train_val_test_split(
        docs, val_frac=0.1, test_frac=0.1
    ).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("__sa")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("__sb")
    )
    labeled = (
        cand.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select(
            F.least(F.col("__sa"), F.col("__sb")).alias("split_a"),
            F.greatest(F.col("__sa"), F.col("__sb")).alias("split_b"),
        )
        # r13 (guide §2.4): labeled feeds both the total and the
        # per-cell agg — checkpoint so the LSH pair generation + split
        # joins run once.
        .localCheckpoint(eager=False)
    )
    tot = labeled.agg(F.count(F.lit(1)).alias("__n"))
    return (
        labeled.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            F.when(F.col("split_a") != F.col("split_b"), 1)
            .otherwise(0)
            .alias("crosses_split"),
            rd(
                F.col("n_pairs").cast("double") / F.col("__n").cast("double"),
                6,
            ).alias("frac_of_pairs"),
        )
    )


@register(
    "mix_dedup_aware_epochs",
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
    sz AS (SELECT cluster_id, count(*) AS csize FROM cl GROUP BY cluster_id),
    d AS (
      SELECT doc.doc_id, doc.source,
             CAST(ceil(length(coalesce(doc.text, '')) / 4.0) AS BIGINT) AS n_tokens,
             sz.csize
      FROM documents doc
      JOIN cl ON cl.doc_id = doc.doc_id
      JOIN sz ON sz.cluster_id = cl.cluster_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
           {R("CAST(sum(CAST(" + sql_rd("CAST(n_tokens AS DOUBLE) / csize", 6) + " AS DECIMAL(38,6))) AS DOUBLE)", 6)} AS effective_tokens,
           {R("CAST(sum(CAST(" + sql_rd("CAST(n_tokens AS DOUBLE) / csize", 6) + " AS DECIMAL(38,6))) AS DOUBLE) / sum(n_tokens)", 6)} AS dup_discount
    FROM d GROUP BY source
    """,
)
def _q_mix_dedup_aware_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE epoch weighting — the SOFT alternative to
    drop-the-duplicates: every document keeps membership, but its
    training weight is 1/cluster_size of its near-dup LSH+CC cluster,
    so a 5-copy boilerplate family contributes ONE document's worth of
    gradient per epoch instead of five (the "data diet" form the
    dedup literature recommends when provenance must be preserved).
    Per source: raw token mass, dup-discounted EFFECTIVE token mass
    (Σ n_tokens/csize, 6-dp decimal sum), and the discount ratio —
    the number a mix owner feeds into per-source epoch counts. Same
    proven LSH + pointer-jumped CC labeling (`dd.dedup_components`);
    one size join + one source agg on top."""
    docs = _table(spark, sf_dir, "documents")
    comp = dd.dedup_components(docs)
    sz = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("__csize"))
    d = (
        docs.select(
            "doc_id",
            "source",
            F.ceil(
                F.length(F.coalesce(F.col("text"), F.lit(""))) / F.lit(4.0)
            ).cast("long").alias("__nt"),
        )
        .join(comp.hint("shuffle_hash"), "doc_id")
        .join(sz.hint("shuffle_hash"), "cluster_id")
    )
    eff_term = rd(
        F.col("__nt").cast("double") / F.col("__csize"), 6
    ).cast("decimal(38,6)")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("raw_tokens"),
        rd(F.sum(eff_term).cast("double"), 6).alias("effective_tokens"),
        rd(
            F.sum(eff_term).cast("double")
            / F.sum("__nt").cast("double"),
            6,
        ).alias("dup_discount"),
    )


@register(
    "mix_doremi_step",
    f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> length(x) > 0) AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, len(ws) AS n,
             list_aggregate(list_transform(ws, t ->
               CAST({R("(('0x' || substr(md5('tsdt|hls' || '|' || t), 1, 8))::BIGINT) / 4294967296.0 - 0.5", 6)} AS DECIMAL(20,6))
             ), 'sum') AS tot
      FROM w WHERE len(ws) > 0
    ),
    sc AS (SELECT doc_id, {R("CAST(tot AS DOUBLE) / n", 6)} AS logit FROM s),
    d AS (
      SELECT doc.source,
             CAST(ceil(length(coalesce(doc.text, '')) / 4.0) AS BIGINT) AS nt,
             sc.logit
      FROM documents doc JOIN sc ON sc.doc_id = doc.doc_id
    ),
    per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS tokens,
             sum(CAST(logit AS DECIMAL(38,6))) AS slog
      FROM d GROUP BY source
    ),
    tot AS (SELECT sum(tokens) AS tt FROM per),
    p2 AS (
      SELECT source, n_docs, tokens,
             {R("CAST(tokens AS DOUBLE) / CAST(tt AS DOUBLE)", 8)} AS share,
             {R("(-(CAST(slog AS DOUBLE))) / CAST(n_docs AS DOUBLE)", 8)} AS loss
      FROM per CROSS JOIN tot
    ),
    refc AS (SELECT sum(CAST({R("share * loss", 12)} AS DECIMAL(38,12))) AS r FROM p2),
    p3 AS (
      SELECT p2.*, {R(f"loss - {R('CAST(r AS DOUBLE)', 8)}", 8)} AS excess
      FROM p2 CROSS JOIN refc
    ),
    p4 AS (SELECT p3.*, {R("share * exp(excess)", 8)} AS wraw FROM p3),
    ws2 AS (SELECT sum(CAST(wraw AS DECIMAL(38,8))) AS wsum FROM p4)
    SELECT source, n_docs, tokens, share, loss AS proxy_loss, excess,
           {R("wraw / CAST(wsum AS DOUBLE)", 6)} AS weight
    FROM p4 CROSS JOIN ws2
    """,
)
def _q_mix_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN REWEIGHTING, DoReMi-shaped: one exponentiated-gradient
    step on per-source mixture weights from per-source EXCESS LOSS —
    the principled alternative to hand-tuned source weights
    (`mix_temperature_sample` is the heuristic member; this is the
    optimizer member the DoReMi paper distills a proxy run into).
    Loss proxy: the negated mean hashed-linear quality logit per
    source (one scan, the eval family's scorer — swap in real proxy-
    model NLL by replacing one column); reference loss: the token-
    share-weighted mixture mean, so excess_s = loss_s − Σ share·loss
    is positive exactly for harder-than-mixture domains, which EG
    then upweights: w'_s ∝ share_s·exp(η·excess_s), η=1, normalized.
    Determinism: every float is rounded to a fixed grid BEFORE the
    next stage consumes it (losses/shares 8-dp, share·loss terms
    12-dp decimal-summed, exp terms 8-dp decimal-summed, final weight
    6-dp), so both engines fold identical doubles; the three mixture
    scalars attach via sanctioned 1-row broadcast cross joins. Plan:
    one document scan + one source-keyed exchange, then |sources|-row
    arithmetic — at 100 TB the cost is the scan, the EG step is
    free."""
    docs = _table(spark, sf_dir, "documents")
    scores = tx.hashed_linear_score(docs).select("doc_id", "logit")
    base = docs.select(
        "doc_id",
        "source",
        F.ceil(
            F.length(F.coalesce(F.col("text"), F.lit(""))) / F.lit(4.0)
        ).cast("long").alias("__nt"),
    ).join(scores.hint("shuffle_hash"), "doc_id")
    per = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("tokens"),
        F.sum(F.col("logit").cast("decimal(38,6)")).alias("__slog"),
    )
    tot = per.agg(F.sum("tokens").alias("__tt"))
    p2 = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        rd(F.col("tokens").cast("double") / F.col("__tt").cast("double"), 8).alias("share"),
        rd(
            (-(F.col("__slog").cast("double"))) / F.col("n_docs").cast("double"),
            8,
        ).alias("loss"),
    )
    ref = p2.agg(
        F.sum(rd(F.col("share") * F.col("loss"), 12).cast("decimal(38,12)")).alias("__r")
    )
    p3 = p2.crossJoin(F.broadcast(ref)).select(
        "source", "n_docs", "tokens", "share", "loss",
        rd(F.col("loss") - rd(F.col("__r").cast("double"), 8), 8).alias("excess"),
    )
    p4 = p3.select(
        "*", rd(F.col("share") * F.exp(F.col("excess")), 8).alias("__wraw")
    )
    wsum = p4.agg(F.sum(F.col("__wraw").cast("decimal(38,8)")).alias("__ws"))
    return p4.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        "tokens",
        "share",
        F.col("loss").alias("proxy_loss"),
        "excess",
        rd(F.col("__wraw") / F.col("__ws").cast("double"), 6).alias("weight"),
    )


@register("sample_kcenter_coreset", _kc_sql(8))
def _q_sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER GREEDY coreset (farthest-point traversal, the
    2-approximation of Gonzalez 1985): 8 maximally-DIVERSE embedding
    exemplars — the opposite pole of `data_prune_prototypicality`
    (which keeps the most TYPICAL points): active-learning seed sets,
    eval-set design, and coverage-first data pruning all start from
    exactly this traversal, and `dist2_to_set` at each pick is the
    shrinking covering-radius curve (pick k where it elbows). Every
    candidate-to-set distance is an exact decimal(38,9) sum of 9-dp
    squared-difference terms, argmax ties break on vec_id, the seed
    is the min-md5 point — fully deterministic, recurrence unrolled
    bit-for-bit in the oracle like the PageRank family. Plan: k−1
    fixed rounds × (one 64-row broadcast center join + one
    vec-keyed distance agg + a TakeOrdered-1); the running-min state
    localCheckpoints per round (PLANS.md invariant 17). Vectors
    never shuffle; k is plan-time fixed."""
    emb = _table(spark, sf_dir, "embeddings")
    # r13 (guide §2.4): _dist_to references ex twice per round (center
    # slice + candidate side) across 7 rounds — the lazy form re-ran
    # the scan+posexplode ~14×. Materialize the narrow (vec_id, i, x)
    # rows once.
    # NOTE (r14 checkpoint policy, VERDICT r13 #6): O(N·D) — unbounded.
    # Justification: ~14 consumers vs one narrow 3-column snapshot;
    # executor loss fails the job (no lineage) and a retry recomputes
    # from parquet. Reliable-checkpoint-dir candidate on a real
    # cluster; at the bench SFs the snapshot is trivially small.
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "__xf")
    ).select(
        "vec_id", "i", F.col("__xf").cast("double").alias("x")
    ).localCheckpoint(eager=False)
    seed = (
        emb.select(
            "vec_id",
            F.md5(F.concat(F.lit("tsdt|kc|"), F.col("vec_id").cast("string"))).alias("__h"),
        )
        .orderBy(F.col("__h").asc(), F.col("vec_id").asc())
        .limit(1)
        .select("vec_id")
    )

    def _dist_to(center_ids: DataFrame) -> DataFrame:
        cvec = ex.join(F.broadcast(center_ids), "vec_id").select(
            "i", F.col("x").alias("__cx")
        )
        term = rd((F.col("x") - F.col("__cx")) * (F.col("x") - F.col("__cx")), 9)
        return (
            ex.join(F.broadcast(cvec), "i")
            .groupBy("vec_id")
            .agg(F.sum(term.cast("decimal(38,9)")).alias("__d"))
        )

    state = _dist_to(seed).withColumnRenamed("__d", "__dmin").localCheckpoint()
    picks = [
        seed.select(
            F.lit(1).alias("round"),
            "vec_id",
            F.lit(None).cast("double").alias("dist2_to_set"),
        )
    ]
    k = 8
    for r in range(2, k + 1):
        p = state.orderBy(F.col("__dmin").desc(), F.col("vec_id").asc()).limit(1)
        picks.append(
            p.select(
                F.lit(r).alias("round"),
                "vec_id",
                rd(F.col("__dmin").cast("double"), 6).alias("dist2_to_set"),
            )
        )
        if r < k:
            dn = _dist_to(p.select("vec_id"))
            state = (
                state.join(dn.hint("shuffle_hash"), "vec_id")
                .select("vec_id", F.least(F.col("__dmin"), F.col("__d")).alias("__dmin"))
                .localCheckpoint()
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


@register(
    "mix_interleave_schedule",
    f"""
    WITH RECURSIVE w AS (
      SELECT doc_id,
             CAST(ceil(length(coalesce(text, '')) / 4.0) AS BIGINT) AS nt,
             source
      FROM documents
    ),
    per AS (
      SELECT source, CAST(sum(nt) AS BIGINT) AS tokens FROM w
      GROUP BY source HAVING sum(nt) > 0
    ),
    arr AS (
      SELECT list(struct_pack(s := source, tk := tokens) ORDER BY source)
               AS a,
             CAST(sum(tokens) AS BIGINT) AS tot
      FROM per
    ),
    sched(step, credits, widx) AS (
      SELECT 0,
             (SELECT list_transform(a, x -> CAST(0 AS BIGINT)) FROM arr),
             CAST(NULL AS BIGINT)
      UNION ALL
      SELECT q.step + 1,
             list_transform(
               list_zip(q.c1, range(1, len(q.c1) + 1)),
               z -> z[1] - CASE WHEN z[2] =
                      list_position(q.c1, list_aggregate(q.c1, 'max'))
                    THEN q.tot ELSE CAST(0 AS BIGINT) END),
             CAST(list_position(q.c1, list_aggregate(q.c1, 'max'))
                  AS BIGINT)
      FROM (
        SELECT s.step AS step,
               list_transform(list_zip(s.credits, ar.a),
                              z -> z[1] + z[2].tk) AS c1,
               ar.tot AS tot
        FROM sched s CROSS JOIN arr ar
        WHERE s.step < {_ILV_N}
      ) q
    )
    SELECT CAST(s.step AS BIGINT) AS step,
           ar.a[s.widx].s AS source,
           CAST(s.credits[s.widx] AS BIGINT) AS credit_after
    FROM sched s CROSS JOIN arr ar
    WHERE s.step >= 1
    """,
)
def _q_mix_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC SOURCE-INTERLEAVE SCHEDULE for a training data
    loader: the first {_ILV_N} batch slots assigned to sources by TRUE
    smooth weighted round-robin (the Nginx/LVS deficit-counter form):
    every slot, each source's credit grows by its token count; the
    richest source (ties -> source-name order, the list scan's first
    max) emits and pays back the corpus total. This is the schedule
    with the real WITHIN-ONE-SLOT guarantee — every prefix of length
    n carries between floor(n*share_s)-ish and that +1 emissions of
    each source (pytest-pinned against a dominant-share mix) — where
    IID sampling wanders O(sqrt n) off-mix and the r9 virtual-time
    rule (emission times j/share) provably drifted up to
    1 + |sources|*share slots on a dominant source (caught by the r10
    prefix test; BENCH_NOTES r10). Credits are EXACT INTEGER token
    counts — no floats anywhere, so both engines replay the recurrence
    bit-for-bit: Spark as one bounded {_ILV_N}-step Catalyst fold over
    the |sources|-entry credit vector (the MMR/invariant-19 shape:
    state is a small array, the fold is the sequential part only),
    DuckDB as a recursive CTE over the same integer state. One
    documents scan for the per-source token sums; everything after is
    |sources|-row arithmetic. Output (step, source, credit_after) —
    credit_after is the winner's post-payback balance, the loader's
    resumable state."""
    docs = _table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source",
            F.ceil(
                F.length(F.coalesce(F.col("text"), F.lit(""))) / F.lit(4.0)
            ).cast("long").alias("__nt"),
        )
        .groupBy("source")
        .agg(F.sum("__nt").cast("long").alias("__tokens"))
        .filter(F.col("__tokens") > 0)
    )
    row = per.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("source"), F.col("__tokens")))
        ).alias("__arr"),
        F.sum("__tokens").cast("long").alias("__tot"),
    )

    def _step(acc, _step_no):
        c1 = F.zip_with(
            acc["cr"], F.col("__arr"), lambda c, x: c + x["__tokens"]
        )
        w = F.array_position(c1, F.array_max(c1))
        c2 = F.transform(
            c1,
            lambda c, i: F.when(
                i == (w - F.lit(1)).cast("int"), c - F.col("__tot")
            ).otherwise(c),
        )
        pick = F.struct(
            w.cast("int").alias("w"),
            F.element_at(c2, w.cast("int")).alias("credit"),
        )
        return F.struct(
            c2.alias("cr"),
            F.concat(acc["picks"], F.array(pick)).alias("picks"),
        )

    init = F.struct(
        F.transform(F.col("__arr"), lambda x: F.lit(0).cast("long")).alias(
            "cr"
        ),
        F.expr(
            "CAST(array() AS array<struct<w: int, credit: bigint>>)"
        ).alias("picks"),
    )
    folded = row.select(
        "__arr",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(_ILV_N)), init, _step
        ).alias("__st"),
    )
    z = folded.select(
        "__arr", F.posexplode(F.col("__st.picks")).alias("__i", "__p")
    )
    return z.select(
        (F.col("__i") + 1).cast("long").alias("step"),
        F.element_at(F.col("__arr"), F.col("__p.w"))
        .getField("source")
        .alias("source"),
        F.col("__p.credit").cast("long").alias("credit_after"),
    )


@register(
    "mix_length_bucket_padding_waste",
    f"""
    WITH w AS (
      SELECT doc_id,
             greatest(CAST(ceil(length(coalesce(text, '')) / 4.0) AS BIGINT),
                      1) AS nt
      FROM documents
    ),
    b AS (
      SELECT nt,
             CAST(power(2, ceil(log2(CAST(nt AS DOUBLE)))) AS BIGINT) AS ub
      FROM w
    ),
    perb AS (
      SELECT ub,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS sum_tokens,
             CAST(count(*) * ub AS BIGINT) AS padded_tokens
      FROM b GROUP BY ub
    ),
    tot AS (
      SELECT CAST(max(ub) AS BIGINT) AS gmax,
             CAST(sum(sum_tokens) AS BIGINT) AS all_tokens,
             CAST(sum(padded_tokens) AS BIGINT) AS all_padded,
             CAST(sum(n_docs) AS BIGINT) AS all_docs
      FROM perb
    )
    SELECT CAST(ub AS BIGINT) AS bucket_ub, n_docs, sum_tokens,
           padded_tokens,
           {R("1.0 - CAST(sum_tokens AS DOUBLE) / padded_tokens", 6)}
             AS waste_share,
           {R("1.0 - CAST(t.all_tokens AS DOUBLE) / t.all_padded", 6)}
             AS bucketed_total_waste,
           {R("1.0 - CAST(t.all_tokens AS DOUBLE) / (t.all_docs * t.gmax)", 6)}
             AS unbucketed_total_waste
    FROM perb CROSS JOIN tot t
    """,
)
def _q_mix_length_bucket_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCHING efficiency — the dynamic-batching
    complement of the packing family: bucket every document's token
    estimate into its power-of-two ceiling (the standard bucketed-
    batching policy when sequences are PADDED, not packed), and report
    per-bucket padding waste next to the two corpus-wide operating
    points a loader owner compares: bucketed total waste vs padding
    everything to the global max (the naive collate). `mix_pack_*`
    answers "how well do we PACK"; this answers "what does padding
    cost if we DON'T" — the number that justifies the packing
    pipeline's existence in one read. Power-of-two edges are exact in
    IEEE (log2 of a positive integer, ceil, power — bit-identical in
    both engines); counts exact, shares 6-dp. ≤log2(max_len) + 1 rows.
    One scan, one bounded agg, one 1-row broadcast."""
    docs = _table(spark, sf_dir, "documents")
    w = docs.select(
        F.greatest(
            F.ceil(
                F.length(F.coalesce(F.col("text"), F.lit(""))) / F.lit(4.0)
            ).cast("long"),
            F.lit(1).cast("long"),
        ).alias("__nt")
    )
    b = w.select(
        "__nt",
        F.pow(F.lit(2.0), F.ceil(F.log2(F.col("__nt").cast("double"))))
        .cast("long")
        .alias("__ub"),
    )
    perb = b.groupBy("__ub").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("sum_tokens"),
    ).withColumn(
        "padded_tokens", (F.col("n_docs") * F.col("__ub")).cast("long")
    )
    tot = perb.agg(
        F.max("__ub").cast("long").alias("__gmax"),
        F.sum("sum_tokens").cast("long").alias("__all_tokens"),
        F.sum("padded_tokens").cast("long").alias("__all_padded"),
        F.sum("n_docs").cast("long").alias("__all_docs"),
    )
    return perb.crossJoin(F.broadcast(tot)).select(
        F.col("__ub").alias("bucket_ub"),
        "n_docs",
        "sum_tokens",
        "padded_tokens",
        rd(
            F.lit(1.0)
            - F.col("sum_tokens").cast("double") / F.col("padded_tokens"),
            6,
        ).alias("waste_share"),
        rd(
            F.lit(1.0)
            - F.col("__all_tokens").cast("double") / F.col("__all_padded"),
            6,
        ).alias("bucketed_total_waste"),
        rd(
            F.lit(1.0)
            - F.col("__all_tokens").cast("double")
            / (F.col("__all_docs") * F.col("__gmax")).cast("double"),
            6,
        ).alias("unbucketed_total_waste"),
    )


# ---------------------------------------------------------------------------
# r11 wave 2: max-min fair (water-filling) token budget across sources.
# ---------------------------------------------------------------------------

_WF_BUDGET_FRAC = 2  # budget = total_tokens div 2 (integer)


@register(
    "mix_waterfill_token_budget",
    f"""
    WITH av AS (
      SELECT source,
             sum(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split(trim(text), ' ')) END) AS avail
      FROM documents WHERE text IS NOT NULL
      GROUP BY source
    ),
    tot AS (
      SELECT sum(avail) AS total, count(*) AS n,
             sum(avail) // {_WF_BUDGET_FRAC} AS b
      FROM av
    ),
    rk AS (
      SELECT av.*, tot.n, tot.b,
             row_number() OVER (ORDER BY avail ASC, source ASC) AS k,
             sum(avail) OVER (
               ORDER BY avail ASC, source ASC ROWS UNBOUNDED PRECEDING
             ) AS pfx
      FROM av CROSS JOIN tot
    ),
    fe AS (
      SELECT *, CASE WHEN pfx + (n - k) * avail <= b THEN 1 ELSE 0 END AS feas
      FROM rk
    ),
    jj AS (
      SELECT coalesce(sum(feas), 0) AS j,
             coalesce(max(CASE WHEN feas = 1 THEN pfx END), 0) AS pfxj
      FROM fe
    ),
    lvl AS (
      SELECT CASE WHEN jj.j < tot.n
                  THEN (tot.b - jj.pfxj) // (tot.n - jj.j) END AS c
      FROM jj CROSS JOIN tot
    )
    SELECT fe.source,
           CAST(fe.avail AS BIGINT) AS avail_tokens,
           CAST(fe.b AS BIGINT) AS budget_tokens,
           CAST(CASE WHEN fe.feas = 1 THEN fe.avail ELSE lvl.c END
                AS BIGINT) AS allocated_tokens,
           fe.feas = 0 AS capped,
           CAST(lvl.c AS BIGINT) AS water_level
    FROM fe CROSS JOIN lvl
    """,
)
def _q_mix_waterfill_token_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAX-MIN FAIR token-budget allocation across sources
    (water-filling): given a global budget (half the corpus here),
    give every source as much as possible subject to no source
    getting more than the common water level C — small sources keep
    everything they have, large sources are capped at C, with C the
    largest integer level the budget affords. This is the principled
    alternative to temperature sampling when the goal is "no source
    dominates, no source is starved" (max-min fairness; the classic
    link-capacity water-fill applied to data mixing).

    Closed form, no iteration: sort sources by availability
    ascending; source k is UNCAPPED iff prefix_k + (n−k)·avail_k ≤ B
    (funding the k smallest fully and everyone above at avail_k
    already fits) — that predicate is monotone in k, so j = count of
    feasible rows and C = (B − prefix_j) div (n − j). All integer
    math end to end (budget and level via integer division). The rank
    and prefix sums run over the BOUNDED per-source table as a
    sorted-array fold (collect into one sort_array struct, posexplode,
    prefix via an array-slice aggregate — the DTW/MMR bounded-fold
    precedent), NOT a keyless Window: |sources| rows is driver-tiny
    but the no-keyless-window invariant is mechanical and earned. The
    corpus scan is the entire cost at any scale. Mix-family extension
    (the reference repo has no sampling surface)."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    av = docs.groupBy("source").agg(
        F.sum(tx.token_count(F.col("text"))).alias("avail")
    )
    arr = av.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("avail"), F.col("source")))
        ).alias("a"),
        F.count(F.lit(1)).alias("__n"),
        # integer `div`, not double `/` + cast: IEEE division of a
        # >2^53 token total would round before truncation while the
        # oracle's `//` is exact at any scale (ADVICE r11 #3) — keep
        # the all-integer-math docstring claim true end to end.
        F.expr(f"sum(avail) div {_WF_BUDGET_FRAC}").alias("__b"),
    )
    rk = (
        arr.select(
            "__n", "__b", "a", F.posexplode("a").alias("__k0", "__s")
        )
        .select(
            F.col("__s.source").alias("source"),
            F.col("__s.avail").alias("avail"),
            (F.col("__k0") + 1).alias("k"),
            F.expr(
                "aggregate(slice(a, 1, __k0 + 1), CAST(0 AS BIGINT),"
                " (acc, x) -> acc + x.avail)"
            ).alias("pfx"),
            "__n",
            "__b",
        )
        .withColumn(
            "feas",
            (
                F.col("pfx") + (F.col("__n") - F.col("k")) * F.col("avail")
                <= F.col("__b")
            ).cast("int"),
        )
    )
    jj = rk.agg(
        F.coalesce(F.sum("feas"), F.lit(0)).alias("__j"),
        F.coalesce(
            F.max(F.when(F.col("feas") == 1, F.col("pfx"))), F.lit(0)
        ).alias("__pfxj"),
        F.max("__n").alias("__nn"),
        F.max("__b").alias("__bb"),
    )
    lvl = jj.select(
        F.when(
            F.col("__j") < F.col("__nn"),
            # same exactness rule as __b: long `div`, never
            # double-divide-then-floor (oracle uses `//`)
            F.expr("(__bb - __pfxj) div (__nn - __j)"),
        )
        .cast("long")
        .alias("__c")
    )
    return rk.crossJoin(F.broadcast(lvl)).select(
        "source",
        F.col("avail").cast("long").alias("avail_tokens"),
        F.col("__b").cast("long").alias("budget_tokens"),
        F.when(F.col("feas") == 1, F.col("avail"))
        .otherwise(F.col("__c"))
        .cast("long")
        .alias("allocated_tokens"),
        (F.col("feas") == 0).alias("capped"),
        F.col("__c").cast("long").alias("water_level"),
    )


@register(
    "mix_temperature_sweep_entropy",
    f"""
    WITH c AS (
      SELECT coalesce(CAST(source AS VARCHAR), '<NULL>') AS src,
             count(*) AS c
      FROM documents GROUP BY 1
    ),
    taus AS (
      SELECT unnest([CAST(1 AS INT), 2, 4]) AS tau
    ),
    w AS (
      SELECT t.tau, c.src,
             CASE t.tau WHEN 1 THEN CAST(c.c AS DOUBLE)
                        WHEN 2 THEN {R("sqrt(CAST(c.c AS DOUBLE))", 9)}
                        ELSE {R("sqrt(sqrt(CAST(c.c AS DOUBLE)))", 9)}
             END AS wt
      FROM c CROSS JOIN taus t
    ),
    tot AS (
      SELECT tau,
             CAST(sum(CAST(wt AS DECIMAL(38,9))) AS DOUBLE) AS tw,
             count(*) AS n_sources
      FROM w GROUP BY tau
    ),
    p AS (
      SELECT w.tau, {R("w.wt / tot.tw", 9)} AS p
      FROM w JOIN tot ON tot.tau = w.tau
    )
    SELECT p.tau,
           CAST(max(tot.n_sources) AS BIGINT) AS n_sources,
           {R("CAST(sum(CAST(CASE WHEN p.p > 0.0 THEN"
              f" {R('-p.p * ln(p.p)', 9)} ELSE 0.0 END"
              " AS DECIMAL(38,9))) AS DOUBLE)", 6)} AS entropy_nats,
           {R("exp(CAST(sum(CAST(CASE WHEN p.p > 0.0 THEN"
              f" {R('-p.p * ln(p.p)', 9)} ELSE 0.0 END"
              " AS DECIMAL(38,9))) AS DOUBLE))", 6)} AS eff_sources,
           {R("max(p.p)", 6)} AS max_share
    FROM p JOIN tot ON tot.tau = p.tau
    GROUP BY p.tau
    """,
)
def _q_mix_temperature_sweep_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEMPERATURE-SWEEP mix diagnostics: for τ ∈ {{1, 2, 4}} compute
    the temperature-scaled source distribution p_s ∝ c_s^(1/τ) and
    report its Shannon entropy, EFFECTIVE source count exp(H) (the
    number every mixing paper quotes — how many sources the mix
    "really" has), and the dominant source's share. This is the
    decision table read BEFORE committing to a temperature
    (`mix_temperature_sample` then applies the chosen one): τ=1 shows
    raw dominance, higher τ flattens toward uniform. Exactness: the
    exponents 1/τ ∈ {{1, ½, ¼}} are computed as sqrt / sqrt∘sqrt —
    IEEE-754 requires CORRECTLY-ROUNDED sqrt, so the weights are
    bit-identical across engines with no pow() cross-engine risk; ln
    rides the established rd-9 entropy idiom and sums accumulate in
    decimal. One source-keyed count ×3 τ rows — constant cost at any
    corpus size beyond the scan."""
    docs = _table(spark, sf_dir, "documents")
    c = docs.groupBy(
        F.coalesce(F.col("source").cast("string"), F.lit("<NULL>")).alias(
            "src"
        )
    ).agg(F.count(F.lit(1)).alias("c"))
    taus = F.explode(
        F.array(F.lit(1), F.lit(2), F.lit(4))
    ).alias("tau")
    w = c.select("src", "c", taus).select(
        "tau",
        "src",
        F.when(F.col("tau") == 1, F.col("c").cast("double"))
        .when(F.col("tau") == 2, rd(F.sqrt(F.col("c").cast("double")), 9))
        .otherwise(rd(F.sqrt(F.sqrt(F.col("c").cast("double"))), 9))
        .alias("wt"),
    )
    tot = w.groupBy("tau").agg(
        F.sum(F.col("wt").cast("decimal(38,9)"))
        .cast("double")
        .alias("tw"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    p = w.join(tot.hint("shuffle_hash"), "tau").select(
        "tau", "n_sources", rd(F.col("wt") / F.col("tw"), 9).alias("p")
    )
    hterm = F.when(
        F.col("p") > 0.0, rd(-F.col("p") * F.log(F.col("p")), 9)
    ).otherwise(F.lit(0.0))
    h = F.sum(hterm.cast("decimal(38,9)")).cast("double")
    return p.groupBy("tau").agg(
        F.max("n_sources").cast("long").alias("n_sources"),
        rd(h, 6).alias("entropy_nats"),
        rd(F.exp(h), 6).alias("eff_sources"),
        rd(F.max("p"), 6).alias("max_share"),
    )


_RES_K = 5
_RES_SEED = "tsdt|res"


@register(
    "sample_reservoir_weighted",
    f"""
    WITH d AS (
      SELECT doc_id,
             coalesce(CAST(source AS VARCHAR), '<NULL>') AS src,
             CASE WHEN text IS NULL OR trim(text) = '' THEN 1
                  ELSE len(string_split(trim(text), ' ')) END AS w
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, src, w,
             {R("ln((" + sp.sql_hash_u32("doc_id", _RES_SEED)
                + " + 0.5) / 4294967296.0) / w", 9)} AS k
      FROM d
    ),
    rk AS (
      SELECT doc_id, src, w, k,
             row_number() OVER (PARTITION BY src
                                ORDER BY k DESC, doc_id ASC) AS rnk
      FROM keyed
    )
    SELECT src AS source, CAST(rnk AS INTEGER) AS rank,
           doc_id, CAST(w AS BIGINT) AS weight_tokens, k AS res_key
    FROM rk WHERE rnk <= {_RES_K}
    """,
)
def _q_sample_reservoir_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED RESERVOIR SAMPLE (Efraimidis-Spirakis A-ES), k={_RES_K}
    per source, weight = whitespace token count — the one-pass
    distributed answer to "give me a k-doc sample per domain where
    long documents are proportionally more likely", the standard
    inclusion design for eyeballing/QA-ing a giant corpus by token
    mass rather than doc count. A-ES key: u^(1/w) with u uniform ⇔
    rank by ln(u)/w descending (order-equivalent, overflow-free); u
    is the PORTABLE md5 coin ((hash_u32+0.5)/2^32 — same bits in
    Spark/DuckDB/Python, the hash_sample precedent), ln rides the
    established rd-9 idiom, ties broken by doc_id. The window is
    keyed by source (never keyless); at 100 TB this is one scan + one
    source-keyed top-k — and because the key is a pure function of
    (seed, doc_id, w), the sample is REPRODUCIBLE and mergeable
    across partitions/batches by construction (keep the k largest
    keys under union — the streaming-reservoir property A-ES is
    chosen for)."""
    docs = _table(spark, sf_dir, "documents")
    w = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(1)
    ).otherwise(tx.token_count(F.col("text")))
    u = (
        (sp.hash_u32(F.col("doc_id"), _RES_SEED) + F.lit(0.5))
        / F.lit(4294967296.0)
    )
    keyed = docs.select(
        "doc_id",
        F.coalesce(F.col("source").cast("string"), F.lit("<NULL>")).alias(
            "src"
        ),
        w.alias("__w"),
    ).select(
        "doc_id",
        "src",
        "__w",
        rd(F.log(u) / F.col("__w"), 9).alias("__k"),
    )
    rk = keyed.select(
        "doc_id",
        "src",
        "__w",
        "__k",
        F.row_number()
        .over(
            Window.partitionBy("src").orderBy(
                F.col("__k").desc(), F.col("doc_id").asc()
            )
        )
        .alias("__rnk"),
    ).filter(F.col("__rnk") <= _RES_K)
    return rk.select(
        F.col("src").alias("source"),
        F.col("__rnk").cast("int").alias("rank"),
        "doc_id",
        F.col("__w").cast("long").alias("weight_tokens"),
        F.col("__k").alias("res_key"),
    )


_KF_K = 5
_KF_SEED = "tsdt|kfold"


@register(
    "sample_group_kfold_assignment",
    f"""
    WITH e AS (
      SELECT user_id, CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL
    ),
    f AS (
      SELECT user_id, vq,
             {sp.sql_hash_u32("user_id", _KF_SEED)} % {_KF_K} AS fold
      FROM e
    ),
    tot AS (SELECT count(*) AS n FROM f)
    SELECT CAST(fold AS INTEGER) AS fold,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_rows,
           {R("CAST(count(*) AS DOUBLE) / max(tot.n)", 6)} AS row_share,
           {R("CAST(sum(vq) AS DOUBLE) / count(*) / 10000.0", 6)}
             AS mean_value
    FROM f CROSS JOIN tot
    GROUP BY fold
    """,
)
def _q_sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE k-fold assignment (k={_KF_K}, grouped by user) —
    the leakage-safe CV split: every row of a user lands in the SAME
    fold (fold = portable md5 hash of user_id mod k), so no user
    straddles train/validation — the within-entity leak that inflates
    every per-user-feature model, prevented by construction rather
    than audited after (`mix_split_leakage_audit` checks an existing
    split; this OWNS the assignment). The report is the balance
    check read before trusting the folds: per fold, user/row counts,
    row share (should be ≈1/k), and the outcome mean (a fold whose
    target mean deviates is a stratification warning — the SRM-check
    shape applied to CV). Deterministic, seedable, reproducible on
    any engine; one scan + one grouped aggregate."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    f = ev.select(
        "user_id",
        F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("__vq"),
        (sp.hash_u32(F.col("user_id"), _KF_SEED) % F.lit(_KF_K)).alias(
            "fold"
        ),
    )
    tot = f.agg(F.count(F.lit(1)).alias("__n"))
    n = F.count(F.lit(1))
    return (
        f.crossJoin(F.broadcast(tot))
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            n.cast("long").alias("n_rows"),
            rd(n.cast("double") / F.max("__n"), 6).alias("row_share"),
            rd(
                F.sum("__vq").cast("double") / n / F.lit(10000.0), 6
            ).alias("mean_value"),
        )
        .select(
            F.col("fold").cast("int").alias("fold"),
            "n_users",
            "n_rows",
            "row_share",
            "mean_value",
        )
    )
