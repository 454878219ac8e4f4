"""Deduplication operators for large-scale corpus pipelines.

Beyond reference parity (BASELINE.json north-star): exact dedup,
MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection over a
``documents(doc_id, text, …)`` table.

Scale design:

* Exact dedup is a hash-groupBy on ``md5(text)`` — never on the raw
  text (shuffling 100 TB of text bytes vs 32-byte digests).
* MinHash signatures are computed scan-side (one pass, no shuffle);
  only the tiny (doc_id, band, band_key) tuples shuffle for the LSH
  bucket self-join. Bucket sizes are bounded by construction, so the
  self-join explodes only within buckets — the standard
  shingle→minhash→band→bucket-join pipeline.
* All hashing is md5-based (identical in Spark, DuckDB, Python) so
  every operator is oracle-checkable; engine-native ``hash()`` is
  never used.

MinHash here takes the LEXICOGRAPHIC min of per-seed md5 hex digests —
an order statistic on a uniform hash family, equivalent to numeric min
of the underlying 128-bit values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.operators.probe import checkpoint_observed

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2
DEFAULT_SHINGLE = 3
#: default per-length-block cap for exact-Jaccard pairing: bounds each
#: block's pair work at C(1000, 2) ≈ 5·10^5 comparisons regardless of
#: corpus skew (an unbounded block on boilerplate-heavy corpora is
#: quadratic in the block size — the classic silent scale-killer)
DEFAULT_MAX_BUCKET = 1000


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5-keyed groupBy keeping the smallest id.

    Returns (content_key, keep_id, dup_count). ``dup_count > 1`` rows
    are duplicate clusters; survivors = the keep_id per key.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("content_key")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivors only: one row per distinct text (smallest id wins).

    Implemented as ``row_number() over (partition by md5(text) order by
    id) = 1`` — a single shuffle by content digest and no join at all.
    (The previous form broadcast an O(distinct-docs) survivor-id set,
    which grows linearly with the corpus and OOMs at scale.)
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------


def word_shingles(text: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct word n-grams of a whitespace-tokenized text; texts with
    fewer than n words collapse to one whole-text shingle."""
    words = F.split(text, " ")
    k = F.size(words) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.array_distinct(F.when(k >= 1, grams).otherwise(F.array(F.concat_ws(" ", words))))


def minhash_signature(text: Column, num_hashes: int = DEFAULT_NUM_HASHES, n: int = DEFAULT_SHINGLE) -> Column:
    """MinHash signature as array<string> of lexicographic minima.

    Hash family: one md5 per shingle yields four independent 32-bit
    (8-hex) slices; a second salted digest (``md5('x' || shingle)``)
    yields four more — 8 hash functions from 2 md5 calls instead of 8
    (md5 dominates signature cost at scale). Per seed s the signature
    is the lexicographic min over shingles of slice s.
    """
    assert num_hashes <= 8, "hash family is sliced from two md5 digests"
    sh = word_shingles(text, n)

    def slicer(start: int, salted: bool):
        # single-arg closure: a default-arg lambda would have arity 2 and
        # pyspark's transform() would feed the array INDEX into it
        if salted:
            return lambda x: F.substring(F.md5(F.concat(F.lit("x"), x)), start, 8)
        return lambda x: F.substring(F.md5(x), start, 8)

    sigs = [
        F.array_min(F.transform(sh, slicer((s % 4) * 8 + 1, s >= 4)))
        for s in range(num_hashes)
    ]
    return F.array(*sigs)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(id, sig array<string>) via explode + map-side-combined min aggs.

    4× faster than the expression form (`minhash_signature`): shingles
    materialize ONCE (Catalyst does not CSE across higher-order
    lambdas), each shingle pays exactly 2 md5 calls, and the per-seed
    minima are partial-aggregated before the shuffle. The explicit
    partition count matters: AQE would coalesce this CPU-bound stage to
    one task based on its tiny byte size.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    d = df.repartition(par, F.col(id_col))
    sh = d.select(F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle)).alias("g"))
    h = sh.select(
        id_col,
        F.md5("g").alias("h1"),
        F.md5(F.concat(F.lit("x"), F.col("g"))).alias("h2"),
    )
    mins = [
        F.min(F.substring(F.col("h1" if s < 4 else "h2"), (s % 4) * 8 + 1, 8)).alias(f"s{s}")
        for s in range(num_hashes)
    ]
    agg = h.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"s{s}") for s in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    signature → bands of ``band_size`` hashes → band key = md5(joined
    band) → per-bucket pair explosion → distinct (id_a < id_b). Only
    (id, band, key) tuples shuffle; signatures never leave the map side.
    """
    assert num_hashes % band_size == 0
    d = minhash_signatures(df, id_col, text_col, num_hashes, shingle)
    bands = d.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col("sig")[b * band_size + j] for j in range(band_size)]
                            )
                        ).alias("key"),
                    )
                    for b in range(num_hashes // band_size)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # Single-pass bucket explode instead of a self-join: a self-join would
    # recompute the whole shingle→md5 pipeline for BOTH sides; collecting
    # ids per (band, key) bucket shuffles only the tiny key tuples and
    # emits each bucket's pairs with array combinatorics (bucket sizes
    # are bounded by construction, so the quadratic blowup is local).
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_arrays = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Estimated Jaccard for candidate pairs: fraction of agreeing
    signature positions."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle)
    a = sig.alias("a")
    b = sig.alias("b")
    j = (
        pairs.join(a, pairs["id_a"] == F.col(f"a.{id_col}"))
        .join(b, pairs["id_b"] == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (
                F.aggregate(
                    F.zip_with(
                        F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("jaccard_est"),
        )
    )
    return j


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification pass / standalone near-dup)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    length_bucket: int = 64,
    min_jaccard: float = 0.0,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Exact Jaccard over distinct word n-gram sets for candidate pairs
    blocked by a text-length bucket (near-dups have near-equal length;
    adjacent buckets are compared too, so the blocking is conservative
    for ``min_jaccard ≳ length_bucket``-consistent thresholds).

    Jaccard = |A∩B| / |A∪B| — an exact ratio of integers, so the
    output is engine-deterministic with no float accumulation.

    The within-bucket pairing is quadratic and length distributions are
    skewed in real corpora, so an unbounded bucket explodes at scale:
    each block is therefore capped at its first ``max_bucket`` docs by
    id BY DEFAULT (deterministic truncation — bounded recall loss,
    never a blowup; per-block pair work ≤ C(max_bucket, 2)). Pass
    ``max_bucket=None`` explicitly to run unbounded — that is a
    verification/small-corpus path, not a default. Use
    `ngram_jaccard_overflow` with the same cap to see which blocks were
    truncated and by how much; production pipelines alert on that
    report rather than silently absorbing an O(|B|²) stage.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if max_bucket is not None and min_jaccard > 0:
        # the scale default gets the digest-collapsed plan (r5)
        return _ngram_jaccard_capped_digest(
            df, id_col, text_col, n, length_bucket, min_jaccard, max_bucket
        )
    if max_bucket is not None:
        # cap FIRST, shingle the survivors: the cap window then shuffles
        # (id, text, blk) instead of the larger distinct-gram arrays, and
        # shingling cost drops from O(corpus) to O(cap · blocks).
        # WindowGroupLimit (rank-limit pushdown) prunes each block to the
        # first max_bucket ids before the full sort materializes.
        from pyspark.sql import Window

        base = df.repartition(par, F.col(id_col)).select(
            F.col(id_col),
            F.col(text_col),
            F.floor(F.length(text_col) / F.lit(length_bucket)).alias("bucket"),
        )
        cand = base.select(
            id_col, text_col, F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("blk")
        )
        wb = Window.partitionBy("blk").orderBy(F.col(id_col).asc())
        cand = (
            cand.withColumn("__rn", F.row_number().over(wb))
            .filter(F.col("__rn") <= int(max_bucket))
            .select(id_col, word_shingles(F.col(text_col), n).alias("grams"), "blk")
        )
    else:
        base = df.repartition(par, F.col(id_col)).select(
            F.col(id_col),
            word_shingles(F.col(text_col), n).alias("grams"),
            F.floor(F.length(text_col) / F.lit(length_bucket)).alias("bucket"),
        )
        cand = base.select(
            id_col, "grams", F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("blk")
        )
    if min_jaccard > 0:
        # inverted-index pairing: explode grams and count co-occurrences
        # per (block, pair) — |A∩B| arrives as a map-side-combined count
        # of NARROW (blk, gram, id) rows, and |A∪B| = |A|+|B|−|A∩B| from
        # a per-doc size table. Pairs sharing no gram never materialize,
        # which is exactly the τ>0 result set (Jaccard ≥ τ > 0 implies a
        # shared gram). The alternative block self-join carries two full
        # gram ARRAYS through every candidate row and re-scans them with
        # array_intersect/array_union — measured 6.5× slower at sf0.1
        # (78s → 12s) with far wider shuffle rows; it remains the τ=0
        # path below (zero-overlap pairs must be emitted there).
        g = cand.select(F.col(id_col), "blk", F.explode("grams").alias("g"))
        sz = cand.select(F.col(id_col), F.size("grams").alias("sz")).dropDuplicates(
            [id_col]
        )
        if max_bucket is not None:
            # postings-list pairing (r4): group ids per (block, gram) and
            # stream each posting's pairs through two chained generators.
            # One execution of the cap+shingle pipeline and ONE shuffle —
            # the previous gram self-join re-executed that pipeline for
            # BOTH join sides (measured 1.5× slower). Posting arrays are
            # bounded by the block cap, so per-row memory is bounded by
            # construction.
            posts = (
                g.groupBy("blk", "g")
                .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
                .filter(F.size("ids") > 1)
            )
            co = (
                posts.select("blk", "ids", F.posexplode("ids").alias("i", "id_a"))
                .select(
                    "blk",
                    "id_a",
                    F.explode(
                        F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
                    ).alias("id_b"),
                )
            )
        else:
            # unbounded path: boilerplate grams could make a posting array
            # as large as a whole block, so pairs stream through a join
            ga, gb = g.alias("ga"), g.alias("gb")
            co = ga.join(
                gb,
                (F.col("ga.blk") == F.col("gb.blk"))
                & (F.col("ga.g") == F.col("gb.g"))
                & (F.col(f"ga.{id_col}") < F.col(f"gb.{id_col}")),
            ).select(
                F.col(f"ga.{id_col}").alias("id_a"),
                F.col(f"gb.{id_col}").alias("id_b"),
                F.col("ga.blk").alias("blk"),
            )
        inter = (
            co.groupBy("blk", "id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("i"))
            # a pair lands in up to two adjacent blocks with the SAME
            # intersection — max() dedups without a distinct pass
            .groupBy("id_a", "id_b")
            .agg(F.max("i").alias("i"))
        )
        sa = sz.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sza"))
        sb = sz.select(F.col(id_col).alias("id_b"), F.col("sz").alias("szb"))
        out = (
            inter.join(sa.hint("shuffle_hash"), "id_a")
            .join(sb.hint("shuffle_hash"), "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("i").cast("double")
                    / (F.col("sza") + F.col("szb") - F.col("i")).cast("double")
                ).alias("jaccard"),
            )
        )
        return out.filter(F.col("jaccard") >= min_jaccard)

    a = cand.alias("a")
    b = cand.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.grams").alias("ga"),
        F.col("b.grams").alias("gb"),
    ).dropDuplicates(["id_a", "id_b"])
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    out = pairs.select(
        "id_a", "id_b", (inter.cast("double") / union.cast("double")).alias("jaccard")
    )
    return out


def _ngram_jaccard_capped_digest(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    length_bucket: int,
    min_jaccard: float,
    max_bucket: int,
) -> DataFrame:
    """Digest-collapsed form of the capped τ>0 Jaccard path (r5).

    Output-identical to the doc-level pipeline (same cap semantics:
    first ``max_bucket`` DOCS by id per block), but all quadratic-ish
    work happens on DISTINCT CONTENT:

    * the cap window ranks narrow ``(id, digest, blk)`` rows — the text
      column never enters that shuffle (the previous plan shuffled every
      text twice through the block window);
    * shingling runs ONCE per distinct surviving digest, not once per
      (doc, block) — on a dup-dense corpus (real crawl corpora carry
      30%+ exact dups) shingle+posting cost tracks unique content while
      the dup families ride along in a membership table;
    * τ-filtering happens on DIGEST pairs, so only qualifying content
      pairs fan out to doc pairs (output-sized work by construction);
      byte-identical families contribute intra-family pairs at
      jaccard 1.0 directly from membership, with zero gram work.

    Identical texts have identical gram sets, lengths, and therefore
    blocks, so digest-level Jaccard equals doc-level Jaccard and the
    per-block co-survival join reconstructs exactly the doc pairs the
    uncollapsed plan emits. Degenerate NULL-text rows group under a
    sentinel digest (one NULL block row each, `word_shingles`' single
    whole-text shingle) rather than the uncollapsed plan's duplicated
    NULL-block rows — the one intentional divergence.
    """
    from pyspark.sql import Window

    # r14 (guide §2.5): at the test SFs the documents scan is one row
    # group ⇒ one task, and AQE coalesces the tiny-byte post-shuffle
    # stages to 1 task as well — so BOTH md5-heavy stages (the digest
    # scan and the per-distinct-digest shingle explode after the semi
    # join, profiled at ~5.5 s on 1 of 32 cores) serialize. `tiny`
    # keys the guard off the scan split count: at real scale the scan
    # has ≥ par splits and post-shuffle partitions carry real bytes,
    # so no extra exchange is ever inserted there.
    par = df.sparkSession.sparkContext.defaultParallelism
    tiny = df.rdd.getNumPartitions() < par
    if tiny:
        df = df.repartition(par, F.col(id_col))
    digest = F.md5(F.coalesce(F.col(text_col), F.lit("<NULL:ngram>")))
    # narrow membership rows; blk is a function of the digest (identical
    # text => identical length), so it rides along without text.
    # array_distinct collapses the NULL-bucket [NULL, NULL] explode to
    # one row without an extra shuffle.
    memb = df.select(
        F.col(id_col),
        digest.alias("__dg"),
        F.floor(F.length(text_col) / F.lit(length_bucket)).alias("bucket"),
    ).select(
        id_col,
        "__dg",
        F.explode(
            F.array_distinct(F.array(F.col("bucket"), F.col("bucket") + 1))
        ).alias("blk"),
    )
    wb = Window.partitionBy("blk").orderBy(F.col(id_col).asc())
    surv = (
        memb.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= int(max_bucket))
        .select(id_col, "__dg", "blk")
    )
    # ONE (blk, digest) → sorted-member-ids frame feeds every downstream
    # consumer (postings, the reps semi-join, both expansion sides, the
    # within-family arm). Catalyst prunes different column subsets below
    # each consumer's Exchange, so without materialization the
    # scan+md5+cap-window+agg subtree re-executed per consumer (5×).
    # r13 (guide §2.4/§5): lazy localCheckpoint — BOUNDED rows (≤ cap
    # ids per block across all families), snapshot is per-DataFrame so
    # each bench invocation still recomputes from parquet (unlike
    # persist(), whose CacheManager plan-matching could silently serve
    # a first iteration's cache to later ones and fake steady-state).
    fam = surv.groupBy("blk", "__dg").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    ).localCheckpoint(eager=False)
    # one gram set per distinct SURVIVING digest. dropDuplicates before
    # the semi-join gets map-side partial aggregation: duplicate texts
    # collapse locally before any text byte shuffles.
    reps = (
        df.select(digest.alias("__dg"), F.col(text_col))
        .dropDuplicates(["__dg"])
        .join(fam.select("__dg").distinct().hint("shuffle_hash"), "__dg", "leftsemi")
    )
    if tiny:
        # pin the shingle stage's parallelism on tiny corpora — AQE
        # coalesces the semi-join reduce to 1 task on bytes alone and
        # the whole-corpus shingle explode would run serially there.
        # The checkpoint makes the pin stick: without it the projection
        # executes in the bg-join stage below, whose OTHER side AQE
        # coalesces to 1 partition, forcing a 1-partition re-exchange
        # of this side too. Skipped entirely at scale (tiny=False).
        reps = reps.repartition(par, "__dg").select(
            "__dg", word_shingles(F.col(text_col), n).alias("grams")
        ).localCheckpoint(eager=False)
    else:
        reps = reps.select(
            "__dg", word_shingles(F.col(text_col), n).alias("grams")
        )
    # inverted index over (block, gram) at DIGEST granularity: posting
    # arrays hold distinct digests, bounded by the block cap. Each
    # posting entry carries its digest's gram-set SIZE (functionally
    # dependent on the digest), so |A| and |B| arrive with the pair and
    # no per-side size join is needed downstream.
    blk_dg = fam.select("blk", "__dg")
    gx = reps.select(
        "__dg", F.size("grams").alias("__sz"), F.explode("grams").alias("g")
    )
    bg = blk_dg.join(gx.hint("shuffle_hash"), "__dg")
    if tiny:
        # pin the posting/pair stage too: the groupBy reuses this
        # user-pinned exchange (same (blk, g) hash clustering), so the
        # posting build + the candidate pair explode + the digest-pair
        # aggregation below all run at `par` instead of the 1 task AQE
        # coalesces tiny gram bytes to (profiled: 4.7 s on 1 core)
        bg = bg.repartition(par, "blk", "g")
    posts = (
        bg.groupBy("blk", "g")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__dg").alias("d"), F.col("__sz").alias("s")))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    co = posts.select(
        "blk", "ds", F.posexplode("ds").alias("i", "a")
    ).select(
        "blk",
        F.col("a.d").alias("dg_a"),
        F.col("a.s").alias("sza"),
        F.explode(F.slice(F.col("ds"), F.col("i") + 2, F.size("ds"))).alias("b"),
    ).select("blk", "dg_a", "sza", F.col("b.d").alias("dg_b"), F.col("b.s").alias("szb"))
    dp = (
        co.groupBy("blk", "dg_a", "dg_b", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("i"))
        .withColumn(
            "jaccard",
            F.col("i").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("i")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("blk", "dg_a", "dg_b", "jaccard")
    )
    # qualifying digest pairs fan out to the doc pairs that CO-SURVIVE
    # in that block (the cap is per doc, so a digest family may be
    # partially capped — joining per-block family membership preserves
    # the doc-level cap semantics exactly)
    ma = fam.select(
        "blk", F.col("__dg").alias("dg_a"), F.col("ids").alias("ids_a")
    )
    mb = fam.select(
        "blk", F.col("__dg").alias("dg_b"), F.col("ids").alias("ids_b")
    )
    if tiny:
        # pin the membership-join/doc-fan-out stages too (same
        # pathology: qualifying digest pairs are few bytes, the pair
        # fan-out is the CPU)
        dp = dp.repartition(par, "blk", "dg_a")
    j1 = dp.join(ma.hint("shuffle_hash"), ["blk", "dg_a"])
    if tiny:
        j1 = j1.repartition(par, "blk", "dg_b")
    cross = (
        j1.join(mb.hint("shuffle_hash"), ["blk", "dg_b"])
        .select(F.explode("ids_a").alias("__ia"), "ids_b", "jaccard")
        .select(
            "__ia", F.explode("ids_b").alias("__ib"), "jaccard"
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "jaccard",
        )
    )
    # byte-identical family members: every co-surviving pair is a
    # jaccard-1.0 output row (identical non-empty gram sets always share
    # grams; word_shingles never returns an empty array). Generated
    # straight from membership — no gram work at all.
    within = (
        fam.filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias(
                "id_b"
            ),
        )
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
        # same τ contract as the cross arm (a τ>1 caller gets no rows)
        .filter(F.lit(1.0) >= F.lit(float(min_jaccard)))
    )
    # a pair can appear under up to two adjacent blocks with the same
    # jaccard — one agg dedups both arms
    both = cross.unionByName(within)
    if tiny:
        # pin the doc-pair fan-out + dedup stage on tiny corpora (same
        # AQE-coalesce pathology as the posting stage above)
        both = both.repartition(par, "id_a", "id_b")
    return (
        both.groupBy("id_a", "id_b")
        .agg(F.max("jaccard").alias("jaccard"))
    )


def prefix_join_candidates(
    toks: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    use_length_filter: bool = True,
    use_positional_filter: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Candidate-pair stage of the PPJoin-style exact τ-Jaccard join:
    (candidate id pairs, ranked token frame). Split out so the filter
    contributions are measurable (scripts/scaling_run.py counts
    candidates with each filter toggled); `ngram_jaccard_prefix_pairs`
    always runs with both filters on — they only prune, never drop a
    qualifying pair (proof sketches in its docstring).

    ``toks``: (id_col, g) exploded token/gram rows, one per distinct
    gram per doc.
    """
    tau = float(min_jaccard)

    # ceil with a 1e-9 slack: exact-integer products that float jitter
    # pushes above the integer still ceil to the true value, so every
    # derived bound errs on the side of MORE candidates, never fewer.
    def _safe_ceil(x):
        return F.ceil(x - F.lit(1e-9))

    dfc = toks.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(dfc.hint("shuffle_hash"), "g")
    from pyspark.sql import Window

    wdoc = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("g").asc())
    wsz = Window.partitionBy(id_col)
    ranked = ranked.select(
        F.col(id_col),
        "g",
        F.row_number().over(wdoc).alias("rn"),
        F.count(F.lit(1)).over(wsz).alias("sz"),
    )
    # NOTE: ranked feeds five consumers (both self-join sides, the
    # size table, both verify branches). No explicit materialization:
    # the identical window subtree collapses to ONE shuffle via
    # ReusedExchange, and an eager localCheckpoint here measured ~2×
    # SLOWER (extra materialization pass + an AQE boundary).
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("sz") - _safe_ceil(F.lit(tau) * F.col("sz")) + F.lit(1)
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    sza, szb = F.col("pa.sz"), F.col("pb.sz")
    # PPJoin overlap threshold α = ⌈τ/(1+τ)·(|A|+|B|)⌉
    alpha = _safe_ceil(F.lit(tau / (1.0 + tau)) * (sza + szb))
    cond = (F.col("pa.g") == F.col("pb.g")) & (
        F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}")
    )
    if use_length_filter:
        # length filter: min size must reach ⌈τ·max size⌉
        cond = cond & (
            F.least(sza, szb) >= _safe_ceil(F.lit(tau) * F.greatest(sza, szb))
        )
    if use_positional_filter:
        # positional filter: overlap reachable from this match must reach α
        cond = cond & (
            F.least(sza - F.col("pa.rn"), szb - F.col("pb.rn")) + F.lit(1)
            >= alpha
        )
    cand = (
        pa.join(pb, cond)
        .select(
            F.col(f"pa.{id_col}").alias("id_a"),
            F.col(f"pb.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return cand, ranked


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """EXACT τ-Jaccard pair join via prefix filtering (full
    PPJoin-style: prefix + length + positional filters) — every pair
    with Jaccard ≥ τ is returned, with NO length-block approximation
    and NO truncation: the scale-safe path to exactness that
    `ngram_jaccard_pairs` trades away with its cap.

    Prefix filter: order every doc's grams by a global canonical order
    (document frequency asc, gram asc — rarest first) and index the
    first ``|A| − ⌈τ·|A|⌉ + 1`` grams.  For any pair with
    J(A,B) ≥ τ the overlap o = |A∩B| satisfies o ≥ ⌈τ·|A|⌉ and
    o ≥ ⌈τ·|B|⌉ (since o ≥ τ(|A|+|B|)/(1+τ) and the smaller set is at
    least τ× the larger), so if no common gram fell in a doc's prefix
    the whole intersection would fit into its last ⌈τ·|size|⌉ − 1
    positions — pigeonhole contradiction.  Hence joining prefixes on
    the gram finds every true pair, keyed on the RAREST grams where
    bucket sizes are smallest.  The +1 matters: with the shorter
    ``sz − ⌊τ·sz⌋`` prefix, a boundary pair whose τ·|size| is an exact
    integer can legally keep all its common grams out of the prefix
    (zero-false-negative contract broken).  Float-safe: ⌈·⌉ is taken
    on ``τ·sz − 1e-9`` so binary-float jitter above an exact integer
    product can only LENGTHEN a prefix, never shorten it.

    Length filter (join-time): J ≤ min(|A|,|B|)/max(|A|,|B|), so any
    true pair has min ≥ ⌈τ·max⌉ — candidates between very different
    sizes are dropped before the verify join ever sees them.

    Positional filter (join-time): a prefix match at canonical
    positions (rn_a, rn_b) bounds the overlap by
    ``min(|A|−rn_a, |B|−rn_b) + 1`` (the canonically-smallest common
    gram has every other common gram after it in BOTH docs), which
    must reach the PPJoin overlap threshold
    α = ⌈τ/(1+τ)·(|A|+|B|)⌉.  Both extra filters only PRUNE
    candidates; the smallest-common-gram row always survives them, so
    exactness is untouched while candidate volume shrinks on
    heterogeneous corpora.

    Work profile: candidate volume is Σ_g∈prefixes C(df_prefix(g), 2),
    dominated by rare grams (df ≈ 1-2) rather than the corpus's hot
    grams — the standard reason prefix joins scale where naive gram
    joins explode. Verification counts shared grams per candidate
    (narrow rows, map-side combine), never materializing gram arrays
    into the join.

    Requires ``min_jaccard > 0``. Two shuffles (df-count, prefix-join)
    plus the candidate-bounded verify joins; everything is integer
    math, so the operator is exact-oracle-checkable against brute
    force.
    """
    if not 0.0 < min_jaccard <= 1.0:
        raise ValueError("prefix filtering requires 0 < min_jaccard <= 1")
    toks = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("g")
    )
    cand, ranked = prefix_join_candidates(toks, min_jaccard, id_col)
    sz = ranked.filter(F.col("rn") == 1).select(F.col(id_col), F.col("sz"))
    ta = ranked.select(F.col(id_col).alias("id_a"), F.col("g"))
    tb = ranked.select(F.col(id_col).alias("__idb"), F.col("g").alias("gb"))
    inter = (
        cand.join(ta.hint("shuffle_hash"), "id_a")
        .join(
            tb.hint("shuffle_hash"),
            (F.col("id_b") == F.col("__idb")) & (F.col("g") == F.col("gb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sza"))
    sb = sz.select(F.col(id_col).alias("id_b"), F.col("sz").alias("szb"))
    out = (
        inter.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("i").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("i")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def connected_components(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup CLUSTERS from candidate pairs: (id, cluster_id) where
    cluster_id = the minimum id reachable through the pair graph — the
    step that turns pairwise near-dup detection into dedup groups a
    survivor policy can act on.

    Iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; converged when no
    label changes. Rounds ≈ graph diameter — near-dup clusters are
    dense and shallow (dup chains of length > 20 essentially don't
    occur), so the loop is short; each round is one shuffle of (id,
    label) longs, materialized by an eager `localCheckpoint` that
    truncates the lineage, so the plan never grows. The convergence
    probe (labels changed this round) is read from that checkpoint's
    own job (`probe.checkpoint_observed`): no count() action. (At
    extreme diameters the large-star/small-star alternation halves
    rounds to O(log n); the simple form is kept for determinism and
    plan clarity.)

    ``all_ids`` (e.g. ``documents.select('doc_id')``) adds singleton
    nodes so every document gets a cluster row.
    """
    # r13 (guide §2.4/§5): the candidate-pair generator (LSH shingle →
    # md5 → band buckets) is the expensive subtree here, and the lazy
    # form re-executed it once per union side and once per propagation
    # round (~8× at 3 rounds — the dominant cost of every CC consumer).
    # Both directions come from one read of the pairs, and the
    # symmetrized edge set is checkpointed once; each round reads
    # materialized (src, dst) longs.
    sym = (
        pairs.select(
            F.inline(F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            ))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = sym.select(F.col("src").alias(id_col)).distinct()
    if all_ids is not None:
        nodes = nodes.union(all_ids.select(F.col(all_ids.columns[0]).alias(id_col))).distinct()
    # read lazily by round 1, whose checkpoint materializes the labels
    labels = nodes.select(F.col(id_col), F.col(id_col).alias("cluster_id"))

    def propagate(lbl):
        nbr_min = (
            sym.join(lbl, sym["src"] == lbl[id_col])
            .groupBy(F.col("dst").alias(id_col))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        return lbl.join(nbr_min, id_col, "left").select(
            F.col(id_col),
            F.col("cluster_id").alias("old"),
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )

    def pointer_jump(lbl):
        # label[x] ← label[label[x]]: every label is itself a node id,
        # and labels only decrease, so the parent's label is always ≤ —
        # this squares the effective pointer depth each round, giving
        # O(log n) total rounds even on path graphs (plain neighbor
        # propagation alone needs O(diameter) rounds and would exit
        # max_iter SILENTLY WRONG on a long chain)
        parent = lbl.select(
            F.col(id_col).alias("__pid"), F.col("cluster_id").alias("__plabel")
        )
        return lbl.join(parent, lbl["cluster_id"] == F.col("__pid")).select(
            F.col(id_col), "old", F.col("__plabel").alias("cluster_id")
        )

    converged = False
    for _ in range(max_iter):
        # NOTE (r14 checkpoint policy, VERDICT r13 #6): O(nodes) per
        # round — unbounded. The next round's propagate joins these
        # labels twice, so the per-round snapshot is strictly cheaper
        # than recomputing, and it is retired next round (only the latest
        # labels stay referenced). Executor loss mid-loop fails the
        # job; a retry restarts the loop from the parquet inputs. On a
        # real cluster, swap to a reliable checkpoint dir when the
        # restart cost of a long label chain exceeds snapshot
        # replication.
        merged, probe = checkpoint_observed(
            pointer_jump(propagate(labels)),
            changed=F.count_if(F.col("cluster_id") != F.col("old")),
        )
        labels = merged.select(id_col, "cluster_id")
        if probe["changed"] == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds "
            "(pointer-jumping needs ~log2(n) — raise max_iter)"
        )
    return labels


def dedup_components(
    df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The dedup REPORT FAMILY'S SHARED PREFIX as one building block
    (VERDICT r7 #5): MinHash-LSH candidate pairs → min-label connected
    components over ALL document ids. Four of the five most expensive
    bench queries (impact-by-source, budget-after-dedup, cluster-size
    histogram, dedup→budget→pack) recomputed this identical labeling
    independently; callers that need several report sections compose
    them over ONE `dedup_components` result instead — the returned
    frame is localCheckpoint-materialized (the CC loop truncates its
    own lineage), so every downstream consumer in the same plan reads
    the same materialized (id, cluster_id) longs, paying the candidate
    graph + iteration cost exactly once."""
    pairs = minhash_lsh_pairs(df).select("id_a", "id_b")
    return connected_components(
        pairs, all_ids=df.select(id_col), id_col=id_col
    )


def dedup_cluster_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full rows of the cluster representatives (min id per near-dup
    cluster) — the end of the pairs → clusters → survivors pipeline."""
    comp = connected_components(pairs, all_ids=df.select(id_col), id_col=id_col)
    keep = comp.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keep.hint("shuffle_hash"), id_col, "left_semi")


def ngram_jaccard_overflow(
    df: DataFrame,
    max_bucket: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_bucket: int = 64,
) -> DataFrame:
    """(blk, n_docs, n_dropped) for every length block that exceeds
    ``max_bucket`` — the logged-overflow companion of the capped
    `ngram_jaccard_pairs`. One groupBy over (id, blk) longs."""
    base = df.select(
        F.col(id_col),
        F.floor(F.length(text_col) / F.lit(length_bucket)).alias("bucket"),
    )
    cand = base.select(
        id_col, F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("blk")
    )
    return (
        cand.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > int(max_bucket))
        .withColumn("n_dropped", F.col("n_docs") - F.lit(int(max_bucket)))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex digits → fits a signed 64-bit int in any engine


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash fingerprints from whitespace tokens.

    Token hash = first 15 md5 hex digits as an integer; each bit
    contributes +1/-1 per token occurrence; fingerprint bit b is set
    iff the signed sum is positive. One explode + one map-side-combined
    aggregation — scales linearly, shuffles only (doc_id, 60 ints).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par, F.col(id_col)).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    # branch-free bit counting: sum the raw bit (0/1) plus one count —
    # the ±1 signed sum is recovered as 2·s_b − n (2× faster than 60
    # when/otherwise aggregates)
    sums = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(
            F.lit(2) * F.col(f"b{b}") - F.col("n") > 0, F.lit(2**b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.alias("simhash"))


#: keys-per-doc budget for the combinatorial SimHash blocking — C(m,
#: m-h) grows fast with the chunk count m, so the adaptive rule stops
#: widening keys once a doc would emit more than this many blocking rows
SIMHASH_MAX_KEYS_PER_DOC = 256


def simhash_chunk_plan(
    max_hamming: int, n_docs: int | None = None, n_chunks: int | None = None
) -> tuple[int, list[tuple[int, ...]]]:
    """Choose the SimHash blocking layout: (chunk count m, list of
    (m − max_hamming)-sized chunk-index combinations).

    Pigeonhole (Manku et al., WWW'07 permutation-table style): ≤ h
    damaged bits damage ≤ h chunks, so every pair within the Hamming
    budget agrees EXACTLY on at least one (m − h)-subset of chunks —
    blocking on every such subset finds all pairs. Wider m ⇒ wider
    effective keys ((m − h)·(60/m) bits ⇒ expected bucket size
    N/2^bits) at the cost of C(m, m − h) keys per doc.

    The N-ADAPTIVE rule (mirroring the log₂N ``bits`` rule of the
    embedding LSH path): target key width = log₂(n_docs) + 10 margin
    (default 30 bits ≈ corpora to ~10⁹ docs), pick the smallest valid
    m — a divisor of 60 strictly above ``max_hamming`` — that reaches
    it within the keys-per-doc budget; if none reaches it, take the
    widest affordable m (never silently fall back to narrow keys when
    a wider affordable layout exists).
    """
    import itertools
    import math

    divisors = [
        m for m in range(max_hamming + 1, SIMHASH_BITS + 1) if SIMHASH_BITS % m == 0
    ]
    if not divisors:
        raise ValueError(f"max_hamming={max_hamming} leaves no valid chunking of {SIMHASH_BITS} bits")
    if n_chunks is not None:
        if n_chunks not in divisors:
            raise ValueError(
                f"n_chunks must be a divisor of {SIMHASH_BITS} greater than "
                f"max_hamming={max_hamming}; valid: {divisors}"
            )
        m = n_chunks
    else:
        target_bits = 30 if n_docs is None else min(54, math.ceil(math.log2(max(n_docs, 2))) + 10)
        affordable = [
            m for m in divisors
            if math.comb(m, m - max_hamming) <= SIMHASH_MAX_KEYS_PER_DOC
        ]
        if not affordable:
            affordable = divisors[:1]  # C(h+1, 1) = h+1 keys — always affordable

        def key_bits(m: int) -> int:
            return (m - max_hamming) * (SIMHASH_BITS // m)

        meeting = [m for m in affordable if key_bits(m) >= target_bits]
        m = min(meeting) if meeting else max(affordable, key=key_bits)
    combos = list(itertools.combinations(range(m), m - max_hamming))
    return m, combos


def simhash_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_docs: int | None = None,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash fingerprints.

    Blocking via `simhash_chunk_plan`: the 60 bits split into m chunks
    and every (m − max_hamming)-subset of chunks becomes a blocking
    key, so any pair within the distance budget collides on ≥ 1 key
    (pigeonhole) while bucket population shrinks to N/2^((m−h)·60/m) —
    N-adaptive via ``n_docs`` (expected corpus size), or fixed via
    ``n_chunks``. The default (30-bit keys, 20 keys/doc at h=3) holds
    bucket sizes O(1) to ~10⁹ docs; the previous fixed 4×15-bit layout
    grew buckets linearly with N past ~10⁸.

    Pairing is bucket-local and JOIN-FREE, and it is EXACT-DUP-PROOF:
    the corpus first collapses to DISTINCT fingerprints (ids collected
    per fingerprint), so a million byte-identical documents contribute
    ONE struct to their buckets instead of C(10⁶, 2) pair structs in a
    single row (the r3 OOM hazard on dup-heavy corpora — the normal
    dedup input). The pipeline:

    1. ``groupBy(simhash)`` → (fingerprint, sorted id list) — identical
       docs collapse here; one shuffle of (id, fingerprint) tuples.
    2. Hamming-0 pairs stream straight out of each group through two
       chained generators (posexplode + explode-of-slice) — per-row
       memory is one group's id list (linear), never a quadratic pair
       array; the quadratic pair volume is genuine OUTPUT, produced
       incrementally by the generators.
    3. DISTINCT fingerprints go through the combinatorial blocking
       keys; bucket pair structs compare fingerprints only (hamming ≥ 1
       by construction). Fingerprint pairs dedupe on (ha, hb) BEFORE
       id expansion — cheaper than deduping expanded id pairs.
    4. Each surviving fingerprint pair fans out to id pairs with two
       chained explodes (again streaming, no quadratic row).

    The fingerprint plan still executes ONCE (no self-join anywhere —
    plan-shape test pins this) and only (key, fingerprint, ids) tuples
    shuffle.
    """
    m, combos = simhash_chunk_plan(max_hamming, n_docs, n_chunks)
    width = SIMHASH_BITS // m
    mask = (1 << width) - 1

    def chunk(c: int):
        return F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))

    def combo_key(combo: tuple[int, ...]):
        key = None
        for pos, c in enumerate(combo):
            term = F.shiftleft(chunk(c), pos * width)
            key = term if key is None else key + term
        return key

    groups = fingerprints.groupBy("simhash").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    same = (
        groups.filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias(
                "id_b"
            ),
        )
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )
    if max_hamming < 1:
        return same
    keyed = groups.select(
        "simhash",
        "ids",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(ci).alias("ck"), combo_key(combo).alias("cv"))
                    for ci, combo in enumerate(combos)
                ]
            )
        ).alias("k"),
    ).select("simhash", "ids", F.col("k.ck").alias("ck"), F.col("k.cv").alias("cv"))
    buckets = (
        keyed.groupBy("ck", "cv")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("simhash").alias("h"), F.col("ids").alias("ids")))
            ).alias("docs")
        )
        .filter(F.size("docs") > 1)
    )
    pair_arrays = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda y: F.struct(
                    x["h"].alias("ha"),
                    x["ids"].alias("ids_a"),
                    y["h"].alias("hb"),
                    y["ids"].alias("ids_b"),
                    F.bit_count(x["h"].bitwiseXOR(y["h"])).alias("hamming"),
                ),
            ),
        )
    )
    fpairs = (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select("p.*")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["ha", "hb"])
    )
    cross = (
        fpairs.select("ids_b", "hamming", F.explode("ids_a").alias("ra"))
        .select("ra", "hamming", F.explode("ids_b").alias("rb"))
        .select(
            F.least("ra", "rb").alias("id_a"),
            F.greatest("ra", "rb").alias("id_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def dedup_incremental(
    new_df: DataFrame,
    seen_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: survivors of a NEW batch against an
    already-ingested corpus — the daily-increment path of a 100 TB
    pipeline, where re-deduping the full corpus per batch is a
    non-starter. ``seen_digests`` is the historical digest table (one
    md5 per ingested distinct content; the output of prior increments
    or of `exact_dedup` on the backfill).

    Plan: digest the new batch (scan-side md5, text bytes never
    shuffle), LEFT ANTI shuffle-hash against the seen digests (the
    seen side scales with corpus history — never broadcast by hint;
    AQE upgrades while it fits), then the standard within-batch
    survivor pick (min id per digest + batch dup count). Emits
    (digest, keep_id, batch_dups): exactly the rows to append to both
    the corpus and the seen-digest table, making the operator its own
    state update.
    """
    # sentinel AFTER hashing: md5(NULL) is NULL and NULL == NULL is
    # never true in the anti-join, so null-text docs would re-emit as
    # "fresh" on EVERY increment. Coalescing the DIGEST (not the text)
    # is collision-free: md5 output is fixed-width hex, so no real
    # document can produce the sentinel (hash-the-coalesced-text would
    # conflate NULL with a doc whose text is literally the sentinel).
    d = new_df.select(
        F.col(id_col),
        F.coalesce(F.md5(F.col(text_col)), F.lit("<NULL>")).alias("digest"),
    )
    seen = seen_digests.select(F.col(seen_digests.columns[0]).alias("__seen"))
    fresh = d.join(
        seen.hint("shuffle_hash"), d["digest"] == seen["__seen"], "left_anti"
    )
    return fresh.groupBy("digest").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("batch_dups"),
    )


def incremental_dedup_batches(
    spark,
    batches: list[DataFrame],
    history_table: str = "tsdt_digest_history",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
    resume: bool = False,
) -> DataFrame:
    """The production incremental-dedup LOOP (r5): apply ``batches`` in
    order against a digest history stored as a HASH-BUCKETED managed
    table, appending each batch's survivors. Returns the final history
    (digest, keep_id, batch_dups, batch_id).

    Scale shape, per batch:

    * the history side of the anti-join is a bucketed scan — its
      partitioning satisfies the join's required distribution, so the
      EVER-GROWING side never shuffles again (the shuffle was paid once,
      at append time); only the day's batch exchanges (linear in batch);
    * the survivor agg reuses the join's digest partitioning — one
      Exchange total per batch;
    * each step ends in a WRITE, so batch N's cost is independent of how
      many batches preceded it (no ever-growing lazy plan — the classic
      incremental-pipeline trap of composing a season of daily frames
      into one DAG).

    CONVERGENCE (pinned in tests/test_asof_incremental.py): after N
    batches the surviving digest set equals one-shot `exact_dedup` over
    the concatenation, with keep_id = the min id within the EARLIEST
    batch containing the digest (equal to the global min when batches
    arrive in id order — the usual append-only ingest).

    ``resume=False`` (default) treats ``history_table`` as scratch and
    REBUILDS it — the first-season / test shape. The nightly production
    call is ``resume=True``: the existing history is kept, every batch
    in this call anti-joins against it, and batch_ids continue from the
    stored maximum. (r5 review finding: the unconditional drop made the
    documented nightly loop destructive across process runs.)
    """
    from .skew import write_bucketed

    if resume and spark.catalog.tableExists(history_table):
        start = (
            spark.table(history_table)
            .agg(F.max("batch_id").alias("m"))
            .first()["m"]
            + 1
        )
    else:
        spark.sql(f"DROP TABLE IF EXISTS {history_table}")
        start = 0
    for i, b in enumerate(batches, start=start):
        d = b.select(
            F.col(id_col),
            F.coalesce(F.md5(F.col(text_col)), F.lit("<NULL>")).alias("digest"),
        )
        if i > 0:
            seen = spark.table(history_table).select("digest")
            d = d.join(seen, "digest", "left_anti")
        surv = d.groupBy("digest").agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("batch_dups"),
        ).withColumn("batch_id", F.lit(i))
        write_bucketed(
            surv,
            history_table,
            ["digest"],
            n_buckets=n_buckets,
            mode="append" if i > 0 else "overwrite",
        )
    return spark.table(history_table)


def decontaminate(
    train: DataFrame,
    heldout: DataFrame,
    n: int = 5,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train-set decontamination against a held-out set: flag every
    train document sharing >= ``min_shared`` distinct word ``n``-grams
    with ANY held-out document — the benchmark-leakage scan every
    serious LLM training pipeline runs before training (the published
    recipes use 8-13-gram overlap; ``n`` is the knob).

    Plan: both sides shingle scan-side (`word_shingles`, distinct per
    doc) and immediately collapse to md5 DIGESTS, so the join moves
    32-hex keys, never gram text; the held-out side dedups to DISTINCT
    grams (its doc identity is irrelevant — any hit contaminates); one
    shuffle-hash equi-join + one count per train doc. Cost is linear
    in corpus gram volume + join output; nothing is broadcast (a
    held-out set can be millions of docs), nothing quadratic.

    Returns (id, n_shared_grams) for flagged train docs — anti-join it
    back to drop them (`exact_dedup`-style survivor pattern).
    """
    t_grams = (
        train.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        )
        .select(id_col, F.md5("g").alias("gd"))
    )
    h_grams = (
        heldout.filter(F.col(text_col).isNotNull())
        .select(F.explode(word_shingles(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gd"))
        .distinct()
    )
    hits = t_grams.join(h_grams.hint("shuffle_hash"), "gd")
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= int(min_shared))
    )


# ---------------------------------------------------------------------------
# substring-level (span) dedup — Lee et al., "Deduplicating Training
# Data Makes Language Models Better" (ACL 2022). Doc-level dedup
# (exact_dedup / minhash / simhash above) misses boilerplate REPEATED
# INSIDE otherwise-distinct documents (license headers, navigation
# chrome, quoted passages); the published recipe finds every k-token
# span shared across documents and removes all but one occurrence.
# ---------------------------------------------------------------------------


def positional_grams(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, gd): every k-token gram with its 1-based start token
    position, collapsed to an md5 digest SCAN-SIDE — positions and
    32-hex digests shuffle downstream, gram text bytes never do.
    Documents with fewer than ``k`` whitespace tokens emit nothing
    (unlike `word_shingles`, no whole-text fallback: a span shorter
    than the window is below the duplication granularity by
    definition)."""
    words = F.split(F.trim(F.col(text_col)), " ")
    n_grams = F.size(words) - F.lit(k - 1)
    # arrays_zip of k length-(n-k+1) shifted views + one transform:
    # O(n·k) element copies in k bulk slices, ~2x faster than the
    # per-position transform(sequence, i -> slice(words, i, k)) form
    # (measured at sf0.1; results identical).
    shifted = [F.slice(words, i + 1, n_grams) for i in range(k)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.md5(F.concat_ws(" ", *[s[str(i)] for i in range(k)])),
    )
    # explicit wide repartition before the hash-heavy explode (the
    # minhash precedent): a small local corpus scans as ONE partition
    # and AQE would keep this CPU-bound stage narrow based on its tiny
    # byte size; at scale the scan is already wide and this coalesces.
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.filter(F.col(text_col).isNotNull())
        .filter(n_grams >= 1)
        .repartition(par, F.col(id_col))
        .select(F.col(id_col), F.posexplode(grams).alias("pos0", "gd"))
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "gd")
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal token spans covered by ``k``-token grams occurring in
    >= ``min_docs`` DISTINCT documents. Returns (id, span_start,
    span_end, n_tokens), positions 1-based inclusive; overlapping or
    token-adjacent gram hits are merged into one maximal span
    (gaps-and-islands, running-max end).

    Plan shape: one scan builds positional gram digests
    (`positional_grams`); one hash aggregation per digest counts
    distinct docs (map-side partial distinct on (gd, id)); one
    shuffle-hash equi-join rehydrates hit positions (the dup-gram side
    is UNBOUNDED on boilerplate-heavy corpora — never broadcast); the
    island merge is a per-document keyed window over the doc's own hit
    list (bounded by doc length, skew-free). Everything that shuffles
    is (32-hex, int) rows — linear in corpus token count, never
    quadratic in duplicate multiplicity, because docs-per-gram is
    COUNTED, not paired.
    """
    grams = positional_grams(df, k, id_col, text_col)
    dup_gd = (
        grams.groupBy("gd")
        .agg(F.countDistinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= int(min_docs))
        .select("gd")
    )
    hits = grams.join(dup_gd.hint("shuffle_hash"), "gd").select(
        id_col, F.col("pos").alias("s"), (F.col("pos") + k - 1).alias("e")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w), F.lit(-1)) + 1, 1).otherwise(0),
    )
    wi = Window.partitionBy(id_col).orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = marked.withColumn("island", F.sum("new_island").over(wi))
    return (
        islands.groupBy(id_col, "island")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).cast("long").alias("n_tokens"),
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    by_col: str = "source",
) -> DataFrame:
    """Per-``by_col`` duplicated-token budget: total tokens, tokens
    inside cross-document duplicate spans, and the duplicated
    fraction — the corpus-health metric that decides whether span
    removal is worth a full rewrite pass. Two algebraic aggregations
    joined on the (tiny) group key; the span side reuses
    `duplicate_spans` unchanged."""
    spans = duplicate_spans(df, k, min_docs, id_col, text_col)
    per_doc = spans.groupBy(id_col).agg(F.sum("n_tokens").alias("dup_tokens"))
    toks = df.select(
        F.col(by_col),
        F.col(id_col),
        F.when(
            F.col(text_col).isNotNull(),
            F.size(F.split(F.trim(F.col(text_col)), " ")),
        )
        .otherwise(0)
        .alias("n_tok"),
    )
    joined = toks.join(per_doc, id_col, "left").na.fill({"dup_tokens": 0})
    from time_series_data_trimmer_spark.functions.rounding import rd

    return (
        joined.groupBy(by_col)
        .agg(
            F.sum("n_tok").alias("total_tokens"),
            F.sum("dup_tokens").alias("dup_span_tokens"),
        )
        .select(
            by_col,
            "total_tokens",
            "dup_span_tokens",
            rd(F.col("dup_span_tokens") / F.col("total_tokens"), 6).alias("dup_fraction"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level dedup REWRITE: for every cross-document duplicate
    gram, the lowest-``id`` document containing it is the OWNER and
    keeps its text; every other document drops the tokens covered by
    that gram's occurrences. Returns (id, text) with non-owner span
    tokens removed (empty string when a doc is fully covered) —
    deterministic and append-stable (new higher-id docs never steal
    ownership from already-ingested ones); after the rewrite each
    removed gram survives only in its owner, so a second pass finds
    none of the first pass's duplicates again.

    Cost model: the token-level explode is restricted to AFFECTED
    documents only — untouched docs pass through as a column copy, so
    the rewrite is linear in (hit volume × k), not in corpus size.
    Covered-token sets dedup on (id, t) before the anti-join.
    """
    grams = positional_grams(df, k, id_col, text_col)
    owners = (
        grams.groupBy("gd")
        .agg(
            F.countDistinct(F.col(id_col)).alias("nd"),
            F.min(F.col(id_col)).alias("owner"),
        )
        .filter(F.col("nd") >= int(min_docs))
        .select("gd", "owner")
    )
    covered = (
        grams.join(owners.hint("shuffle_hash"), "gd")
        .filter(F.col(id_col) != F.col("owner"))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("t"),
        )
        .distinct()
    )
    affected = covered.select(id_col).distinct()
    aff_tok = (
        df.join(affected, id_col)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.trim(F.col(text_col)), " ")).alias("t0", "tok"),
        )
        .select(id_col, (F.col("t0") + 1).alias("t"), "tok")
    )
    kept = aff_tok.join(covered, [id_col, "t"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("__new_text")
    )
    # fully-covered docs drop out of `kept` entirely — restore as ""
    rebuilt_all = affected.join(rebuilt, id_col, "left").na.fill({"__new_text": ""})
    return (
        df.join(rebuilt_all, id_col, "left")
        .select(
            F.col(id_col),
            F.when(
                F.col("__new_text").isNotNull(), F.col("__new_text")
            )
            .otherwise(F.col(text_col))
            .alias(text_col),
        )
    )


def contamination_fraction(
    train: DataFrame,
    heldout: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document contamination SCORE: the fraction of each train
    doc's distinct word n-grams that appear anywhere in the held-out
    set — the graded complement of `decontaminate` (which flags on a
    hard shared-count threshold). Published recipes drop at frac ≥
    0.8-ish for benchmark overlap and log the distribution below; the
    fraction is what lets a pipeline tune that knob per benchmark.

    Same plan discipline as `decontaminate`: both sides shingle
    scan-side and collapse to md5 digests before anything moves; the
    held-out side dedups to distinct grams; the per-doc total and the
    per-doc hit count share the (id, digest) shuffle. Every train doc
    appears in the output (zero-hit docs with frac 0.0) so the result
    is a total scoring, join-able back as a filter column.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    t_grams = (
        train.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        )
        .select(id_col, F.md5("g").alias("gd"))
    )
    totals = t_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    h_grams = (
        heldout.filter(F.col(text_col).isNotNull())
        .select(F.explode(word_shingles(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gd"))
        .distinct()
    )
    hits = (
        t_grams.join(h_grams.hint("shuffle_hash"), "gd")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return totals.join(hits.hint("shuffle_hash"), id_col, "left").select(
        F.col(id_col),
        "n_grams",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        rd(
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
            / F.col("n_grams").cast("double"),
            9,
        ).alias("contamination_frac"),
    )


def fuzzy_prefix_pairs(
    df: DataFrame,
    prefix_len: int = 32,
    max_dist: int = 5,
    max_block: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance near-dup pairs over normalized text PREFIXES,
    blocked on the first normalized token — the classic entity-
    resolution shape (typo'd titles, OCR noise) that digest equality
    and token-set Jaccard both miss, because one character edit
    changes every containing shingle.

    Declared semantics (like SemDeDup's cell blocking): pairs sharing
    their first normalized token whose ``prefix_len``-char normalized
    prefixes are within Levenshtein ``max_dist``. Levenshtein is the
    classic integer DP — identical in every engine, so the pairs are
    oracle-exact.

    Plan: normalization + prefix + block key are scan-side; the pair
    generator is a shuffle-hash self-join on the block key; the DP
    runs only on candidate pairs, on ``prefix_len``-bounded strings —
    cost O(prefix_len²) per pair, never O(full text).

    Bounded BY DEFAULT (PLANS.md invariant 6, the standing dedup-family
    rule): each block pairs only its ``max_block`` smallest-id members
    (deterministic prefix, like `ngram_jaccard`'s cap) — without it a
    hot first token (small vocabularies, boilerplate openers) makes
    the self-join block-quadratic (measured: the uncapped form ran
    >10 min at 10×, where docs share ~36 first tokens). Pass
    ``max_block=None`` to opt into the unbounded audit form.
    """
    from pyspark.sql import Window

    normalized = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.substring(normalized, 1, int(prefix_len)).alias("__p"),
        F.split(normalized, " ").getItem(0).alias("__blk"),
    ).filter(F.length("__blk") > 0)
    if max_block is not None:
        wb = Window.partitionBy("__blk").orderBy(F.col(id_col).asc())
        base = (
            base.withColumn("__rn", F.row_number().over(wb))
            .filter(F.col("__rn") <= int(max_block))
            .drop("__rn")
        )
    a = base.select(
        F.col("__blk"), F.col(id_col).alias("id_a"), F.col("__p").alias("pa")
    )
    b = base.select(
        F.col("__blk"), F.col(id_col).alias("id_b"), F.col("__p").alias("pb")
    )
    return (
        a.join(b.hint("shuffle_hash"), "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein(F.col("pa"), F.col("pb")))
        .filter(F.col("edit_dist") <= int(max_dist))
        .select("id_a", "id_b", "edit_dist")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 3,
    prefix_len: int = 32,
    max_dist: int = 5,
    block_chars: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995):
    sort records by a key, compare each only to its ``window``
    predecessors in sort order — LINEAR compare volume (N·w), the
    classic alternative to block self-joins when blocks run hot
    (`fuzzy_prefix_pairs` needs a cap for exactly that; this method
    never goes quadratic by construction).

    Distributed form: the sort is per BLOCK (first ``block_chars``
    normalized chars — a keyed window, never a global keyless sort);
    neighbors then come from ``lag`` columns in one window pass and a
    scan-side ``stack`` unpivot — no self-join at all. Pairs within
    Levenshtein ``max_dist`` over ``prefix_len``-char prefixes, ids
    ordered. Declared semantics: neighbors within ``window`` positions
    of the (block, prefix, id) sort; near-dups more than ``window``
    apart in a block are missed — the standard SNM recall trade,
    bought back in practice with multi-pass different-key runs.
    """
    from pyspark.sql import Window

    normalized = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.substring(normalized, 1, int(prefix_len)).alias("__p"),
            F.substring(normalized, 1, int(block_chars)).alias("__blk"),
        )
        .filter(F.length("__blk") > 0)
    )
    w = Window.partitionBy("__blk").orderBy(F.col("__p").asc(), F.col(id_col).asc())
    lags = []
    for j in range(1, int(window) + 1):
        lags.append(F.lag(F.col(id_col), j).over(w).alias(f"__id{j}"))
        lags.append(F.lag(F.col("__p"), j).over(w).alias(f"__pp{j}"))
    with_lags = base.select(F.col(id_col), F.col("__p"), *lags)
    stack_args = ", ".join(f"__id{j}, __pp{j}" for j in range(1, int(window) + 1))
    pairs = with_lags.select(
        F.col(id_col).alias("id_b"),
        F.col("__p").alias("pb"),
        F.expr(f"stack({int(window)}, {stack_args}) AS (id_a, pa)"),
    ).filter(F.col("id_a").isNotNull())
    d = F.levenshtein(F.col("pa"), F.col("pb"))
    # __lo/__hi before aliasing to id_a/id_b: putting least(...).alias("id_a")
    # next to greatest(id_a, ...) in ONE select would let Spark's lateral
    # column alias resolution bind the SECOND id_a to the first alias
    # (the emb_quantization_report r5 bug class)
    return (
        pairs.withColumn("edit_dist", d)
        .filter(F.col("edit_dist") <= int(max_dist))
        .withColumn("__lo", F.least(F.col("id_a"), F.col("id_b")))
        .withColumn("__hi", F.greatest(F.col("id_a"), F.col("id_b")))
        .select(
            F.col("__lo").alias("id_a"),
            F.col("__hi").alias("id_b"),
            "edit_dist",
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership prefilter — the broadcast-prefilter pattern
# (Count-Min gates COUNTS in sketches.cm_heavy_hitters; Bloom gates
# MEMBERSHIP here). At 100 TB the decontamination join's cost is the
# TRAIN side: every train gram digest shuffles to meet the held-out
# set, though almost none of them hit. A Bloom filter of the held-out
# digests (m bits as <= m/64 longs, broadcast) lets every train gram
# test membership map-side; only the (tiny) candidate set enters the
# exact join. No false negatives by construction, false positives
# removed by the exact join — the result is IDENTICAL to the plain
# digest join, which is what the oracle asserts.
# ---------------------------------------------------------------------------


def bloom_bits(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: str = "tsdt|bloom",
) -> DataFrame:
    """Build a Bloom filter over ``df[key_col]`` as (word, bits) rows —
    at most ``m_bits/64`` longs, usually far fewer (all-zero words are
    absent). Positions are the portable md5 coin
    (``hash_u32(key, seed|i) % m``), so the SAME filter bytes can be
    rebuilt in any engine. One (word)-keyed aggregation; keys never
    shuffle (positions evaluate on the scan)."""
    from time_series_data_trimmer_spark.operators.sampling import hash_u32

    pos = F.explode(
        F.array(*[
            (hash_u32(F.col(key_col), f"{seed}|{i}") % F.lit(int(m_bits))).alias(f"p{i}")
            for i in range(int(k))
        ])
    ).alias("pos")
    words = df.select(pos).select(
        F.shiftright(F.col("pos"), 6).alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
    )
    return words.groupBy("word").agg(F.bit_or("m").alias("bits"))


def decontaminate_bloom(
    train: DataFrame,
    heldout: DataFrame,
    n: int = 5,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: str = "tsdt|bloom",
) -> DataFrame:
    """`decontaminate` with a Bloom prefilter on the train side:
    bit-for-bit the SAME output (flagged doc_id, n_shared_grams), but
    the exact digest join only receives train grams whose k Bloom
    probes all hit — map-side broadcast lookups, so the heavy train
    gram stream never shuffles unless it is a (rare) candidate.

    False-positive rate ≈ (1 − e^(−k·n/m))^k; at the default m=2^20,
    k=4 a held-out set of ~50k distinct grams gives ~1e-5 — candidate
    volume ≈ true hit volume. Size ``m_bits`` ∝ held-out grams at
    scale (the filter is ≤ m/64 longs broadcast once)."""
    t_grams = (
        train.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        )
        .select(id_col, F.md5("g").alias("gd"))
    )
    h_grams = (
        heldout.filter(F.col(text_col).isNotNull())
        .select(F.explode(word_shingles(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gd"))
        .distinct()
    )
    bloom = bloom_bits(h_grams, "gd", m_bits=m_bits, k=k, seed=seed)
    from time_series_data_trimmer_spark.operators.sampling import hash_u32

    probed = t_grams.select(
        id_col, "gd",
        *[
            (hash_u32(F.col("gd"), f"{seed}|{i}") % F.lit(int(m_bits))).alias(f"__p{i}")
            for i in range(int(k))
        ],
    )
    gate = F.lit(True)
    for i in range(int(k)):
        side = bloom.select(
            F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}")
        )
        probed = probed.withColumn(f"__w{i}", F.shiftright(F.col(f"__p{i}"), 6)).join(
            F.broadcast(side), f"__w{i}", "left"
        )
        bit_set = F.expr(
            f"coalesce((shiftright(__b{i}, CAST(__p{i} % 64 AS INT)) & 1) = 1, false)"
        )
        gate = gate & bit_set
    cand = probed.filter(gate).select(id_col, "gd")
    hits = cand.join(h_grams.hint("shuffle_hash"), "gd")
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= int(min_shared))
    )


#: Fellegi-Sunter-style field weights (FIXED integer surrogates for
#: log2(m/u) — the EM-fitted weights of the classic model are not
#: deterministic across runs/engines; production rule-based linkage
#: configures them, exactly as here). (agreement_weight, disagreement_penalty)
LINKAGE_WEIGHTS = {
    "lang": (2, -3),
    "source": (3, -2),
    "size": (2, -3),   # |n_chars difference| <= 16
    "prefix": (6, -5),  # normalized-prefix edit distance <= 2
}
LINKAGE_MATCH, LINKAGE_POSSIBLE = 8, 0


def linkage_scores(
    df: DataFrame,
    window: int = 3,
    prefix_len: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Record-linkage scoring (Fellegi & Sunter 1969, fixed-weight
    form) over sorted-neighborhood candidate pairs: per-field
    agreement (lang, source, size band, normalized-prefix edit
    distance) sums configured integer weights into a match score and
    a three-way decision (match / possible / nonmatch).

    Plan: the linear-compare SNM generator (no self-join), then two
    narrow shuffle-hash joins pulling each side's comparison fields —
    the pair list is the SNM output, so the scoring pass is linear in
    candidates at any scale. Integer weights make the score and class
    bit-portable; thresholds are the standard FS upper/lower cut."""
    pairs = sorted_neighborhood_pairs(
        df, window=window, prefix_len=prefix_len, max_dist=5,
        id_col=id_col, text_col=text_col,
    )
    fields = df.select(
        F.col(id_col), F.col("lang"), F.col("source"), F.col("n_chars")
    )
    a = fields.select(*[F.col(c).alias(f"{c}_a") for c in fields.columns])
    b = fields.select(*[F.col(c).alias(f"{c}_b") for c in fields.columns])
    joined = (
        pairs.join(a.hint("shuffle_hash"), pairs["id_a"] == a[f"{id_col}_a"])
        .join(b.hint("shuffle_hash"), pairs["id_b"] == b[f"{id_col}_b"])
    )

    def w(name, agree):
        yes, no = LINKAGE_WEIGHTS[name]
        return F.when(agree, F.lit(yes)).otherwise(F.lit(no))

    score = (
        w("lang", F.col("lang_a") == F.col("lang_b"))
        + w("source", F.col("source_a") == F.col("source_b"))
        + w("size", F.abs(F.col("n_chars_a") - F.col("n_chars_b")) <= 16)
        + w("prefix", F.col("edit_dist") <= 2)
    )
    cls = (
        F.when(score >= LINKAGE_MATCH, F.lit("match"))
        .when(score >= LINKAGE_POSSIBLE, F.lit("possible"))
        .otherwise(F.lit("nonmatch"))
    )
    return joined.select(
        "id_a", "id_b",
        F.col("edit_dist").cast("int").alias("edit_dist"),
        score.cast("int").alias("score"),
        cls.alias("link_class"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_containment: float = 0.6,
    shingle: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT over the MinHash-LSH candidate
    set — the excerpt/quote near-dup class that symmetric Jaccard
    misses. A short document embedded verbatim in a long one has
    containment(small→big) = |A∩B|/|A| ≈ 1 while Jaccard =
    |A∩B|/|A∪B| stays far below every dedup threshold (the union is
    dominated by the long doc), so Jaccard-gated dedup keeps BOTH
    copies of the excerpt — a systematic leak in any corpus built
    from quoting sources (reference parity: the reference's overlay
    comparison of trials, SURVEY §2.1-S9, is the same
    subset-vs-symmetric distinction for time ranges).

    Output per surviving pair: exact gram counts, Jaccard, containment
    (of the smaller gram set in the larger), and ``excerpt_flag`` —
    containment above the bar while Jaccard is below 0.5, i.e. pairs
    ONLY this operator catches.

    Scale shape: candidates come from the banded-LSH generator (its
    bucketed, bounded-block properties inherited unchanged); the gram
    sets then join back by id — two shuffle-hash equi-joins on the id
    key over the BOUNDED pair set, intersection/size arithmetic inline
    per row, nothing quadratic and nothing collected. Caveat inherited
    from LSH: the generator is tuned for Jaccard, so recall on extreme
    small-in-huge embeddings decays with the size ratio (the min-hash
    of the union is increasingly the big doc's); the report is exact
    ON the candidate set, and `dedup_lsh_eval_report` measures that
    generator's recall explicitly.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    cand = minhash_lsh_pairs(df, id_col, text_col, shingle=shingle).select(
        "id_a", "id_b"
    )
    grams = df.select(
        F.col(id_col).alias("__gid"),
        word_shingles(F.col(text_col), shingle).alias("__g"),
    )
    j = (
        cand.join(
            grams.select(
                F.col("__gid").alias("id_a"), F.col("__g").alias("__ga")
            ).hint("shuffle_hash"),
            "id_a",
        ).join(
            grams.select(
                F.col("__gid").alias("id_b"), F.col("__g").alias("__gb")
            ).hint("shuffle_hash"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("__ga"), F.col("__gb")))
    na, nb = F.size("__ga"), F.size("__gb")
    jac = rd(
        inter.cast("double") / (na + nb - inter).cast("double"), 6
    )
    cont = rd(inter.cast("double") / F.least(na, nb).cast("double"), 6)
    out = j.select(
        "id_a",
        "id_b",
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        inter.cast("long").alias("n_common"),
        jac.alias("jaccard"),
        cont.alias("containment"),
    ).filter(F.col("containment") >= F.lit(float(min_containment)))
    return out.withColumn(
        "excerpt_flag",
        F.when(
            (F.col("containment") >= F.lit(float(min_containment)))
            & (F.col("jaccard") < F.lit(0.5)),
            1,
        )
        .otherwise(0)
        .cast("int"),
    )


# ---------------------------------------------------------------------------
# probe-dispatched dedup (VERDICT r11 #6): the posting-density probe as
# the method chooser, not just a report
# ---------------------------------------------------------------------------


def posting_density_decision(
    df: DataFrame,
    envelope: tuple[int, int] = (64, 1),
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
) -> dict:
    """ONE bounded 1-row collect of the exact-PPJoin cost forecast and
    the resulting method choice. The SCALING r11 salted-replica
    projection showed exact PPJoin's candidate volume is quadratic in
    duplication density — Σ_g C(df(g), 2) over gram posting lists —
    while the LSH-first path stays output-bound; the measured
    crossover envelope is ~64 candidates per posting row. This helper
    computes that forecast from one shingle scan + one gram-keyed
    count (the same plan as the `dedup_prefix_density_probe` query)
    and applies the ALL-INTEGER decision rule

        ppjoin  iff  cand * env_den <= env_num * n_postings

    (``envelope`` is the (num, den) rational bound; integer cross-
    multiplication, no float drift at any corpus size — the oracle
    replays the identical comparison). Returns the decision inputs so
    callers can surface them: {method, n_postings,
    candidate_upper_bound, envelope}."""
    env_num, env_den = envelope
    toks = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    ).select(id_col, F.md5("g").alias("gd"))
    dfc = toks.groupBy("gd").agg(F.count(F.lit(1)).alias("df"))
    row = dfc.agg(
        F.coalesce(F.sum("df"), F.lit(0)).alias("n_postings"),
        F.coalesce(
            F.sum(F.expr("CAST(df * (df - 1) DIV 2 AS DECIMAL(38,0))")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("cand"),
    ).collect()[0]
    n_postings = int(row["n_postings"])
    cand = int(row["cand"])
    method = (
        "ppjoin"
        if cand * env_den <= env_num * n_postings
        else "lsh_first"
    )
    return {
        "method": method,
        "n_postings": n_postings,
        "candidate_upper_bound": cand,
        "envelope": envelope,
    }


def dedup_auto_pairs(
    df: DataFrame,
    min_jaccard: float,
    envelope: tuple[int, int] = (64, 1),
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
) -> tuple[DataFrame, dict]:
    """PROBE-DISPATCHED near-duplicate pair generation: run the
    one-scan posting-density forecast, then execute the method it
    sanctions — the exact PPJoin prefix join when the forecast clears
    the envelope (low duplication density: exactness is affordable),
    else the LSH-first composition (banded MinHash candidates + exact
    Jaccard verify on candidates only — output-bound on dense
    corpora). Completes the `auto_bucket_cap` pattern for the dedup
    family: the engine-selection input is data-derived, cheap, and
    the decision is replayed verbatim by the oracle (invariant-13).

    Both arms emit the SAME schema (id_a, id_b, jaccard with exact
    Jaccard values), so downstream clustering/impact code is
    method-agnostic. The arms differ only in RECALL (PPJoin is exact;
    LSH forfeits pairs per its banding S-curve), which is precisely
    what the density forecast is trading against cost."""
    dec = posting_density_decision(df, envelope, id_col, text_col, n)
    if dec["method"] == "ppjoin":
        pairs = ngram_jaccard_prefix_pairs(
            df, min_jaccard, id_col, text_col, n
        )
    else:
        cand_pairs = minhash_lsh_pairs(df, id_col, text_col)
        sh = df.select(
            F.col(id_col), word_shingles(F.col(text_col), n).alias("__gr")
        )
        a = sh.select(F.col(id_col).alias("id_a"), F.col("__gr").alias("__ga"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("__gr").alias("__gb"))
        inter = F.size(F.array_intersect(F.col("__ga"), F.col("__gb")))
        union = F.size(F.array_union(F.col("__ga"), F.col("__gb")))
        pairs = (
            cand_pairs.join(a.hint("shuffle_hash"), "id_a")
            .join(b.hint("shuffle_hash"), "id_b")
            .select(
                "id_a",
                "id_b",
                (inter.cast("double") / union.cast("double")).alias(
                    "jaccard"
                ),
            )
            .filter(F.col("jaccard") >= F.lit(float(min_jaccard)))
        )
    return pairs, dec
