#!/usr/bin/env python
"""Probe-dispatched dedup end-to-end (r12): forecast → dispatch →
pairs → clusters → bias audit.

The point of the r12 `dedup_auto` work in one script: nobody should
hand-pick between the exact PPJoin prefix join and the LSH-first
composition — the one-scan posting-density probe forecasts the exact
join's candidate volume BEFORE any join runs, the all-integer envelope
rule picks the arm, and the audit trail (decision inputs, per-band
estimator calibration, removed-vs-kept profile) ships with the result
so the choice is reviewable, not folklore.

Run: python examples/dedup_auto_pipeline.py [sf_dir]   (default sf0.01)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from time_series_data_trimmer_spark.operators import dedup as dd
from time_series_data_trimmer_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark("dedup-auto-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .filter(F.col("text").isNotNull())
    )
    print(f"input: {docs.count()} documents from {SF_DIR}")

    # 1. one-scan forecast + dispatch at the measured 64 cand/posting
    #    envelope (SCALING.md r11 crossover)
    pairs, dec = dd.dedup_auto_pairs(docs, min_jaccard=0.5, envelope=(64, 1))
    print(
        f"probe: {dec['candidate_upper_bound']} forecast candidates over "
        f"{dec['n_postings']} postings -> method = {dec['method']}"
    )

    # 2. the chosen arm's verified pairs -> connected components ->
    #    min-id survivors (the registry-wide survivor rule)
    comp = dd.connected_components(
        pairs.select("id_a", "id_b"),
        all_ids=docs.select(F.col("doc_id").alias("id")),
    )
    n_groups = comp.select("cluster_id").distinct().count()
    print(f"pairs: {pairs.count()} verified >= 0.5; clusters: {n_groups}")

    survivors = comp.groupBy("cluster_id").agg(
        F.min("doc_id").alias("keep_id")
    )
    kept = docs.join(
        survivors.select(F.col("keep_id").alias("doc_id")).hint(
            "shuffle_hash"
        ),
        "doc_id",
    )
    print(f"survivors: {kept.count()} of {docs.count()}")

    # 3. bias audit: what did dedup remove, per source? (exact-dup lens)
    from time_series_data_trimmer_spark.queries_fam import load_registry
    REGISTRY = load_registry()

    profile, _sql = REGISTRY["dedup_removed_vs_kept_profile"]
    rows = profile(spark, SF_DIR).orderBy("source", "fate").collect()
    print("removed-vs-kept profile (first 8 rows):")
    for r in rows[:8]:
        print(
            f"  {r['source']:>12} {r['fate']:>8} docs={r['n_docs']:>6} "
            f"mean_tokens={r['mean_tokens']:>9}"
        )


if __name__ == "__main__":
    main()
