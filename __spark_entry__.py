"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (SURVEY §7.2): z-score the
``value`` channel per user over ``events`` and report spike/NaN artifact
segments via the gaps-and-islands suggestion operator — scan →
partitioned window agg (F9) → lag-diff (F7-shaped deriv) → A5 islands.

``queries()`` / ``oracle_sql()`` expose every implemented SURVEY §2
operator with a DuckDB oracle (``queries.py`` plus every
``queries_fam`` module, loaded by ``queries_fam.load_registry``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from time_series_data_trimmer_spark.queries_fam import load_registry  # noqa: E402

REGISTRY = load_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from time_series_data_trimmer_spark.operators.aggregates import suggest_segments
    from time_series_data_trimmer_spark.operators.filters import apply_filter
    from time_series_data_trimmer_spark.queries import _events

    sf_dir = "/root/testdata/sf0.001"
    events = _events(spark, sf_dir)
    z = apply_filter(
        events, ["value"], "normalize_zscore", {},
        trial_key="user_id", time_col="t", order_cols=["t", "event_id"], sample_rate=120.0,
    )
    return suggest_segments(
        z, "value", trial_key="user_id", time_col="t", order_cols=["t", "event_id"]
    )


#: The driver's correctness gate samples the FIRST 50 registered
#: queries. Registration order had been frozen since r1, so the
#: extension operators (dedup/similarity/text/time-series/graph) were
#: never externally verified. This explicit order interleaves the
#: marquee extension queries into the first 50 alongside a
#: representative reference-parity core; everything else follows in
#: module registration order.
_FIRST_50 = [
    # ~15 reference-parity anchors (SURVEY §2) — stable across rounds so
    # every CORRECTNESS_r*.json re-confirms the parity core
    "f1_moving_average", "f2_rolling_median", "f9_normalize_zscore",
    "f6_detrend", "f14_resample",
    "p1_time_slice", "p4_delete_segment_collapse", "p7_asof_lookup",
    "a1_sample_rate", "a4_episode_overlay", "a5_suggest_segments",
    "e1_frame_transform", "recipe_compiled_chain",
    "tpch_q1_pricing_summary", "tpch_q21_waiting_supplier",
    # r14 rotation (VERDICT r13 #1): the optimization rounds rewrote
    # ~53 query paths in r13 and ~18 more in r14, but the driver's
    # 50-name sample had been frozen on the r12 list — the clever
    # rewrites (histogram order statistics, the MRL-derived cosine,
    # branch fusion, the gram dictionary, the scorer/gate fusion) were
    # verified only by the local exact-hash DuckDB sweep. These 35
    # slots rotate exactly those paths into the driver's window:
    # every r14-rewritten query, VERDICT r13's named minimum set, and
    # the heaviest remaining r13-touched suites. The r12 names they
    # displace were all driver-green in CORRECTNESS_r12/r13 (the
    # backlog artifact, never_driver_verified.json, is regenerated
    # from r01-r13 in the same change).
    #
    # r14-rewritten paths (gram dictionary: prefix join + its eval/
    # estimator/dispatch consumers; scorer/gate one-scan fusion: the
    # eval_* family; triangle-credit fusion; empty-subset hardening):
    "dedup_ngram_jaccard_prefix",
    "dedup_lsh_eval_report",
    "dedup_simhash_eval_report",
    "dedup_minhash_estimator_error",
    "dedup_auto_method_choice",
    "eval_auc_binned", "eval_pr_curve_binned",
    "eval_brier_decomposition", "eval_isotonic_calibration",
    "eval_confusion_at_threshold", "eval_lift_gains_decile",
    "eval_f1_threshold_sweep", "eval_bootstrap_auc_ci",
    "text_score_calibration",
    "graph_clustering_by_degree",
    "retrieval_mmr_topk",
    "sim_ivf_nprobe_recall",
    # VERDICT r13 #1 minimum set (the r13 rewrites that most need
    # external confirmation):
    "sim_recall_suite",
    "dedup_ngram_jaccard",
    "text_kn_bigram_ppl",
    "stats_w1_value_drift_by_type", "stats_spearman_value_vs_hour",
    "stats_trimmed_mean_by_type", "stats_iqr_fences_by_type",
    "stats_interarrival_expfit", "stats_mannwhitney_halves_by_type",
    "stats_brown_forsythe_by_type",
    "feature_quantile_transform",
    "pipeline_drift_report",
    "markov_stationary_dist",
    "graph_hits_scores",
    "emb_lsh_recall_by_bits",
    # heaviest remaining r13-touched suites (CC family + iterative):
    "dedup_clusters",
    "dedup_report_suite",
    "graph_lp_modularity",
]


def _ordered_names() -> list[str]:
    head = [n for n in _FIRST_50 if n in REGISTRY]
    seen = set(head)
    return head + [n for n in REGISTRY if n not in seen]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {
        name: REGISTRY[name][1]
        for name in _ordered_names()
        if REGISTRY[name][1] is not None
    }
