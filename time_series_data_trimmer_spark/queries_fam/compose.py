"""Composition queries: selection-masked filters (P3), derived
channels (E2), the recipe compiler end-to-end, and the bandpass
fallback chain (F5) — each as an oracle-checked registry entry.

These exercise operator COMPOSITION through the same lazy-plan path a
user takes (recipe → chained filters), not just single operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions.rounding import rd, sql_rd
from time_series_data_trimmer_spark.operators.filters import _scipy_signal, apply_filter
from time_series_data_trimmer_spark.plans.recipe import apply_recipe, derived_channel
from time_series_data_trimmer_spark.queries import _EVK, _T0, _W, _events, register

R = sql_rd

_SEL = (_T0 + 36000.0, _T0 + 72000.0)

# selection-masked window: the filter sees ONLY the slice, so the frame
# partition key is (user, inside-slice) — edge shrink at the slice border
_WSEL = (
    f"PARTITION BY user_id, (epoch(ts) BETWEEN {_SEL[0]} AND {_SEL[1]}) "
    "ORDER BY epoch(ts), event_id"
)


@register(
    "p3_selection_masked_filter",
    f"""
    SELECT user_id, event_id,
           {R(f'''CASE WHEN epoch(ts) BETWEEN {_SEL[0]} AND {_SEL[1]}
                 THEN avg(value) OVER ({_WSEL} ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                 ELSE value END''', 4)} AS v_masked
    FROM events
    """,
)
def _q_selection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    out = apply_filter(
        df, ["value"], "moving_average", {"window": 5}, selection=_SEL,
        sample_rate=120.0, **_EVK,
    )
    # unfiltered rows keep the raw 2-decimal value; rounding is a no-op on
    # them and normalizes the filtered slice
    return out.select("user_id", "event_id", rd(F.col("value"), 4).alias("v_masked"))


@register(
    "e2_derived_channel",
    f"""
    SELECT user_id, event_id,
           {R("abs(value) + sqrt(abs(value)) * 2.0", 6)} AS derived
    FROM events
    """,
)
def _q_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    out = derived_channel(df, "derived", "abs(value) + sqrt(abs(value)) * 2.0")
    return out.select("user_id", "event_id", rd(F.col("derived"), 6).alias("derived"))


@register(
    "recipe_compiled_chain",
    f"""
    WITH s1 AS (
      SELECT user_id, event_id, ts, abs(value - 50.0) AS v FROM events
    ),
    s2 AS (
      SELECT user_id, event_id, ts,
             avg(v) OVER ({_W} ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS v
      FROM s1
    ),
    s3 AS (
      SELECT user_id, event_id,
             (v - avg(v) OVER (PARTITION BY user_id))
               / (CASE WHEN stddev_pop(v) OVER (PARTITION BY user_id) = 0 THEN 1.0
                       ELSE stddev_pop(v) OVER (PARTITION BY user_id) END) AS v
      FROM s2
    )
    SELECT user_id, event_id, {R("v", 4)} AS v FROM s3
    """,
)
def _q_recipe_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's batch-recipe path (§3.3) as one compiled job:
    derived shift → absolute → moving average → z-score, all sharing the
    user_id partitioning (single shuffle)."""
    df = _events(spark, sf_dir).withColumn("v", F.col("value") - F.lit(50.0))
    recipe = {
        "operations": [
            {"description": "filter",
             "params": {"channels": ["v"], "filter_type": "absolute",
                        "preset": "ui-leftover", "apply_selection": False}},
            {"description": "filter",
             "params": {"channels": ["v"], "filter_type": "moving_average", "window": 5}},
            {"description": "filter",
             "params": {"channels": ["v"], "filter_type": "normalize_zscore"}},
        ]
    }
    out = apply_recipe(
        df, recipe, trial_key="user_id", time_col="t", sample_rate=120.0,
    )
    return out.select("user_id", "event_id", rd(F.col("v"), 4).alias("v"))


_F5_HI = 10.0
_F5_WIN = max(3, int(120.0 / max(_F5_HI, 1)))  # 12
_F5_LO, _F5_HIF = -(_F5_WIN // 2), _F5_WIN - _F5_WIN // 2 - 1

# like f3/f4: the oracle models the scipy-ABSENT fallback branch; under
# scipy the kernel runs filtfilt and the query downgrades to rows-only
# (see parity.HAS_SCIPY)
HAS_SCIPY = _scipy_signal is not None

_F5_SQL = f"""
    WITH base AS (
      SELECT user_id, event_id, value * pi() AS v,
             CAST(row_number() OVER ({_W}) - 1 AS DOUBLE) AS idx
      FROM events
    ),
    fit AS (
      SELECT user_id, event_id, idx,
             v - ((avg(v) OVER (PARTITION BY user_id)
                   - (covar_pop(idx, v) OVER (PARTITION BY user_id)
                      / var_pop(idx) OVER (PARTITION BY user_id))
                     * avg(idx) OVER (PARTITION BY user_id))
                  + (covar_pop(idx, v) OVER (PARTITION BY user_id)
                     / var_pop(idx) OVER (PARTITION BY user_id)) * idx) AS v
      FROM base
    )
    SELECT user_id, event_id,
           {R(f"avg(v) OVER (PARTITION BY user_id ORDER BY idx ROWS BETWEEN {-_F5_LO} PRECEDING AND {_F5_HIF} FOLLOWING)", 4)} AS bp_value
    FROM fit
    """


@register("f5_butter_bandpass_fallback", None if HAS_SCIPY else _F5_SQL)
def _q_butter_bandpass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 scipy-absent fallback (filter_engine.py:125-129): linear
    detrend then the lowpass rolling mean. The kernel runs per trial in
    pandas; the oracle is the same composition relationally.

    Caveat mirrored from the reference: the pandas kernel's detrend uses
    np.polyfit — numerically the same OLS line as covar/var closed form
    to ~1e-12, π-scaled so rounding never straddles that gap."""
    import numpy as np

    df = _events(spark, sf_dir).withColumn("v", F.col("value") * F.lit(float(np.pi)))
    out = apply_filter(
        df, ["v"], "butter_bandpass",
        {"low_cut": 0.5, "high_cut": _F5_HI, "order": 2},
        sample_rate=120.0, **_EVK,
    )
    return out.select("user_id", "event_id", rd(F.col("v"), 4).alias("bp_value"))


@register(
    "a9_sessionize",
    f"""
    WITH gaps AS (
      SELECT user_id, epoch(ts) AS t,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER ({_W}) > 1800.0
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    ids AS (
      SELECT user_id, t,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           {R("min(t)", 3)} AS session_start, {R("max(t)", 3)} AS session_end,
           count(*) AS n_events
    FROM ids GROUP BY user_id, session_id
    """,
)
def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from time_series_data_trimmer_spark.operators.aggregates import sessionize

    df = _events(spark, sf_dir)
    out = sessionize(df, 1800.0, trial_key="user_id", time_col="t", order_cols=["t", "event_id"])
    return out.select(
        "user_id", "session_id",
        rd(F.col("session_start"), 3).alias("session_start"),
        rd(F.col("session_end"), 3).alias("session_end"),
        "n_events",
    )
