"""Signal-processing filter operators (SURVEY §2.3, F1–F15).

Re-expresses the reference's 14-filter dispatcher
(``/root/reference/filter_engine.py:25-91``) as lazy Spark plans:

* **Column-expression filters** (moving_average, median, detrend,
  derivative, integrate, normalize_zscore, normalize_percent,
  moving_rms, absolute, linear interpolate): pure window/aggregate
  expressions — JVM-side, whole-stage-codegen, no Python on the hot
  path. All windows partition by the trial key, so a chain of filters
  shares ONE shuffle (established once by the first window).
* **Grouped-map kernels** (savgol, butter_lowpass, butter_bandpass,
  non-linear interpolate, resample): whole-series DSP that no SQL window
  can express (IIR filtfilt needs the full trial in order,
  filter_engine.py:115-134). These run as Arrow-batched
  ``applyInPandas`` per trial — the reference's own constraint ("a
  trial fits in memory", README.md:325) becomes "a trial fits in one
  executor task".

Exact-semantics notes (oracle-checked, see tests/test_filters.py):

* Centered rolling frame for window ``w`` is
  ``rowsBetween(-(w//2), w - w//2 - 1)`` — pandas ``center=True`` puts
  the extra element of an even window to the LEFT (filter_engine.py:40).
* ``min_periods=1`` edge shrink == Spark aggregate over a partial frame.
* ``integrate`` uses ``np.cumsum`` (filter_engine.py:65), which
  NaN-poisons the entire suffix — reproduced via a running null-count.
* ``normalize_zscore`` uses POPULATION std with a falsy-zero guard
  (``np.nanstd(arr) or 1.0``, filter_engine.py:68).
* Selection ``(start, end)`` restricts the filter to a time slice and
  windows see ONLY the slice (filter_engine.py:30-37,90) — implemented
  by adding the slice flag to the window partition key, so edge shrink
  happens at the selection boundary, not the trial boundary.
"""

from __future__ import annotations

import math
from typing import Callable, Iterable, Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

try:  # pragma: no cover - optional, absent in the test container
    from scipy import signal as _scipy_signal
except Exception:  # pragma: no cover
    _scipy_signal = None

DEFAULT_SAMPLE_RATE = 120.0
_SEL_COL = "__in_selection"
_IDX_COL = "__row_idx"

#: parameter schema per filter, mirroring FILTER_PARAM_MAP
#: (/root/reference/dialogs.py:15-30).
FILTER_PARAMS: dict[str, dict[str, object]] = {
    "moving_average": {"window": 5},
    "median": {"window": 5},
    "savgol": {"window": 11, "polyorder": 2},
    "butter_lowpass": {"cutoff": 6.0, "order": 2},
    "butter_bandpass": {"low_cut": 0.5, "high_cut": 10.0, "order": 2},
    "detrend": {},
    "resample": {"target_fs": 120.0},
    "interpolate": {"method": "linear"},
    "derivative": {},
    "integrate": {},
    "normalize_zscore": {},
    "normalize_percent": {},
    "moving_rms": {"window": 5},
    "absolute": {},
}

INTERPOLATE_METHODS = ("linear", "nearest", "zero", "slinear", "quadratic", "cubic")


def available_filters() -> list[str]:
    """Registry names, same vocabulary as filter_engine.py:173-189."""
    return [
        "moving_average",
        "median",
        "savgol",
        "butter_lowpass",
        "butter_bandpass",
        "detrend",
        "resample",
        "interpolate",
        "derivative",
        "integrate",
        "normalize_zscore",
        "normalize_percent",
        "moving_rms",
        "absolute",
    ]


def centered_frame(w: int) -> tuple[int, int]:
    """pandas ``rolling(w, center=True)`` frame bounds (extra element left)."""
    return (-(w // 2), w - (w // 2) - 1)


def _windows(
    trial_key: str | Sequence[str] | None,
    order_cols: Sequence[str],
    selection: bool,
) -> tuple[WindowSpec, WindowSpec, WindowSpec]:
    """(ordered window, unbounded partition window, reverse-ordered
    window) for the trial grain. The reverse order mirrors the ordered
    one exactly only where ``order_cols`` are unique in a partition."""
    pcols: list[str] = []
    if trial_key:
        pcols = [trial_key] if isinstance(trial_key, str) else list(trial_key)
    if selection:
        pcols = pcols + [_SEL_COL]
    ws = Window.partitionBy(*pcols).orderBy(*order_cols)
    wp = Window.partitionBy(*pcols)
    wr = Window.partitionBy(*pcols).orderBy(*[F.col(c).desc() for c in order_cols])
    return ws, wp, wr


# ---------------------------------------------------------------------------
# Column-expression filter builders. Each returns the replacement Column for
# channel `c` given (ordered window ws, partition window wp, params, fs).
# ---------------------------------------------------------------------------


def _f_moving_average(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    lo, hi = centered_frame(int(p.get("window", 5)))
    return F.avg(c).over(ws.rowsBetween(lo, hi))


def _f_median(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    # Exact rolling median: Spark forbids `median` with a window frame, so
    # sort the (small, null-free) frame contents and average the middle
    # pair — identical to pandas' interpolated median, and exact (never
    # approx_percentile: oracle-compared, SURVEY §7.5-4).
    lo, hi = centered_frame(int(p.get("window", 5)))
    arr = F.sort_array(F.collect_list(c).over(ws.rowsBetween(lo, hi)))
    n = F.size(arr)
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    mid_hi = F.element_at(arr, (n / 2).cast("int") + 1)
    return F.when(n == 0, F.lit(None).cast("double")).otherwise((mid_lo + mid_hi) / 2.0)


def _f_moving_rms(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    lo, hi = centered_frame(max(1, int(p.get("window", 5))))
    return F.sqrt(F.avg(F.pow(c, F.lit(2))).over(ws.rowsBetween(lo, hi)))


def _f_absolute(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    return F.abs(c)


def _f_derivative(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    # np.gradient(x, dt): central differences, one-sided at the edges
    # (filter_engine.py:62). dt = 1/max(fs, 1.0). Edges are POSITIONS
    # (first/last row of the trial), not null-neighbors: a mid-series
    # null sample must poison its neighbors' central differences the way
    # NaN poisons np.gradient — null arithmetic does that for free, so
    # no isNull special-casing beyond the position tests.
    dt = 1.0 / max(fs, 1.0)
    prev, nxt = F.lag(c).over(ws), F.lead(c).over(ws)
    rn = F.row_number().over(ws)
    cnt = F.count(F.lit(1)).over(wp)
    return (
        F.when(cnt == 1, F.lit(None).cast("double"))
        .when(rn == 1, (nxt - c) / F.lit(dt))
        .when(rn == cnt, (c - prev) / F.lit(dt))
        .otherwise((nxt - prev) / F.lit(2.0 * dt))
    )


def _f_integrate(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    # np.cumsum poisons the suffix after the first NaN (filter_engine.py:65).
    dt = 1.0 / max(fs, 1.0)
    run = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nulls_so_far = F.sum(F.when(c.isNull(), 1).otherwise(0)).over(run)
    return F.when(nulls_so_far > 0, F.lit(None).cast("double")).otherwise(
        F.sum(c).over(run) * F.lit(dt)
    )


def _f_normalize_zscore(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    # population std; `std or 1.0` falsy-zero guard (filter_engine.py:66-69).
    mean, std = F.avg(c).over(wp), F.stddev_pop(c).over(wp)
    return (c - mean) / F.when(std == 0.0, F.lit(1.0)).otherwise(std)


def _f_normalize_percent(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    m = F.max(F.abs(c)).over(wp)
    return c / F.when(m == 0.0, F.lit(1.0)).otherwise(m) * F.lit(100.0)


def _f_detrend(c: Column, ws: WindowSpec, wp: WindowSpec, p: Mapping, fs: float) -> Column:
    # Linear detrend over the row index (filter_engine.py:136-146 fallback /
    # scipy.signal.detrend): closed-form OLS via covar_pop/var_pop — no UDF.
    # polyfit NaN-poisons the whole series when any sample is NaN; reproduce
    # with a partition-wide null flag.
    idx = (F.row_number().over(ws) - F.lit(1)).cast("double")
    slope = F.covar_pop(idx, c).over(wp) / F.var_pop(idx).over(wp)
    intercept = F.avg(c).over(wp) - slope * F.avg(idx).over(wp)
    any_null = F.max(c.isNull().cast("int")).over(wp)
    return F.when(any_null > 0, F.lit(None).cast("double")).otherwise(
        c - (intercept + slope * idx)
    )


def _f_interpolate_linear(c: Column, ws: WindowSpec, wr: WindowSpec) -> Column:
    # pandas Series.interpolate(method="linear", limit_direction="both"):
    # values treated as equally spaced (index ignored); leading/trailing NaNs
    # filled from the nearest valid value (filter_engine.py:85-87).
    # ws / wr order by the row index column (_IDX_COL) up and down. The
    # nearest valid value AFTER a row is the last one up to it in reverse
    # order: both frames grow from the partition start, so Spark keeps a
    # running aggregate, O(n) per trial. (A currentRow ->
    # unboundedFollowing frame is re-evaluated per row, O(n²).)
    idx = F.col(_IDX_COL).cast("double")
    back = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ahead = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_v = F.last(c, ignorenulls=True).over(back)
    next_v = F.last(c, ignorenulls=True).over(ahead)
    prev_i = F.last(F.when(c.isNotNull(), idx), ignorenulls=True).over(back)
    next_i = F.last(F.when(c.isNotNull(), idx), ignorenulls=True).over(ahead)
    lerp = prev_v + (next_v - prev_v) * (idx - prev_i) / (next_i - prev_i)
    return (
        F.when(c.isNotNull(), c)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(lerp)
    )


_EXPR_FILTERS: dict[str, Callable[..., Column]] = {
    "moving_average": _f_moving_average,
    "median": _f_median,
    "moving_rms": _f_moving_rms,
    "absolute": _f_absolute,
    "abs": _f_absolute,
    "derivative": _f_derivative,
    "integrate": _f_integrate,
    "normalize_zscore": _f_normalize_zscore,
    "normalize_percent": _f_normalize_percent,
    "detrend": _f_detrend,
}


# ---------------------------------------------------------------------------
# Grouped-map pandas kernels (per trial). Exact per-series semantics match
# filter_engine.py:94-170 including the scipy-absent fallback paths.
# ---------------------------------------------------------------------------


def savgol_series(data: np.ndarray, window: int, poly: int) -> np.ndarray:
    """Savitzky-Golay (filter_engine.py:94-113). scipy when present, else
    the reference's per-point local-polyfit fallback, with the interior
    (full-width) windows vectorized as a convolution against the fixed
    least-squares weight vector."""
    if _scipy_signal is not None:
        try:
            return _scipy_signal.savgol_filter(data, window, poly)
        except Exception:
            pass
    half = window // 2
    n = len(data)
    out = np.copy(data).astype(float)
    if n == 0:
        return out
    deg = min(poly, window - 1)
    if n >= window:
        # Interior: identical least-squares fit for every full window →
        # one weight vector (value of the fit at the window center).
        x = np.arange(window, dtype=float)
        V = np.vander(x, deg + 1, increasing=True)
        # fit value at center = e_center · pinv(V) rows combined
        w_center = (V @ np.linalg.pinv(V))[half]
        valid = np.convolve(data, w_center[::-1], mode="valid")  # len n-window+1
        out[half : n - (window - 1 - half)] = valid
    for i in list(range(min(half, n))) + list(range(max(n - (window - 1 - half), 0), n)):
        lo, hi = max(0, i - half), min(n, i + half + 1)
        x = np.arange(lo, hi, dtype=float)
        y = data[lo:hi]
        try:
            coeffs = np.polyfit(x, y, deg=min(poly, len(x) - 1))
            out[i] = np.polyval(coeffs, float(i))
        except Exception:
            out[i] = data[i]
    return out


def butter_lowpass_series(data: np.ndarray, cutoff: float, order: int, fs: float) -> np.ndarray:
    """Zero-phase Butterworth LPF (filter_engine.py:115-123); scipy-absent
    fallback = centered rolling mean of width fs/cutoff, min 3."""
    if _scipy_signal is None or cutoff <= 0:
        window = max(3, int(fs / max(cutoff, 1)))
        return pd.Series(data).rolling(window=window, min_periods=1, center=True).mean().to_numpy()
    nyq = 0.5 * fs
    b, a = _scipy_signal.butter(order, cutoff / nyq, btype="low", analog=False)
    return _scipy_signal.filtfilt(b, a, data)


def detrend_series(data: np.ndarray) -> np.ndarray:
    """Linear detrend (filter_engine.py:136-146)."""
    if _scipy_signal is not None:
        try:
            return _scipy_signal.detrend(data)
        except Exception:
            pass
    x = np.arange(len(data))
    coeffs = np.polyfit(x, data, 1)
    return data - np.polyval(coeffs, x)


def butter_bandpass_series(data: np.ndarray, low_cut: float, high_cut: float, order: int, fs: float) -> np.ndarray:
    """Zero-phase Butterworth BPF (filter_engine.py:125-134); scipy-absent
    fallback = detrend + lowpass."""
    if _scipy_signal is None:
        return butter_lowpass_series(detrend_series(data), high_cut, order, fs)
    nyq = 0.5 * fs
    b, a = _scipy_signal.butter(order, [low_cut / nyq, high_cut / nyq], btype="band")
    return _scipy_signal.filtfilt(b, a, data)


def resample_trial(pdf: pd.DataFrame, target_fs: float, time_col: str = "normalized_time") -> pd.DataFrame:
    """Uniform-grid resample of one trial (filter_engine.py:148-170):
    grid length ``int(t_last * target_fs)`` (truncating), numeric columns
    linearly interpolated, non-numeric broadcast from the first row,
    ``is_bad_segment`` via float-interp > 0.5."""
    if time_col not in pdf.columns or len(pdf) < 2:
        return pdf
    t_old = pdf[time_col].to_numpy()
    n_new = int(t_old[-1] * target_fs)
    if n_new <= 1:
        return pdf
    t_new = np.arange(n_new) / target_fs
    out = pd.DataFrame()
    out[time_col] = t_new
    for col in pdf.columns:
        if col == time_col:
            continue
        if col == "is_bad_segment":
            continue
        if pd.api.types.is_numeric_dtype(pdf[col]):
            out[col] = np.interp(t_new, t_old, pdf[col].to_numpy(dtype=float))
        else:
            out[col] = pdf[col].iloc[0]
    if "is_bad_segment" in pdf.columns:
        out["is_bad_segment"] = (
            np.interp(t_new, t_old, pdf["is_bad_segment"].astype(float).to_numpy()) > 0.5
        )
    return out[list(pdf.columns)]


_KERNEL_FILTERS = {"savgol", "butter_lowpass", "butter_bandpass"}


def _kernel_fn(filter_type: str, params: Mapping, fs: float) -> Callable[[np.ndarray], np.ndarray]:
    if filter_type == "savgol":
        win = int(params.get("window", 11))
        if win % 2 == 0:  # odd window forced (filter_engine.py:47-48)
            win += 1
        poly = int(params.get("polyorder", 2))
        return lambda a: savgol_series(a, win, poly)
    if filter_type == "butter_lowpass":
        cutoff = float(params.get("cutoff", 6.0))
        order = int(params.get("order", 2))
        return lambda a: butter_lowpass_series(a, cutoff, order, fs)
    if filter_type == "butter_bandpass":
        lo = float(params.get("low_cut", 0.5))
        hi = float(params.get("high_cut", 10.0))
        order = int(params.get("order", 2))
        return lambda a: butter_bandpass_series(a, lo, hi, order, fs)
    raise ValueError(filter_type)


# ---------------------------------------------------------------------------
# Public dispatcher — the Spark analog of FilterEngine.apply
# (filter_engine.py:25-91), but lazy: returns a new DataFrame plan.
# ---------------------------------------------------------------------------


def apply_filter(
    df: DataFrame,
    channels: Iterable[str],
    filter_type: str,
    params: Mapping | None = None,
    selection: tuple[float, float] | None = None,
    *,
    trial_key: str | Sequence[str] | None = "trial_id",
    time_col: str = "normalized_time",
    order_cols: Sequence[str] | None = None,
    sample_rate: float = DEFAULT_SAMPLE_RATE,
) -> DataFrame:
    """Apply one named filter to the listed channels, lazily.

    Mirrors ``FilterEngine.apply`` (filter_engine.py:25-91): missing
    channels are skipped; unknown filter types are identity; ``selection``
    confines both the computation and the write-back to the time slice.
    ``trial_key`` may be None for single-trial frames (single partition).
    """
    params = dict(params or {})
    channels = [c for c in channels if c in df.columns]
    if not channels and filter_type != "resample":
        return df

    if filter_type == "resample":
        target_fs = float(params.get("target_fs", sample_rate))
        return _apply_resample(df, target_fs, trial_key=trial_key, time_col=time_col)

    order_cols = list(order_cols) if order_cols else [time_col]
    has_sel = selection is not None
    if has_sel:
        start, end = selection
        df = df.withColumn(
            _SEL_COL, F.col(time_col).cast("double").between(float(start), float(end))
        )
    ws, wp, wr = _windows(trial_key, order_cols, has_sel)

    if filter_type in _EXPR_FILTERS or filter_type == "interpolate":
        method = str(params.get("method", "linear"))
        if filter_type == "interpolate" and method != "linear":
            df = _apply_pandas_interpolate(
                df, channels, method, trial_key=trial_key, time_col=time_col, has_sel=has_sel
            )
        else:
            interp = filter_type == "interpolate"
            if interp:
                # number the rows once and order every frame by that unique
                # index, so the forward and reverse orders mirror each other
                # even where order_cols tie
                df = df.withColumn(_IDX_COL, F.row_number().over(ws))
                ws, _, wr = _windows(trial_key, [_IDX_COL], has_sel)
            exprs = {}
            for ch in channels:
                c = F.col(ch).cast("double")
                newc = (
                    _f_interpolate_linear(c, ws, wr)
                    if interp
                    else _EXPR_FILTERS[filter_type](c, ws, wp, params, sample_rate)
                )
                if has_sel:
                    newc = F.when(F.col(_SEL_COL), newc).otherwise(F.col(ch))
                exprs[ch] = newc
            df = df.withColumns(exprs)
            if interp:
                df = df.drop(_IDX_COL)
    elif filter_type in _KERNEL_FILTERS:
        df = _apply_pandas_kernel(
            df, channels, _kernel_fn(filter_type, params, sample_rate),
            trial_key=trial_key, time_col=time_col, has_sel=has_sel,
        )
    else:
        pass  # unknown filter type → identity (filter_engine.py:88-89)

    if has_sel:
        df = df.drop(_SEL_COL)
    return df


def _group_cols(trial_key: str | Sequence[str] | None, has_sel: bool) -> list[str]:
    cols: list[str] = []
    if trial_key:
        cols = [trial_key] if isinstance(trial_key, str) else list(trial_key)
    if has_sel:
        cols.append(_SEL_COL)
    return cols


def _spread_for_kernel(df: DataFrame, gcols: list[str]) -> DataFrame:
    """Explicitly hash-spread the trial groups before a grouped-map
    kernel: the stage is CPU-bound in Python, and AQE's byte-based
    coalescing would otherwise merge the small shuffle down to 1-2
    partitions, serializing all kernels onto 1-2 workers. The explicit
    count is honored verbatim; the subsequent groupBy reuses the same
    hash partitioning (no extra exchange)."""
    if not gcols:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *[F.col(c) for c in gcols])


def _apply_pandas_kernel(
    df: DataFrame,
    channels: Sequence[str],
    fn: Callable[[np.ndarray], np.ndarray],
    *,
    trial_key: str | Sequence[str] | None,
    time_col: str,
    has_sel: bool,
) -> DataFrame:
    """Run a whole-series numpy kernel per trial via applyInPandas.

    One Arrow round-trip per trial; output schema == input schema except
    the filtered channels are forced to double.
    """
    schema = _kernel_schema(df, channels)
    gcols = _group_cols(trial_key, has_sel)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col, kind="mergesort")
        if has_sel and not bool(pdf[_SEL_COL].iloc[0]):
            for ch in channels:
                pdf[ch] = pdf[ch].astype(float)
            return pdf
        for ch in channels:
            pdf[ch] = fn(pdf[ch].to_numpy(dtype=float))
        return pdf

    df = _spread_for_kernel(df, gcols)
    grouped = df.groupBy(*gcols) if gcols else df.groupBy(F.lit(1).alias("__g"))
    out = grouped.applyInPandas(run, schema=schema)
    return out


def _kernel_schema(df: DataFrame, channels: Sequence[str]):
    from pyspark.sql.types import DoubleType, StructField, StructType

    fields = []
    for f in df.schema.fields:
        if f.name in channels:
            fields.append(StructField(f.name, DoubleType(), True))
        else:
            fields.append(f)
    return StructType(fields)


def _apply_pandas_interpolate(
    df: DataFrame,
    channels: Sequence[str],
    method: str,
    *,
    trial_key: str | Sequence[str] | None,
    time_col: str,
    has_sel: bool,
) -> DataFrame:
    """Non-linear gap fill via pandas Series.interpolate (needs scipy for
    spline/nearest methods, exactly like the reference)."""
    if method not in INTERPOLATE_METHODS:
        raise ValueError(f"unknown interpolate method: {method}")
    schema = _kernel_schema(df, channels)
    gcols = _group_cols(trial_key, has_sel)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col, kind="mergesort")
        if has_sel and not bool(pdf[_SEL_COL].iloc[0]):
            for ch in channels:
                pdf[ch] = pdf[ch].astype(float)
            return pdf
        for ch in channels:
            pdf[ch] = (
                pdf[ch].astype(float).interpolate(method=method, limit_direction="both")
            )
        return pdf

    df = _spread_for_kernel(df, gcols)
    grouped = df.groupBy(*gcols) if gcols else df.groupBy(F.lit(1).alias("__g"))
    return grouped.applyInPandas(run, schema=schema)


def _apply_resample(
    df: DataFrame,
    target_fs: float,
    *,
    trial_key: str | Sequence[str] | None,
    time_col: str,
) -> DataFrame:
    """Whole-frame uniform resample per trial (filter_engine.py:148-170).

    Resample ignores selections (the reference replaces the entire frame
    and returns immediately, filter_engine.py:80-84)."""
    from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

    fields = []
    for f in df.schema.fields:
        if f.name == time_col:
            fields.append(StructField(f.name, DoubleType(), True))
        elif f.name == "is_bad_segment":
            fields.append(StructField(f.name, BooleanType(), True))
        elif f.dataType.typeName() in (
            "double", "float", "int", "integer", "long", "short", "decimal",
        ):
            fields.append(StructField(f.name, DoubleType(), True))
        else:
            fields.append(f)
    schema = StructType(fields)
    gcols = _group_cols(trial_key, False)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = resample_trial(pdf.sort_values(time_col, kind="mergesort"), target_fs, time_col)
        for f in schema.fields:
            if isinstance(f.dataType, DoubleType):
                out[f.name] = out[f.name].astype(float)
        return out

    df = _spread_for_kernel(df, gcols)
    grouped = df.groupBy(*gcols) if gcols else df.groupBy(F.lit(1).alias("__g"))
    return grouped.applyInPandas(run, schema=schema)
