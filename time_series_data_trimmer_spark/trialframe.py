"""TrialFrame — the reference's ``DataModel`` API over a lazy Spark plan
(SURVEY §3.2, README.md:281-296 of the reference).

Where the reference snapshots the full table for undo
(``data_model.py:131-137``, its stated scale ceiling), TrialFrame's
undo stack holds **references to immutable DataFrames** — O(1) per
operation; lineage replaces copies. The operation history doubles as a
serializable recipe (SURVEY §3.3/§3.4).

Memory model: every state the frame creates is persisted once
(``MEMORY_AND_DISK``), so redraws, rate probes and saves read that copy
instead of replaying the CSV scan and every earlier edit. At most three
states stay materialized — the current one and the tops of the undo and
redo stacks; the rest of the undo stack is lineage only. A persisted
state is still replayable from its lineage if the cache is evicted or an
executor is lost (no checkpoint truncates it). The frame releases its
states on ``load_csv``, ``restore_autosave`` and garbage collection.
"""

from __future__ import annotations

import json
import os
import weakref
from dataclasses import asdict, dataclass, field
from typing import Mapping, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_data_trimmer_spark import schema as _schema
from time_series_data_trimmer_spark.operators import edits as _edits
from time_series_data_trimmer_spark.operators import aggregates as _aggs
from time_series_data_trimmer_spark.operators.filters import apply_filter

DEFAULT_SAMPLE_RATE = 120.0


@dataclass
class AnnotationSegment:
    """data_model.py:20-27."""

    start: float
    end: float
    label: str
    track: str = "default"
    color: str = "#4e79a7"
    id: int = 0


@dataclass
class OperationRecord:
    """data_model.py:30-35 — the de-facto logical-plan record."""

    description: str
    params: dict
    start: float
    end: float


@dataclass
class _State:
    df: DataFrame
    annotations: list[AnnotationSegment]
    deletions: list[tuple[float, float]]
    history: list[OperationRecord]
    sample_rate: float


def _unpersist_all(owned: list[DataFrame]) -> None:
    for df in owned:
        df.unpersist()
    owned.clear()


class TrialFrame:
    """Facade with the reference verbs over one (or many) trials.

    ``trial_key=None`` replicates the reference's single-trial frames;
    pass ``trial_key="trial_id"`` (or ``"user_id"``) for the
    multi-trial engine — every operator then partitions by it.
    """

    def __init__(
        self,
        spark: SparkSession,
        trial_key: str | None = "trial_id",
        time_col: str = "normalized_time",
    ) -> None:
        self.spark = spark
        self.trial_key = trial_key
        self.time_col = time_col
        self.df: DataFrame | None = None
        self.annotations: list[AnnotationSegment] = []
        self.deletions: list[tuple[float, float]] = []
        self.history: list[OperationRecord] = []
        self.sample_rate: float = DEFAULT_SAMPLE_RATE
        self._undo: list[_State] = []
        self._redo: list[_State] = []
        self._id_counter = 1
        # states this frame persisted and has not released yet
        self._owned: list[DataFrame] = []
        weakref.finalize(self, _unpersist_all, self._owned).atexit = False

    # -- loading ----------------------------------------------------------
    def load_csv(self, path: str | Sequence[str]) -> "TrialFrame":
        """S1: CSV scan with NaN-sentinel normalization
        (data_model.py:64-82). Multi-path scans gain a ``trial_id``
        provenance column from ``input_file_name`` (S9)."""
        from time_series_data_trimmer_spark.sources.readers import read_trial_csv

        df = read_trial_csv(self.spark, path, trial_key=self.trial_key)
        df = _schema.ensure_time_axis(_schema.ensure_bad_mask(df), trial_key=self.trial_key)
        self._reset_session()
        self._set_df(df)
        # the rate probe is the job that fills the new state's cache
        self.sample_rate = self.infer_sample_rate()
        return self

    def set_dataframe(self, df: DataFrame) -> "TrialFrame":
        self._set_df(_schema.ensure_bad_mask(df))
        return self

    def _reset_session(self) -> None:
        self.annotations, self.deletions, self.history = [], [], []
        self._undo.clear()
        self._redo.clear()
        self._id_counter = 1
        self._release()

    # -- state materialization --------------------------------------------
    def _set_df(self, df: DataFrame) -> None:
        """The one assignment of ``self.df``: release the states that
        left the kept set, then persist the new one (a frame that is
        already cached — a redo target, or the caller's own cache — is
        not cached twice). Releasing first matters: an unpersist
        re-plans every unfilled cache whose plan contains the released
        state."""
        self.df = df
        self._release()
        if df.storageLevel == StorageLevel.NONE:
            df.persist(StorageLevel.MEMORY_AND_DISK)
            self._owned.append(df)

    def _release(self) -> None:
        """Unpersist every owned state other than the current one and
        the tops of the undo and redo stacks."""
        keep = [self.df] + [stack[-1].df for stack in (self._undo, self._redo) if stack]
        for df in [d for d in self._owned if not any(d is k for k in keep)]:
            df.unpersist()
            self._owned.remove(df)

    def get_dataframe(self) -> DataFrame:
        return self.df

    @property
    def classification(self) -> _schema.ColumnClassification:
        return _schema.classify_columns(self.df)

    @property
    def signal_columns(self) -> list[str]:
        return self.classification.signal_columns

    def channel_groups(self) -> dict[str, list[str]]:
        """data_model.py:310-357 cosmetic grouping."""
        groups: dict[str, list[str]] = {}
        for col in self.signal_columns:
            groups.setdefault(_schema.signal_group(col), []).append(col)
        return groups

    def infer_sample_rate(self, fallback: float = DEFAULT_SAMPLE_RATE) -> float:
        """A1 reduced to a driver scalar: median rate across trials."""
        rates = _aggs.infer_sample_rate(
            self.df, trial_key=self.trial_key, time_col=self.time_col, fallback=fallback
        )
        row = rates.agg(F.median("sample_rate").alias("r")).first()
        return float(row["r"]) if row and row["r"] is not None else fallback

    # -- undo/redo: O(1) references, at most 3 materialized ---------------
    def _snapshot(self) -> _State:
        return _State(
            self.df, list(self.annotations), list(self.deletions), list(self.history),
            self.sample_rate,
        )

    def _push(self) -> None:
        self._undo.append(self._snapshot())
        self._redo.clear()
        self._release()  # the cleared redo top leaves the kept set

    def _restore(self, src: list[_State], dst: list[_State]) -> None:
        if not src:
            return
        dst.append(self._snapshot())
        s = src.pop()
        self.annotations, self.deletions, self.history, self.sample_rate = (
            s.annotations, s.deletions, s.history, s.sample_rate,
        )
        self._set_df(s.df)

    def undo(self) -> None:
        self._restore(self._undo, self._redo)

    def redo(self) -> None:
        self._restore(self._redo, self._undo)

    # -- operators --------------------------------------------------------
    def apply(
        self,
        channels: Sequence[str],
        filter_type: str,
        params: Mapping | None = None,
        selection: tuple[float, float] | None = None,
    ) -> "TrialFrame":
        """FilterEngine.apply + DataModel.apply_dataframe in one lazy step
        (filter_engine.py:25-91, data_model.py:365-372)."""
        self._push()
        params = dict(params or {})
        self._set_df(apply_filter(
            self.df, channels, filter_type, params, selection,
            trial_key=self.trial_key, time_col=self.time_col, sample_rate=self.sample_rate,
        ))
        if filter_type == "resample":
            self.sample_rate = float(params.get("target_fs", self.sample_rate))
        start, end = (selection if selection else (0.0, 0.0))
        self.history.append(
            OperationRecord(
                "filter",
                {"channels": list(channels), "filter_type": filter_type, **params},
                float(start), float(end),
            )
        )
        return self

    def delete_segment(self, start: float, end: float) -> "TrialFrame":
        if start >= end:
            return self
        self._push()
        self._set_df(_edits.delete_segment(
            self.df, start, end,
            trial_key=self.trial_key, time_col=self.time_col, sample_rate=self.sample_rate,
        ))
        self.deletions.append((start, end))
        self.history.append(OperationRecord("delete_segment", {}, start, end))
        # post-delete rate uses the reference's 3-decimal formula
        # round(1/max(dt, 1e-6), 3) (data_model.py:187) via
        # post_delete_sample_rate — NOT infer_sample_rate's 2-decimal
        # round(1/median_dt, 2), which drifts by the rounding digit.
        # This probe is the job that fills the new state's cache.
        rates = _edits.post_delete_sample_rate(
            self.df, trial_key=self.trial_key, time_col=self.time_col
        )
        row = rates.agg(F.median("sample_rate").alias("r")).first()
        if row and row["r"] is not None:
            self.sample_rate = float(row["r"])
        return self

    def mark_bad(self, start: float, end: float) -> "TrialFrame":
        if start >= end:
            return self
        self._push()
        self._set_df(_edits.mark_bad(self.df, start, end, time_col=self.time_col))
        self.history.append(OperationRecord("mark_bad", {}, start, end))
        return self

    def annotate(
        self, start: float, end: float, label: str,
        track: str = "default", color: str = "#4e79a7",
    ) -> "TrialFrame":
        if start >= end:
            return self
        self._push()
        self.annotations.append(
            AnnotationSegment(start, end, label, track, color, self._id_counter)
        )
        self._id_counter += 1
        self.history.append(OperationRecord("annotate", {"label": label, "track": track}, start, end))
        return self

    def take_time_slice(self, start: float, end: float) -> DataFrame:
        return _edits.take_time_slice(self.df, start, end, time_col=self.time_col)

    def annotations_df(self) -> DataFrame:
        rows = [asdict(a) for a in self.annotations]
        if not rows:
            return self.spark.createDataFrame(
                [], "start double, end double, label string, track string, color string, id long"
            )
        return self.spark.createDataFrame(rows).select("start", "end", "label", "track", "color", "id")

    def deletions_df(self) -> DataFrame:
        if not self.deletions:
            return self.spark.createDataFrame([], "start double, end double")
        return self.spark.createDataFrame(
            [{"start": s, "end": e} for s, e in self.deletions]
        ).select("start", "end")

    def suggest(self, channel: str | None = None) -> DataFrame:
        ch = channel or self.signal_columns[0]
        return _aggs.suggest_segments(
            self.df, ch, trial_key=self.trial_key, time_col=self.time_col
        )

    def profile(self, channels: Sequence[str] | None = None) -> DataFrame:
        """ANALYZE-style per-channel statistics (count, nulls, min,
        max, KMV distinct estimate, sketch quartiles) in one pass —
        `operators.profiling.profile_columns` over the signal columns.
        The summary the reference computes ad hoc per trial
        (data_model.py median/mean passes), here register-bounded and
        mergeable across trials/days."""
        from time_series_data_trimmer_spark.operators.profiling import (
            profile_columns,
        )

        cols = list(channels or self.signal_columns)
        parts = ([F.col(self.trial_key)] if self.trial_key else []) + [
            F.col(self.time_col).cast("string")
        ]
        rid = F.concat_ws("|", *parts)
        return profile_columns(
            self.df.withColumn("__pid", rid), cols, id_col="__pid"
        )

    def preview(
        self,
        channels: Sequence[str],
        filter_type: str,
        params: Mapping | None = None,
        selection: tuple[float, float] | None = None,
    ) -> DataFrame:
        """Filter preview (main.py:706-725): the first selected channel
        before/after the filter, WITHOUT mutating state. Returns a lazy
        frame (trial?, time, original, filtered); for grid-changing
        filters (resample) the original is linearly interpolated onto
        the new time base, exactly like the reference preview."""
        ch = list(channels)[0]
        filtered = apply_filter(
            self.df, [ch], filter_type, dict(params or {}), selection,
            trial_key=self.trial_key, time_col=self.time_col, sample_rate=self.sample_rate,
        )
        keys = ([self.trial_key] if self.trial_key else []) + [self.time_col]
        f = filtered.select(*keys, F.col(ch).alias("filtered"))
        if filter_type != "resample":
            o = self.df.select(*keys, F.col(ch).alias("original"))
            return o.join(f, on=keys, how="inner")
        # resample changed the grid: interpolate the original onto it via
        # union + prev/next windows + lerp (the F13-linear machinery over
        # the combined time base)
        from pyspark.sql import Window as _W

        o = self.df.select(*keys, F.col(ch).alias("original")).withColumn(
            "__src", F.lit(0)
        )
        fu = f.withColumn("__src", F.lit(1)).withColumn("original", F.lit(None).cast("double"))
        o = o.withColumn("filtered", F.lit(None).cast("double"))
        u = o.select(*keys, "original", "filtered", "__src").unionByName(
            fu.select(*keys, "original", "filtered", "__src")
        )
        pcols = [self.trial_key] if self.trial_key else []
        ws = _W.partitionBy(*pcols).orderBy(self.time_col, "__src")
        back = ws.rowsBetween(_W.unboundedPreceding, _W.currentRow)
        fwd = ws.rowsBetween(_W.currentRow, _W.unboundedFollowing)
        t = F.col(self.time_col).cast("double")
        pv = F.last("original", ignorenulls=True).over(back)
        nv = F.first("original", ignorenulls=True).over(fwd)
        pt = F.last(F.when(F.col("original").isNotNull(), t), ignorenulls=True).over(back)
        nt = F.first(F.when(F.col("original").isNotNull(), t), ignorenulls=True).over(fwd)
        lerp = (
            F.when(pv.isNull(), nv)
            .when(nv.isNull(), pv)
            .when(nt == pt, pv)
            .otherwise(pv + (nv - pv) * (t - pt) / (nt - pt))
        )
        return (
            u.withColumn("original_interp", lerp)
            .filter(F.col("__src") == 1)
            .select(*keys, F.col("original_interp").alias("original"), "filtered")
        )

    def heatmap_matrix(self, channels: Sequence[str]) -> DataFrame:
        """E12: channel × time matrix input (plot2d.py:561-573):
        selected channels with nulls zero-filled — the client collects
        and pivots for rendering."""
        keys = ([self.trial_key] if self.trial_key else []) + [self.time_col]
        return self.df.select(*keys, *channels).na.fill(0.0, subset=list(channels))

    # -- persistence ------------------------------------------------------
    def save_clean(self, path: str, fmt: str = "parquet") -> None:
        """S4 at scale: partitioned parquet by default; CSV for parity."""
        writer = self.df.write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", True).csv(path)
        else:
            if self.trial_key and self.trial_key in self.df.columns:
                writer = writer.partitionBy(self.trial_key)
            writer.parquet(path)

    def save_annotations(self, path: str) -> None:
        """S5: sidecar JSON, same shape as data_model.py:259-268."""
        data = {
            "annotations": [asdict(a) for a in self.annotations],
            "deletions": [{"start": s, "end": e} for s, e in self.deletions],
            "history": [asdict(r) for r in self.history],
            "sample_rate": self.sample_rate,
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(data, f, indent=2)

    def load_annotations(self, path: str) -> "TrialFrame":
        """S5 inverse (data_model.py:270-305); deletions accepted as
        dicts or 2-element lists."""
        with open(path, "r", encoding="utf-8") as f:
            data = json.load(f)
        self.annotations = [AnnotationSegment(**a) for a in data.get("annotations", [])]
        parsed: list[tuple[float, float]] = []
        for d in data.get("deletions", []):
            try:
                if isinstance(d, dict):
                    parsed.append((float(d["start"]), float(d["end"])))
                elif isinstance(d, (list, tuple)) and len(d) == 2:
                    parsed.append((float(d[0]), float(d[1])))
            except (TypeError, ValueError, KeyError):
                continue
        self.deletions = parsed
        self.history = [OperationRecord(**h) for h in data.get("history", [])]
        if "sample_rate" in data:
            try:
                self.sample_rate = float(data["sample_rate"])
            except (TypeError, ValueError):
                pass
        if self.annotations:
            self._id_counter = max(a.id for a in self.annotations) + 1
        return self

    # -- reference autosave compatibility (main.py:1317-1355) -------------
    def autosave(self, path: str, max_rows: int = 1_000_000) -> None:
        """Write the reference's autosave JSON: ``{"data":
        dict-of-lists, "annotations": [...], "deletions": [...]}``
        (main.py:1317-1327). This collects the frame to the driver —
        it exists for migration/API parity with the desktop reference,
        and refuses frames over ``max_rows``; the scale-native
        checkpoint is `save_clean` (parquet)."""
        n = self.df.count()
        if n > max_rows:
            raise ValueError(
                f"autosave is a driver-side JSON dump ({n} rows > {max_rows}); "
                "use save_clean(parquet) for large frames"
            )
        state = {
            "data": self.df.toPandas().to_dict(orient="list"),
            "annotations": [asdict(a) for a in self.annotations],
            "deletions": [list(d) for d in self.deletions],
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(state, f)

    def restore_autosave(self, path: str) -> "TrialFrame":
        """Read a reference-format autosave file (main.py:1329-1352):
        dict-of-lists data → DataFrame, annotations, deletions. Closes
        the migration path from a desktop session into this engine."""
        import pandas as pd

        with open(path, "r", encoding="utf-8") as f:
            state = json.load(f)
        data = state.get("data")
        # a restored session starts a new history: undo must not return
        # to a frame from before the restore
        self._reset_session()
        if data:
            self.set_dataframe(self.spark.createDataFrame(pd.DataFrame(data)))
        self.annotations = [
            AnnotationSegment(**a) for a in state.get("annotations", [])
        ]
        self.deletions = [
            (float(d[0]), float(d[1]))
            for d in state.get("deletions", [])
            if isinstance(d, (list, tuple)) and len(d) == 2
        ]
        if self.annotations:
            self._id_counter = max(a.id for a in self.annotations) + 1
        return self

    def recipe(self) -> dict:
        """History → recipe JSON (main.py:730-742)."""
        return {"operations": [asdict(r) for r in self.history]}
