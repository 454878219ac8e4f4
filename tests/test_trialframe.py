"""End-to-end TrialFrame facade + sources tests (reference API parity:
data_model.py verbs, project_manager.py catalog, plugin_system.py)."""

import gc
import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from time_series_data_trimmer_spark import TrialFrame
from time_series_data_trimmer_spark.sources.readers import (
    ProjectCatalog,
    load_plugins,
    read_trial_csv,
)


@pytest.fixture()
def trial_csvs(tmp_path):
    paths = []
    for trial in ("trialA", "trialB"):
        p = tmp_path / f"{trial}.csv"
        with open(p, "w") as f:
            f.write("gaze_heading_deg,participant_id,score\n")
            for i in range(20):
                v = "" if i == 7 else ("nan" if i == 11 else f"{(i * 3.7) % 17:.2f}")
                f.write(f"{v},P13,{i}\n")
        paths.append(str(p))
    return paths


def test_load_csv_classification_and_nan_sentinels(spark, trial_csvs):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    cls = tf.classification
    assert cls.time_column == "normalized_time"  # fabricated (S3)
    assert "gaze_heading_deg" in cls.signal_columns and "score" in cls.signal_columns
    assert "participant_id" in cls.metadata_columns
    assert cls.mask_column == "is_bad_segment"
    pdf = tf.df.toPandas()
    assert pdf["trial_id"].nunique() == 2  # S9 provenance
    assert pdf["gaze_heading_deg"].isna().sum() == 4  # ""/"nan" → null ×2 trials
    assert tf.channel_groups()["Gaze"] == ["gaze_heading_deg"]


def test_edit_undo_redo_lineage(spark, trial_csvs):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    n0 = tf.df.count()
    tf.delete_segment(0.02, 0.05)
    n1 = tf.df.count()
    assert n1 < n0
    tf.undo()
    assert tf.df.count() == n0
    tf.redo()
    assert tf.df.count() == n1
    assert tf.deletions == [(0.02, 0.05)]


def test_undo_redo_restore_sample_rate(spark, trial_csvs):
    # the 120 Hz axis re-times to dt = 0.008 after a delete (rate 125);
    # undo must bring the 120 Hz rate back with the 120 Hz frame, or the
    # next derivative/integrate/Butterworth uses the wrong dt
    tf = TrialFrame(spark).load_csv(trial_csvs)
    assert tf.sample_rate == pytest.approx(120.0)
    tf.delete_segment(0.02, 0.05)
    assert tf.sample_rate == pytest.approx(125.0)
    tf.undo()
    assert tf.sample_rate == pytest.approx(120.0)
    tf.redo()
    assert tf.sample_rate == pytest.approx(125.0)


def _cached(states):
    return [d for d in states if d.storageLevel != StorageLevel.NONE]


def _rows(df):
    return df.toPandas().sort_values(["trial_id", "normalized_time"]).reset_index(drop=True)


def _edit_session(tf, n_edits):
    """Cycle through every verb that makes a state; returns each
    distinct DataFrame the frame held, in order."""
    states = [tf.df]
    verbs = [
        lambda: tf.apply(["score"], "moving_average", {"window": 3}),
        lambda: tf.mark_bad(0.03, 0.06),
        lambda: tf.annotate(0.0, 0.02, "blink"),
        lambda: tf.apply(["gaze_heading_deg"], "interpolate", {"method": "linear"}),
        lambda: tf.undo(),
        lambda: tf.undo(),
        lambda: tf.redo(),
        lambda: tf.delete_segment(0.1, 0.11),
    ]
    for i in range(n_edits):
        verbs[i % len(verbs)]()
        if not any(tf.df is d for d in states):
            states.append(tf.df)
        assert len(_cached(states)) <= 3
    return states


def test_states_materialized_at_most_three_and_replayable(spark, trial_csvs):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    states = _edit_session(tf, 20)
    assert len(states) > 6
    assert any(tf.df is d for d in _cached(states))
    # every state, cached or lineage-only, gives the same rows after the
    # cache is dropped: persisted states replay from their lineage
    before = [_rows(d) for d in states]
    spark.catalog.clearCache()
    for d, want in zip(states, before):
        pd.testing.assert_frame_equal(_rows(d), want)


def test_states_released_on_reload_and_gc(spark, trial_csvs):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    states = _edit_session(tf, 10)
    assert _cached(states)
    tf.load_csv(trial_csvs[:1])
    assert _cached(states) == []
    assert _cached([tf.df]) == [tf.df]
    current = tf.df
    del tf
    gc.collect()
    assert _cached([current]) == []


def test_caller_cache_is_neither_doubled_nor_released(spark):
    pdf = pd.DataFrame(
        {
            "trial_id": ["t1"] * 30,
            "normalized_time": [i / 120.0 for i in range(30)],
            "ch": [float(i) for i in range(30)],
            "is_bad_segment": [False] * 30,
        }
    )
    df = spark.createDataFrame(pdf).cache()
    tf = TrialFrame(spark).set_dataframe(df)
    assert tf.df is df
    for k in range(4):
        tf.mark_bad(k * 0.05, k * 0.05 + 0.02)
    del tf
    gc.collect()
    assert _cached([df]) == [df]
    df.unpersist()


def test_annotation_persistence_roundtrip(spark, trial_csvs, tmp_path):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    tf.annotate(0.0, 0.1, "blink", track="eye")
    tf.apply(["gaze_heading_deg"], "moving_average", {"window": 3})
    path = str(tmp_path / "ann.json")
    tf.save_annotations(path)

    data = json.load(open(path))
    assert data["annotations"][0]["label"] == "blink"
    assert data["history"][-1]["params"]["filter_type"] == "moving_average"

    tf2 = TrialFrame(spark)
    tf2.df = tf.df
    tf2.load_annotations(path)
    assert tf2.annotations[0].track == "eye"
    assert tf2._id_counter == 2
    # list-form deletions accepted (data_model.py:289-293)
    data["deletions"] = [[1.0, 2.0]]
    json.dump(data, open(path, "w"))
    tf2.load_annotations(path)
    assert tf2.deletions == [(1.0, 2.0)]


def test_save_clean_parquet_partitioned(spark, trial_csvs, tmp_path):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    out = str(tmp_path / "clean")
    tf.save_clean(out)
    assert any(d.startswith("trial_id=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == tf.df.count()


def test_recipe_roundtrip_through_facade(spark, trial_csvs):
    from time_series_data_trimmer_spark.plans.recipe import apply_recipe

    tf = TrialFrame(spark).load_csv(trial_csvs)
    tf.apply(["score"], "normalize_percent", {})
    recipe = tf.recipe()
    assert recipe["operations"][0]["description"] == "filter"

    tf2 = TrialFrame(spark).load_csv(trial_csvs)
    replayed = apply_recipe(
        tf2.df, recipe, trial_key="trial_id", sample_rate=tf2.sample_rate
    )
    a = tf.df.toPandas().sort_values(["trial_id", "normalized_time"])["score"].to_numpy()
    b = replayed.toPandas().sort_values(["trial_id", "normalized_time"])["score"].to_numpy()
    np.testing.assert_allclose(a, b)


def test_project_catalog_roundtrip(tmp_path, spark):
    cat = ProjectCatalog()
    cat.add_trial("/data/a.csv", participant="P1", condition="stand")
    cat.add_trial("/data/b.csv")
    cat.update_status("/data/a.csv", "cleaned", "ok")
    cat.recipes.append(type(cat.recipes)) if False else None
    path = str(tmp_path / "project.json")
    cat.save(path)
    back = ProjectCatalog.load(path)
    assert back.trials[0].status == "cleaned"
    assert back.trials[0].participant == "P1"
    assert back.preferences["default_fs"] == 120.0
    assert back.to_df(spark).count() == 2


def test_plugin_loader(tmp_path):
    spec = {"name": "GazeSmooth", "operations": [
        {"type": "filter", "channels": ["g"], "filter": "savgol",
         "params": {"window": 11, "polyorder": 2}},
        {"type": "derived", "name": "g_abs", "expr": "abs(g)"}]}
    with open(tmp_path / "gaze.json", "w") as f:
        json.dump(spec, f)
    with open(tmp_path / "broken.plugin", "w") as f:
        f.write("{not json")
    plugins = load_plugins(str(tmp_path))
    assert set(plugins) == {"GazeSmooth"}
    assert plugins["GazeSmooth"]["operations"][1]["name"] == "g_abs"


def test_read_trial_csv_single_path_keeps_existing_trial_id(spark, tmp_path):
    p = tmp_path / "x.csv"
    with open(p, "w") as f:
        f.write("trial_id,v\nk1,1\nk1,2\n")
    df = read_trial_csv(spark, str(p))
    assert df.toPandas()["trial_id"].tolist() == ["k1", "k1"]


def test_preview_same_grid(spark, trial_csvs):
    import numpy as np

    tf = TrialFrame(spark).load_csv(trial_csvs)
    pv = tf.preview(["score"], "moving_average", {"window": 3}).toPandas()
    assert {"original", "filtered"} <= set(pv.columns)
    assert len(pv) == tf.df.count()
    # state untouched
    assert tf.history == []
    one = pv[pv.trial_id == pv.trial_id.iloc[0]].sort_values("normalized_time")
    import pandas as pd
    want = one["original"].rolling(3, center=True, min_periods=1).mean()
    np.testing.assert_allclose(one["filtered"], want)


def test_preview_resample_interpolates_original(spark, trial_csvs):
    import numpy as np

    tf = TrialFrame(spark).load_csv(trial_csvs)
    fs = tf.sample_rate
    pv = tf.preview(["score"], "resample", {"target_fs": fs / 2.0}).toPandas()
    assert {"original", "filtered"} <= set(pv.columns)
    assert 0 < len(pv) < tf.df.count()
    assert pv["original"].notna().all()


def test_heatmap_matrix_zero_fills(spark, trial_csvs):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    hm = tf.heatmap_matrix(["gaze_heading_deg", "score"]).toPandas()
    assert hm["gaze_heading_deg"].notna().all()  # NaNs → 0 (plot2d.py:561-573)


def test_numeric_nan_sentinels_become_null_not_nan(spark, trial_csvs):
    # the csv nanValue option parses numeric 'nan' cells to Double.NaN,
    # but the engine's missing representation is null — NaN would
    # propagate through avg/stddev/max and poison whole windows where
    # the pandas reference (min_periods=1) skips the sample
    from pyspark.sql import functions as F

    df = read_trial_csv(spark, trial_csvs)
    assert df.filter(F.isnan("gaze_heading_deg")).count() == 0
    assert df.filter(F.col("gaze_heading_deg").isNull()).count() == 4

    tf = TrialFrame(spark).load_csv(trial_csvs).apply(
        ["gaze_heading_deg"], "moving_average", {"window": 3}
    )
    vals = tf.df.toPandas()["gaze_heading_deg"].to_numpy(dtype=float)
    # every window contains >= 1 non-missing sample, so nothing is NaN
    assert np.isfinite(vals).all()


def test_suggest_flags_infinite_samples(spark):
    # ~np.isfinite (main.py:1289): ±Inf counts as an artifact sample
    import pandas as pd

    from time_series_data_trimmer_spark.operators.aggregates import suggest_segments

    pdf = pd.DataFrame(
        {
            "trial_id": ["t1"] * 8,
            "normalized_time": [i / 10.0 for i in range(8)],
            "ch": [1.0, 1.1, float("inf"), 1.2, float("-inf"), 1.3, None, 1.4],
        }
    )
    out = suggest_segments(spark.createDataFrame(pdf), "ch").toPandas()
    nan_rows = out[out["kind"] == "nan"]
    flagged_starts = sorted(nan_rows["seg_start"].tolist())
    assert flagged_starts == [0.2, 0.4, 0.6]


def test_delete_segment_rate_uses_3_decimal_reference_formula(spark):
    # data_model.py:187: rate = round(1/max(dt, 1e-6), 3) — with
    # dt = 0.012 that is 83.333; the 2-decimal infer_sample_rate formula
    # would give 83.33
    import pandas as pd

    n = 50
    pdf = pd.DataFrame(
        {
            "trial_id": ["t1"] * n,
            "normalized_time": [round(i * 0.012, 3) for i in range(n)],
            "ch": [float(i) for i in range(n)],
        }
    )
    tf = TrialFrame(spark).set_dataframe(spark.createDataFrame(pdf))
    tf.delete_segment(0.1, 0.2)
    assert tf.sample_rate == pytest.approx(83.333, abs=1e-9)


def test_reference_autosave_roundtrip(spark, trial_csvs, tmp_path):
    # migration path: the engine can read (and write) the desktop
    # reference's autosave JSON (main.py:1317-1355 dict-of-lists format)
    p = str(tmp_path / "autosave.json")
    tf = TrialFrame(spark).load_csv(trial_csvs)
    tf.annotate(1.0, 2.0, "warmup").annotate(3.0, 4.0, "blink", track="eye")
    tf.autosave(p)

    # the file is bit-compatible with what the reference's restore reads:
    # data as dict-of-lists, annotations as dataclass dicts, deletions
    with open(p) as f:
        state = json.load(f)
    assert isinstance(state["data"], dict)
    assert all(isinstance(v, list) for v in state["data"].values())
    assert state["annotations"][0]["label"] == "warmup"

    tf2 = TrialFrame(spark).restore_autosave(p)
    assert tf2.df.count() == tf.df.count()
    assert sorted(tf2.df.columns) == sorted(tf.df.columns)
    assert [a.label for a in tf2.annotations] == ["warmup", "blink"]
    assert tf2._id_counter == max(a.id for a in tf.annotations) + 1


def test_restore_autosave_starts_a_new_history(spark, trial_csvs, tmp_path):
    p = str(tmp_path / "autosave.json")
    tf = TrialFrame(spark).load_csv(trial_csvs)
    tf.annotate(1.0, 2.0, "warmup")
    tf.autosave(p)
    n = tf.df.count()
    tf.delete_segment(0.02, 0.05).mark_bad(0.0, 0.01)
    tf.undo()
    tf.restore_autosave(p)
    assert tf.history == [] and tf._undo == [] and tf._redo == []
    # undo/redo cannot return to a frame from before the restore
    tf.undo()
    tf.redo()
    assert tf.df.count() == n
    assert [a.label for a in tf.annotations] == ["warmup"]


def test_autosave_refuses_large_frames(spark, trial_csvs):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    with pytest.raises(ValueError, match="driver-side"):
        tf.autosave("/tmp/never_written.json", max_rows=5)


def test_ensure_time_axis_raises_on_keyless_multipartition(spark):
    from time_series_data_trimmer_spark.schema import ensure_time_axis

    df = spark.range(0, 100, 1, 4).withColumn("ch_v", F.col("id") * 0.5).drop("id")
    # keyless + multi-partition: the fabricated axis would depend on
    # partition layout and plan a single-partition global sort — refuse
    with pytest.raises(ValueError, match="multi-partition"):
        ensure_time_axis(df)
    # single-partition keyless input still works (with a warning)
    one = df.coalesce(1)
    with pytest.warns(UserWarning, match="single-partition sort"):
        out = ensure_time_axis(one)
    assert "normalized_time" in out.columns
    assert out.count() == 100
    # keyed input is unaffected regardless of partitioning
    keyed = spark.range(0, 100, 1, 4).select(
        (F.col("id") % 4).alias("trial_id"), (F.col("id") * 0.5).alias("ch_v")
    )
    out2 = ensure_time_axis(keyed, trial_key="trial_id")
    assert out2.count() == 100


def test_profile_signal_channels(spark, trial_csvs):
    tf = TrialFrame(spark).load_csv(trial_csvs)
    prof = {r["col"]: r for r in tf.profile().collect()}
    assert set(prof) == set(tf.signal_columns)
    g = prof["gaze_heading_deg"]
    assert g["n"] == tf.df.count()
    assert g["n_null"] == 4  # the NaN sentinels both trials carry
    assert g["min_v"] <= g["q25"] <= g["q50"] <= g["q75"] <= g["max_v"]
    assert g["ndv_est"] >= 1
