"""Wave 14/15 measured-quality reports: candidate-generator evals
(LSH / SimHash vs exact τ-Jaccard truth), the packing-efficiency
audit, and the scorer-vs-C4-gate calibration curve.

Reference anchor: the reference validates its suggestion engine by
comparing detected artifacts against hand-labeled ground truth
(Time-Series-Data-Trimmer's suggestion tests); these reports apply the
same measured-quality policy to the candidate generators and cheap
scorers that gate a training-data pipeline.
"""

import os
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from time_series_data_trimmer_spark.operators import dedup as dd
from time_series_data_trimmer_spark.queries_common import (
    _EVAL_TAUS,
    _candidate_eval_frame,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_eval_frame_identities(spark):
    """fp = n_pred - tp and fn = n_truth - tp by construction; a
    perfect generator (pred == truth at min τ) has recall 1.0 there."""
    rows = [
        (0, "the cat sat on the mat today"),
        (2, "the cat sat on the mat today"),  # exact dup of 0
        (4, "a completely different document about spark plans"),
        (6, "the cat sat on the mat yesterday evening"),  # near-dup of 0
    ]
    sub = _docs(spark, rows)
    truth = dd.ngram_jaccard_prefix_pairs(sub, min_jaccard=min(_EVAL_TAUS))
    pred = truth.select("id_a", "id_b")
    out = {r["tau"]: r for r in _candidate_eval_frame(sub, pred).collect()}
    assert set(out) == set(_EVAL_TAUS)
    low = out[min(_EVAL_TAUS)]
    assert low["recall_at_tau"] == 1.0
    assert low["fp"] == low["n_pred"] - low["tp"]
    assert low["fn"] == low["n_truth"] - low["tp"]
    # at the higher bar the same pred set can only lose precision,
    # never recall (truth shrinks, pred is fixed)
    hi = out[max(_EVAL_TAUS)]
    assert hi["n_truth"] <= low["n_truth"]
    assert hi["recall_at_tau"] == 1.0  # truth ⊆ pred still


def test_eval_frame_empty_pred(spark):
    """A generator that proposes nothing: recall 0, precision 0 (the
    guarded divisions), zero-row joins don't error."""
    rows = [(0, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta zeta")]
    sub = _docs(spark, rows)
    pred = sub.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    ).filter(F.lit(False))
    out = _candidate_eval_frame(sub, pred).collect()
    assert len(out) == len(_EVAL_TAUS)
    for r in out:
        assert r["n_pred"] == 0 and r["tp"] == 0
        assert r["precision_at_tau"] == 0.0


def test_pack_efficiency_invariants(spark):
    """Concat-and-chop pads ONLY the tail: tail_pad < seq_len and
    utilization = n_tokens / (n_sequences·512) exactly; fragment count
    is consistent with the split-doc count."""
    row = entry.queries()["mix_pack_efficiency_report"](spark, SF).collect()[0]
    assert 0 <= row["tail_pad_tokens"] < 512
    assert row["n_sequences"] * 512 == row["n_tokens"] + row["tail_pad_tokens"]
    # every doc contributes >= 1 fragment; each split doc adds >= 1 more
    assert row["fragments"] >= row["n_docs"] + row["split_docs"]
    assert 0.0 < row["utilization"] <= 1.0
    assert 0.0 <= row["split_frac"] <= 1.0


def test_calibration_bins_cover_and_count(spark):
    """Bin ids live in [0, 9]; per-bin doc counts sum to the scored-doc
    count; pass counts never exceed bin counts."""
    res = entry.queries()["text_score_calibration"](spark, SF).collect()
    assert res, "calibration produced no bins"
    total = 0
    for r in res:
        assert 0 <= r["bin"] <= 9
        assert abs(r["bin_lo"] - (r["bin"] / 10.0 - 0.5)) < 1e-9
        assert 0 <= r["n_pass"] <= r["n_docs"]
        # the bin's mean logit must lie inside the bin (closed top bin)
        hi = r["bin_lo"] + 0.1 if r["bin"] < 9 else 0.5
        assert r["bin_lo"] - 1e-6 <= r["mean_logit"] <= hi + 1e-6
        total += r["n_docs"]
    from time_series_data_trimmer_spark.operators import text as tx
    from time_series_data_trimmer_spark.queries import _table

    scored = tx.hashed_linear_score(_table(spark, SF, "documents")).count()
    assert total == scored


@pytest.mark.parametrize(
    "logit,expected",
    [(-0.5, 0), (-0.400001, 0), (-0.4, 1), (0.0, 5), (0.499999, 9), (0.5, 9)],
)
def test_calibration_bin_edges(spark, logit, expected):
    """The integer-grid binning puts exact 6-dp edges where the closed
    [-0.5, 0.5] range says they belong (top edge clamps into bin 9)."""
    df = spark.createDataFrame([Row(logit=float(logit))])
    bin_col = F.least(
        F.floor(
            (F.round(F.col("logit") * 1000000, 0) + F.lit(500000))
            / F.lit(100000)
        ).cast("int"),
        F.lit(9),
    )
    assert df.select(bin_col.alias("b")).collect()[0]["b"] == expected
