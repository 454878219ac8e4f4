"""Schema contract for the filter-shaped `temperature_sample`
(round-5 lesson: commit `5c06510` changed its output shape and both
registered consumers broke at analysis time with nothing catching it
before the round ended).

The contract: output columns == input columns + `keep_rate`, in input
order, with `keep_rate` last — and every registered consumer
(`mix_temperature_sample`, `pipeline_pretraining_corpus`) plus the
example pipeline composition must COMPILE (analysis succeeds) against
that shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from time_series_data_trimmer_spark.operators import sampling as sp
from time_series_data_trimmer_spark.queries_fam import load_registry

REGISTRY = load_registry()

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_output_schema_is_input_plus_keep_rate(docs):
    out = sp.temperature_sample(docs, target_frac=0.25)
    assert out.columns == docs.columns + ["keep_rate"]
    # keep_rate is the decimal-exact rate, non-null for every survivor
    assert out.filter(F.col("keep_rate").isNull()).count() == 0


def test_filter_shape_rows_are_subset_of_input(docs):
    out = sp.temperature_sample(docs, target_frac=0.25)
    # every surviving row is an input row, untouched (anti-join empty)
    extra = out.drop("keep_rate").exceptAll(docs).count()
    assert extra == 0


def test_null_group_rows_participate(docs, spark):
    withnull = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("source")),
    )
    out = sp.temperature_sample(withnull, target_frac=1.0)
    # NULL is a real group: its rows must appear in the output (with a
    # resolved rate) rather than vanish at the rate join
    nullrows = out.filter(F.col("source").isNull())
    assert nullrows.count() > 0
    assert nullrows.filter(F.col("keep_rate").isNull()).count() == 0


@pytest.mark.parametrize(
    "qname", ["mix_temperature_sample", "pipeline_pretraining_corpus"]
)
def test_registered_consumers_compile(spark, qname):
    fn, _sql = REGISTRY[qname]
    df = fn(spark, SF_DIR)  # analysis happens here; raises on schema drift
    df.schema  # force analysis
    # and the declared projection contracts hold
    if qname == "mix_temperature_sample":
        assert df.columns == ["doc_id", "source", "keep_rate"]
    else:
        assert df.columns == ["source", "n_docs", "total_tokens", "keep_rate"]


def test_example_pipeline_composition_compiles(docs):
    # the examples/corpus_pipeline.py usage pattern: aggregate over the
    # filter-shaped output's keep_rate
    rates = (
        sp.temperature_sample(docs, target_frac=0.5)
        .groupBy("source")
        .agg(F.first("keep_rate").alias("keep_rate"), F.count(F.lit(1)).alias("n"))
    )
    rates.schema  # analysis must succeed
    assert set(rates.columns) == {"source", "keep_rate", "n"}
