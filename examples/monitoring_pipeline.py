#!/usr/bin/env python
"""Data-quality monitoring end-to-end on this engine: one-pass column
profile → drift dashboard (chi-square / decile-Wasserstein / Markov
entropy rate) → forecastability audit (seasonal-naive MASE) →
embedding label-noise audit (1-NN agreement) → label denoise
(majority-vote propagation) → storage-encoding advisor. The page an
ingest owner refreshes before letting a day's data into the corpus —
every stage types-bounded or register-bounded after its first
aggregation, so the same plan holds at 100 TB.

Run: python examples/monitoring_pipeline.py [sf_dir]   (default sf0.01)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    from time_series_data_trimmer_spark.session import get_spark
    from time_series_data_trimmer_spark.queries_fam import load_registry
    REGISTRY = load_registry()

    spark = get_spark("monitoring-pipeline")

    def run(name: str, n: int = 10) -> None:
        print(f"\n=== {name} ===")
        REGISTRY[name][0](spark, SF_DIR).show(n, truncate=False)

    run("profile_events_columns")          # what is in the table
    run("pipeline_drift_report")           # did its distributions move
    run("ts_seasonal_naive_mase", 5)       # is the signal forecastable
    run("emb_label_knn_agreement")         # are the labels trustworthy
    run("graph_label_propagation_emb", 5)  # denoised labels
    run("layout_encoding_advisor")         # is the layout paying rent

    spark.stop()


if __name__ == "__main__":
    main()
