#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to a directory —
plan capture without timed runs (r13 deliverable tooling).

Usage: python scripts/dump_plans.py OUTDIR q1 [q2 ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from time_series_data_trimmer_spark.queries_fam import load_registry
from time_series_data_trimmer_spark.session import get_spark

REGISTRY = load_registry()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir = sys.argv[1]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in sys.argv[2:]:
        if name not in REGISTRY:
            print(f"!! {name}: not in REGISTRY", flush=True)
            continue
        df = REGISTRY[name][0](spark, SF_DIR)
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        print(f"dumped {name}", flush=True)


if __name__ == "__main__":
    main()
