#!/usr/bin/env python
"""Isolated per-query measurement for the optimization rounds.

Runs each named query with the bench's exact methodology (noop sink,
one warmup + N steady runs, quote min-of-steady) on a fresh session,
and optionally dumps ``.explain("formatted")`` to a directory.

Usage:
    python scripts/opt_measure.py [--steady=N] [--explain=DIR] q1 [q2 ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from time_series_data_trimmer_spark.queries_fam import load_registry
from time_series_data_trimmer_spark.session import get_spark

REGISTRY = load_registry()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    steady = 3
    explain_dir = None
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--steady="):
            steady = int(a.split("=", 1)[1])
        elif a.startswith("--explain="):
            explain_dir = a.split("=", 1)[1]
        else:
            names.append(a)
    spark = get_spark("opt_measure")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        if name not in REGISTRY:
            print(f"!! {name}: not in REGISTRY", flush=True)
            continue
        fn, _sql = REGISTRY[name]
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, SF_DIR)
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(f"opt:{name}")
        samples = []
        for i in range(1 + steady):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out[name] = {
            "samples": samples,
            "steady_min": round(min(samples[1:]), 3) if steady else samples[0],
        }
        print(f"{name}: min_steady={out[name]['steady_min']} samples={samples}",
              flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
