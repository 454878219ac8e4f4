#!/usr/bin/env python
"""A/B attribution for the r3→r4 headline-bench shift (+32%, near-uniform).

The driver regenerated all testdata in r4 and moved the events time axis
from int64 epoch-NANOS to timestamp[us]. Every touched query was still
at-or-below its r1 time, but the r3→r4 discontinuity was inferred, not
measured (VERDICT r4 §wrong #1). This script measures it: same session,
same machine, same code — only the events file layout varies.

Variants (all built from the CURRENT sf data, written to /tmp):
  asis        the driver's file, byte-identical copy (timestamp[us],
              arrow-written, 1 row group per 100k rows)
  us_rewrite  same logical schema (timestamp[us]), rewritten by pyarrow
              with pinned writer settings → isolates PHYSICAL layout
              (row groups / encodings / page sizes) from logical type
  nanos       the r3-era layout: ts as int64 epoch nanos, same pinned
              writer settings → vs us_rewrite isolates the LOGICAL TYPE
              (timestamp[us] decode + session-TZ handling vs plain int64)

Queries: the two "trivial regressed" probes the r4 verdict named
(e1_frame_transform 1.35×, f1_moving_average 1.61×) plus a scan-only
probe (project all columns into a noop sink — no compute) to split scan
cost from compute cost.

Prints one JSON line; timing rule matches bench.py (warmup + min of 2).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from time_series_data_trimmer_spark.queries import _events
from time_series_data_trimmer_spark.queries_fam import load_registry
from time_series_data_trimmer_spark.session import get_spark

REGISTRY = load_registry()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = ["e1_frame_transform", "f1_moving_average"]
N_STEADY = int(os.environ.get("AB_N", "3"))


def build_variants(work: str) -> dict[str, str]:
    src = os.path.join(SF_DIR, "events.parquet")
    tbl = pq.read_table(src)
    # pinned writer settings for both rewrites so us_rewrite vs nanos
    # differs ONLY in the logical type of ts
    wopts = dict(compression="snappy", row_group_size=tbl.num_rows)

    variants: dict[str, str] = {}

    d = os.path.join(work, "asis")
    os.makedirs(d)
    shutil.copyfile(src, os.path.join(d, "events.parquet"))
    variants["asis"] = d

    d = os.path.join(work, "us_rewrite")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "events.parquet"), **wopts)
    variants["us_rewrite"] = d

    # r3-era layout: int64 epoch nanos (timestamp[us] → int64 micros → ×1000)
    micros = tbl.column("ts").cast(pa.int64())
    nanos = pc.multiply_checked(micros, pa.scalar(1000, pa.int64()))
    idx = tbl.schema.get_field_index("ts")
    ntbl = tbl.set_column(idx, pa.field("ts", pa.int64()), nanos)
    d = os.path.join(work, "nanos")
    os.makedirs(d)
    pq.write_table(ntbl, os.path.join(d, "events.parquet"), **wopts)
    variants["nanos"] = d
    return variants


def _once(build) -> float:
    t0 = time.time()
    build().write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    spark = get_spark("bench-ab-layout")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ab_layout_")
    try:
        variants = build_variants(work)

        def builder(q, d):
            if q == "scan_only":
                return lambda: _events(spark, d).select("*")
            fn, _sql = REGISTRY[q]
            return lambda: fn(spark, d)

        out: dict[str, dict[str, float]] = {}
        for q in QUERIES + ["scan_only"]:
            # INTERLEAVED rounds — variant blocks measured back to back
            # drift with machine load (two byte-identical files measured
            # 20% apart in sequential blocks); a round touches every
            # variant within ~1 s, and min-over-rounds per variant makes
            # the comparison drift-free
            for d in variants.values():
                _once(builder(q, d))  # warmup: analysis + codegen compile
            best = {v: float("inf") for v in variants}
            for _ in range(N_STEADY):
                for v, d in variants.items():
                    best[v] = min(best[v], _once(builder(q, d)))
            out[q] = {v: round(s, 3) for v, s in best.items()}
        ratios = {
            q: {
                "layout_effect_asis_vs_us_rewrite": round(
                    out[q]["asis"] / out[q]["us_rewrite"], 3
                ),
                "type_effect_us_vs_nanos": round(
                    out[q]["us_rewrite"] / out[q]["nanos"], 3
                ),
                "total_effect_asis_vs_nanos": round(
                    out[q]["asis"] / out[q]["nanos"], 3
                ),
            }
            for q in out
        }
        print(
            json.dumps(
                {
                    "metric": "ab_layout_attribution",
                    "sf_dir": SF_DIR,
                    "timing_rule": f"min_of_{N_STEADY}_steady",
                    "sec": out,
                    "ratios": ratios,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
