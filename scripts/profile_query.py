#!/usr/bin/env python
"""Per-stage profile of one or more registered queries (guide §1/§7).

Runs each named query once to warm the JVM, once measured, with the
Spark event log enabled, then parses the log to report per-stage wall
time, task count, shuffle read/write bytes and records — the local
stand-in for the Spark UI's Stages tab (spark.ui.enabled is false in
the repo session factory). Beside the stage table it prints how many
classes whole-stage codegen compiled in each run (`CodegenMetrics`);
a steady run that still compiles means the codegen cache is too small
for the query.

Usage: python scripts/profile_query.py q1 [q2 ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from time_series_data_trimmer_spark.queries_fam import load_registry
from time_series_data_trimmer_spark.session import CODEGEN_CACHE_ENTRIES

REGISTRY = load_registry()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOG_DIR = "/tmp/spark-events-profile"


def get_profiling_spark():
    from pyspark.sql import SparkSession

    os.makedirs(LOG_DIR, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName("profile_query")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", LOG_DIR)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )


def _event_lines(path: str):
    """Yield event-log lines: Spark 4 writes a rolling dir
    (eventlog_v2_<appid>/events_*_<appid>[.zstd]); Spark 3 a flat file."""
    import glob
    import io

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")))
    else:
        parts = [path]
    for part in parts:
        if part.endswith(".zstd"):
            import zstandard

            with open(part, "rb") as raw:
                reader = zstandard.ZstdDecompressor().stream_reader(raw)
                for line in io.TextIOWrapper(reader, encoding="utf-8"):
                    yield line
        else:
            with open(part) as fh:
                yield from fh


def parse_events(path: str, t_mark_ms: float):
    """Stages completed after t_mark_ms, with task/shuffle metrics."""
    stages = []
    jobs = 0
    if True:
        for line in _event_lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                if ev.get("Submission Time", 0) >= t_mark_ms:
                    jobs += 1
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Submission Time", 0) < t_mark_ms:
                    continue
                dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                stages.append(
                    {
                        "stage": si["Stage ID"],
                        "name": si["Stage Name"].split("\n")[0][:90],
                        "tasks": si["Number of Tasks"],
                        "ms": dur,
                    }
                )
    return jobs, stages


def codegen_histogram(spark):
    """Spark's compile-time histogram: its count is every class compiled
    so far; it keeps a sample of the times (ms), not their sum."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()


def compiled_since(hist, n0: int) -> str:
    """Classes compiled since the count was n0, with their time
    estimated as count × the sampled mean."""
    n = hist.getCount() - n0
    return f"{n} classes (~{n * hist.getSnapshot().getMean():.0f} ms)" if n else "0 classes"


def main() -> None:
    names = sys.argv[1:]
    spark = get_profiling_spark()
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    log_path = os.path.join(LOG_DIR, f"eventlog_v2_{app_id}")
    if not os.path.exists(log_path):
        log_path = os.path.join(LOG_DIR, app_id + ".inprogress")
    hist = codegen_histogram(spark)
    for name in names:
        if name not in REGISTRY:
            print(f"!! {name}: not in REGISTRY", flush=True)
            continue
        fn, _sql = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        c0 = hist.getCount()
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        warm = time.time() - t0
        warm_compiled = compiled_since(hist, c0)
        c1 = hist.getCount()
        t_mark_ms = time.time() * 1000.0
        spark.sparkContext.setJobDescription(f"prof:{name}")
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        steady = time.time() - t0
        steady_compiled = compiled_since(hist, c1)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(0.5)
        jobs, stages = parse_events(log_path, t_mark_ms)
        stages.sort(key=lambda s: -s["ms"])
        total_stage_ms = sum(s["ms"] for s in stages)
        print(
            f"\n=== {name}: warm={warm:.2f}s steady={steady:.2f}s "
            f"jobs={jobs} stages={len(stages)} sum_stage_ms={total_stage_ms}"
        )
        print(f"  codegen: warm {warm_compiled}, steady {steady_compiled}")
        for s in stages[:14]:
            print(
                f"  stage {s['stage']:>4} {s['ms']:>6} ms {s['tasks']:>4} tasks  {s['name']}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
