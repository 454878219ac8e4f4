#!/usr/bin/env python3
"""Repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload edit_session --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_tmp/`` in the checkout, starts one Spark session
on ``local[<cores>]``, runs an untimed checked pass (every output compared
with its oracle or its generated invariant) and warm-up passes, then
timed passes until ``--seconds`` have passed. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics.

``--trace 0`` reports the end-to-end metrics, measured with tracing
off. ``--trace 1`` turns the Spark event log on for this run only,
alternates traced and untraced passes, and reports the per-layer
ledger; the full ledger (every span name) is written to
``.perfbench_out/`` in the checkout. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
PROGRAM = ("time_series_data_trimmer_spark", "__spark_entry__.py", "scripts/check_oracle.py")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="small inputs, one timed pass, no warm-up (for the benchmark's tests)")
    return p.parse_args(argv)


def spark_env(work: str, cores: int, trace: bool) -> None:
    """Session settings for this run only, through the environment the
    program's ``get_spark`` reads and through spark-submit arguments."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    q = shlex.quote
    args = [
        "--conf", f"spark.local.dir={q(os.path.join(work, 'local'))}",
        "--conf", f"spark.sql.warehouse.dir={q(os.path.join(work, 'warehouse'))}",
        "--conf", "spark.ui.showConsoleProgress=false",
        # a fixed-size heap, so heap sizing does not differ between runs
        "--driver-java-options", q(f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={q('file://' + os.path.join(work, 'eventlog'))}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
    })
    os.environ.pop("SPARK_MASTER", None)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    import harness  # noqa: E402  (needs sys.path above)

    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(harness.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    spark_env(work, cores, bool(args.trace))
    try:
        result = harness.run(args, work, cores, T_START)
    finally:
        harness.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: native threads of pyarrow/duckdb can
    # abort it after all work, output and child processes are done
    os._exit(code)
