"""One benchmark run: set-up, a checked pass, warm-up, timed passes,
then the metrics (end-to-end, or the per-layer ledger when traced)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import stats
import trace
from workloads import WORKLOADS

__all__ = ["WORKLOADS", "run", "stop_spark"]

#: metric name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {"setup_s": "s", "pass_s": "s", "rows_per_s": "1/s", "op_p50_ms": "ms", "op_p75_ms": "ms"}
PER_LAYER = {
    "api_s": "s", "api_jobs": "count", "plan_s": "s", "plan_nodes": "count",
    "action_s": "s", "action_jobs": "count", "stages": "count", "tasks": "count",
    "task_busy_s": "s", "cpu_util": "ratio", "driver_only_s": "s",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B", "useful_frac": "ratio",
    "jvm_hwm_mb": "MB", "trace_overhead": "ratio",
}


def _end_to_end(setup_s: float, passes: list, input_rows: int) -> tuple[dict, list]:
    ops = [r.seconds for p in passes for r in p if r.timed]
    # a typical pass: each op's median over the timed passes, summed
    # (robust to one slow pass among few)
    per_op = [(col[0].name, stats.median([r.seconds for r in col])) for col in zip(*passes)]
    pass_s = sum(m for _, m in per_op)
    tail = "meets" if stats.supported(len(ops), 0.75) else "misses"
    notes = [
        f"timed passes {len(passes)}, timed ops {len(ops)}: {stats.beyond(len(ops), 0.75)} "
        f"beyond p75, {tail} the rule of {stats.MIN_BEYOND}",
        "median op seconds: " + ", ".join(f"{n} {m:.3f}" for n, m in per_op),
    ]
    return {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "rows_per_s": input_rows / pass_s,
        "op_p50_ms": 1e3 * stats.percentile(ops, 0.5),
        "op_p75_ms": 1e3 * stats.percentile(ops, 0.75),
    }, notes


def _per_pass_layers(led: dict, cores: int) -> dict[int, dict]:
    """Per traced pass: time, jobs and counts per layer, scheduler and
    exchange counts from the event log."""
    out: dict[int, dict] = {}
    for p, rec in led["passes"].items():
        m = {f"{k}_{v}": 0.0 for k in trace.LAYERS for v in ("s", "jobs")}
        m.update(plan_nodes=0, rows_out=0, action_rows_in=0)
        for s in led["spans"].values():
            if s["pass"] != p or s["layer"] not in trace.LAYERS:
                continue
            m[f"{s['layer']}_s"] += s["wall_s"]
            m[f"{s['layer']}_jobs"] += s["jobs"]
            m["plan_nodes"] += s.get("plan_nodes", 0)
            if s["layer"] == "action":
                m["rows_out"] += s.get("rows_out", 0)
                m["action_rows_in"] += s["input_rows"]
        wall = rec["wall_s"]
        m.update(
            stages=rec.get("stages", 0),
            tasks=rec.get("tasks", 0),
            task_busy_s=rec.get("task_s", 0.0),
            cpu_util=rec.get("task_s", 0.0) / (wall * cores),
            driver_only_s=wall - rec["busy_s"],
            shuffle_read_bytes=rec.get("sh_read", 0),
            shuffle_write_bytes=rec.get("sh_write", 0),
            spill_bytes=rec.get("spill", 0),
            useful_frac=m["rows_out"] / max(m["action_rows_in"], 1),
        )
        out[p] = m
    return out


def _by_name(led: dict, n_passes: int) -> dict[str, dict]:
    """Every span name's totals per traced pass (calls, wall, self time,
    jobs, stages, tasks, shuffle bytes, plan nodes, rows)."""
    keys = ("wall_s", "self_s", "jobs", "stages", "tasks", "task_s", "input_rows",
            "sh_read", "sh_write", "spill", "plan_nodes", "rows_out")
    agg: dict[str, dict] = {}
    for s in led["spans"].values():
        a = agg.setdefault(s["name"], {"layer": s["layer"], "calls": 0, **{k: 0 for k in keys}})
        a["calls"] += 1
        for k in keys:
            a[k] += s.get(k, 0)
    return {
        n: {k: (v / n_passes if isinstance(v, (int, float)) else v) for k, v in a.items()}
        for n, a in sorted(agg.items())
    }


def _named(by_name: dict[str, dict]) -> dict[str, float]:
    """The ledger under the names the layer map uses: per-method and
    per-query time and jobs, view and query totals, and the share of
    op time spent building (``api``) and redrawing (``view``)."""
    out: dict[str, float] = {}
    ops = sum(a["wall_s"] for a in by_name.values() if a["layer"] == "op")
    for n, a in by_name.items():
        if n.startswith("trialframe.") or n.endswith((".build", ".exec")):
            out[f"{n}_s"], out[f"{n}_jobs"] = a["wall_s"], a["jobs"]
    for prefix, suffix in (("queries.build", ".build"), ("exec", ".exec")):
        parts = [a for n, a in by_name.items() if n.endswith(suffix)]
        if parts:
            out[f"{prefix}_s"] = sum(a["wall_s"] for a in parts)
            out[f"{prefix}_jobs"] = sum(a["jobs"] for a in parts)
    if "view" in by_name:
        coll = by_name["view.collect"]
        out.update({
            "view_s": by_name["view"]["wall_s"],
            "view.plan_s": by_name["view.plan"]["wall_s"],
            "view.plan_nodes": by_name["view.plan"]["plan_nodes"],
            "view.useful_frac": coll["rows_out"] / max(coll["input_rows"], 1),
            "view_share_of_ops": by_name["view"]["wall_s"] / ops,
        })
    out["api_share_of_ops"] = sum(a["wall_s"] for a in by_name.values() if a["layer"] == "api") / ops
    return out


def _per_layer(work, cores, spans, passes_meta, hwm) -> tuple[dict, list, dict]:
    log = trace.parse_event_log(trace.event_log_files(os.path.join(work, "eventlog")))
    led = trace.ledger(spans, log)
    per_pass = _per_pass_layers(led, cores)
    traced = [p for p in passes_meta if p["traced"]]
    untraced = [p for p in passes_meta if not p["traced"]]
    metrics = {k: stats.median([m[k] for m in per_pass.values()]) for k in list(PER_LAYER)[:-2]}
    metrics["jvm_hwm_mb"] = hwm
    metrics["trace_overhead"] = (
        stats.median([p["ops_s"] for p in traced]) / stats.median([p["ops_s"] for p in untraced])
    )
    by_name = _by_name(led, len(traced))
    named = _named(by_name)
    report = ["ledger per traced pass: " + ", ".join(f"{k} {v:.4g}" for k, v in named.items())]
    report += [f"{'span':<40} {'calls':>6} {'wall_s':>8} {'self_s':>8} {'jobs':>6} {'stages':>6} {'tasks':>6}"]
    for n, a in by_name.items():
        report.append(f"{n:<40} {a['calls']:>6.1f} {a['wall_s']:>8.3f} {a['self_s']:>8.3f} "
                      f"{a['jobs']:>6.1f} {a['stages']:>6.1f} {a['tasks']:>6.1f}")
    detail = {"named": named, "per_pass": per_pass, "by_name": by_name,
              "spans": [vars(s) for s in spans]}
    return metrics, report, detail


def stop_spark() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_hwm_mb() -> float:
    """Peak resident memory of the session's JVM."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/<jvm>/status")


def run(args, work: str, cores: int, t_start: float) -> dict:
    g0 = time.time()
    wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
    gen_s = time.time() - g0

    from time_series_data_trimmer_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = trace.Tracer(spark.sparkContext, enabled=False)
    wl.bind(spark, tracer)

    all_results: list = []
    check_total = 0.0

    def one_pass(check: bool, traced: bool = False):
        nonlocal check_total
        tracer.enabled = traced
        with tracer.span("pass", "pass"):
            res, check_s = wl.run_pass(check=check)
        tracer.pass_no += 1
        check_total += check_s
        all_results.append(res)
        print(f"perfbench: pass {len(all_results)} {'checked' if check else 'traced' if traced else ''} "
              f"{sum(r.seconds for r in res):.2f} s", file=sys.stderr, flush=True)
        return res

    one_pass(check=True)
    for _ in range(0 if args.smoke else wl.warmup):
        one_pass(check=False)
    setup_s = time.time() - t_start - gen_s - check_total

    min_passes = 1 if args.smoke else wl.min_passes
    if args.trace:
        # traced, untraced, traced: the overhead ratio cancels a linear
        # warm-up drift across the three passes
        min_passes = max(min_passes, 2 if args.smoke else 3)
    timed: list = []
    meta: list = []
    t0 = time.time()
    while len(timed) < min_passes or (time.time() - t0 < args.seconds and not args.smoke):
        traced = bool(args.trace) and len(timed) % 2 == 0
        res = one_pass(check=False, traced=traced)
        timed.append(res)
        meta.append({"traced": traced, "ops_s": sum(r.seconds for r in res)})

    failures = [f"FAIL {r.name}: {r.error}" for p in all_results for r in p if r.error]
    attempted = sum(len(p) for p in all_results)
    report = [
        f"perfbench {args.workload} seed={args.seed} cores={cores}: inputs {gen_s:.2f} s "
        f"(not in set-up), checks {check_total:.2f} s (not in set-up), "
        f"fail_frac {len(failures)}/{attempted}",
        *failures,
    ]
    if args.trace:
        hwm = jvm_hwm_mb()
        stop_spark()  # flushes and closes the event log
        metrics, lines, detail = _per_layer(work, cores, tracer.spans, meta, hwm)
        report += lines
        out = os.path.join(os.path.dirname(os.path.dirname(work)), ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"ledger-{args.workload}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                       "metrics": metrics, **detail}, f, indent=1)
        report.append(f"ledger written to {os.path.relpath(path, os.path.dirname(out))}")
    else:
        metrics, notes = _end_to_end(setup_s, timed, wl.input_rows)
        report += notes
    return {
        "report": report,
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": (PER_LAYER if args.trace else END_TO_END)[k]}
                    for k, v in metrics.items()},
    }
