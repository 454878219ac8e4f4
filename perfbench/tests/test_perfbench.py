"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark; each takes about half a minute.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


def _digests(d: str) -> dict:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(d: str, seed: int) -> None:
    gen.write_trials(os.path.join(d, "trials"), seed, 2, 300)
    gen.write_tables(os.path.join(d, "one"), seed, n_events=500, n_users=20, n_docs=60, n_vecs=40)
    gen.write_tables(os.path.join(d, "split"), seed, n_events=800, n_users=30, event_files=8)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert len(a) == 2 + 3 + 8  # trials, one file per table, events in 8 parts
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_generated_tables_follow_the_fixture_schemas(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen.write_tables(str(tmp_path), 3, n_events=400, n_users=10, n_docs=200, n_vecs=30)
    ev = pq.read_table(str(tmp_path / "events.parquet"))
    assert ev.schema.field("ts").type == pa.timestamp("us")
    assert set(ev.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    assert all(json.loads(p).keys() == {"k"} for p in ev.column("props").to_pylist())
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()
    emb = pq.read_table(str(tmp_path / "embeddings.parquet")).to_pandas()
    assert np.allclose([np.linalg.norm(v) for v in emb.embedding], 1.0, atol=1e-5)


def test_edit_script_invariants_replay():
    sc = gen.edit_script(5, 2, 600)
    assert sc.ops[0].kind == "load" and sc.ops[-1].kind == "save"
    kinds = {op.kind for op in sc.ops}
    assert {"apply", "mark_bad", "delete_segment", "annotate", "undo", "redo"} <= kinds
    assert len(sc.deletions) == 1  # the delete survives its undo and redo
    assert 0 < sc.final_rows < 2 * 600 and 0 < sc.bad_rows < sc.final_rows
    assert gen.edit_script(5, 2, 600) == sc


def test_percentile_needs_ten_samples_beyond():
    # edit_session times 3 x 13 ops: just enough for p75
    assert stats.beyond(39, 0.75) == 10 and stats.supported(39, 0.75)
    assert stats.beyond(37, 0.75) == 9 and not stats.supported(37, 0.75)
    assert stats.supported(20, 0.5) and not stats.supported(19, 0.5)
    xs = np.random.default_rng(0).random(57)
    assert stats.percentile(xs, 0.75) == pytest.approx(np.percentile(xs, 75))


def test_event_log_parser_on_recorded_log():
    log = trace.parse_event_log(os.path.join(HERE, "data", "eventlog.json"))
    groups = sorted(str(j.group) for j in log.jobs.values())
    assert groups == ["None", "perfbench-1", "perfbench-2"]
    # the aggregation ran a map stage and a reduce stage with a shuffle between
    scan = next(j for j in log.jobs.values() if j.group == "perfbench-1")
    ran = [s for s in scan.stages if s in log.stages_run]
    assert len(ran) == 2
    tasks = [t for t in log.tasks if log.stage_job[t["stage"]] == scan.jid]
    assert sum(t["sh_write"] for t in tasks) > 0
    assert sum(t["sh_read"] for t in tasks) == sum(t["sh_write"] for t in tasks)

    # spans placed around the recorded jobs pick up their jobs and tasks
    spans = [trace.Span(0, "pass", "pass", scan.start - 1, max(j.end for j in log.jobs.values()) + 1)]
    for sid, j in ((1, scan), (2, next(j for j in log.jobs.values() if j.group == "perfbench-2"))):
        spans.append(trace.Span(sid, f"q{sid}", "api", j.start, j.end, parent=0))
    led = trace.ledger(spans, log)
    assert led["spans"][1]["jobs"] == 1 and led["spans"][1]["stages"] == 2
    assert led["spans"][1]["tasks"] == len(tasks)
    p = led["passes"][0]
    assert p["jobs"] == 2 and p["tasks"] == len(tasks) + led["spans"][2]["tasks"]
    assert 0 < p["busy_s"] <= p["wall_s"]
    assert led["spans"][0]["self_s"] == pytest.approx(
        p["wall_s"] - sum(led["spans"][i]["wall_s"] for i in (1, 2))
    )


def test_covered_and_self_time():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered([(0, 2)], 1, 10) == 1
    spans = [trace.Span(0, "a", "op", 0.0, 10.0), trace.Span(1, "b", "api", 1.0, 4.0, parent=0),
             trace.Span(2, "c", "plan", 3.0, 6.0, parent=0)]
    assert trace.self_times(spans) == {0: 5.0, 1: 3.0, 2: 3.0}


def test_benchmark_json_lists_what_the_harness_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == list(harness.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(harness.PER_LAYER)
    # scan_queries is run by hand only (see perfbench/README.md)
    assert [w["name"] for w in spec["workloads"]] == ["edit_session", "loop_queries"]
    assert set(harness.WORKLOADS) == {"edit_session", "loop_queries", "scan_queries"}


def _smoke(workload: str, trace_on: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace_on), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=240,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(harness.WORKLOADS))
def test_smoke_run_is_correct(workload):
    r = _smoke(workload, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    assert list(r["metrics"]) == list(harness.END_TO_END)
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_smoke_traced_run_reports_the_ledger():
    r = _smoke("loop_queries", 1)
    assert r["correct"]
    assert list(r["metrics"]) == list(harness.PER_LAYER)
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["api_jobs"] > 0 and m["action_jobs"] > 0 and m["tasks"] > 0
    assert 0 < m["cpu_util"] <= 1


def test_refuses_to_run_without_the_program(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "loop_queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and "{" not in p.stdout
