"""The three workloads. Each is a closed loop: one client issues the
next step only after the previous one returned.

A workload runs in *passes*. A pass is a fixed, seeded script of *ops*
(user-visible steps); the same seed gives the same pass every time, so
medians over passes compare like with like. Every op goes through the
program's public surface only, in three layers timed from outside:

* ``api``: ``TrialFrame`` methods or a ``REGISTRY`` builder (the
  Python build, including any jobs fired while the frame is made);
* ``plan``: forcing the executed plan of the frame the op shows;
* ``action``: the final collect (a viewport redraw) or write.

``run_pass`` returns one ``OpResult`` per op. Correctness checks run
after the op's clock stopped; their time is reported as ``check_s`` so
the caller can keep it out of set-up time.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass

import duckdb
import pyarrow.dataset as ds

import gen

LOOP_QUERIES = (
    "graph_kcore_exact",
    "dedup_ngram_jaccard",
    "dedup_cluster_size_histogram",
)
SCAN_QUERIES = (
    "f1_moving_average",
    "f2_rolling_median",
    "f9_normalize_zscore",
    "a5_suggest_segments",
    "ts_gap_report",
    "sessionize_events",
    "ts_mad_outliers",
)


@dataclass
class OpResult:
    name: str
    seconds: float
    error: str | None = None
    timed: bool = True  # counts towards the op latency percentiles


def plan_nodes(df) -> int:
    """Node count of the optimized logical plan (one tree line each)."""
    return len(df._jdf.queryExecution().optimizedPlan().treeString().splitlines())


def force_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


# ---------------------------------------------------------------------------
# edit_session
# ---------------------------------------------------------------------------

class EditSession:
    """One annotator edits a trial set and redraws a 5-s viewport after
    every step; the episode ends with ``save_clean`` and
    ``save_annotations``. Every redraw replays the whole edit lineage
    from the CSV scan."""

    name = "edit_session"
    warmup = 1      # untimed passes after the checked one
    min_passes = 3  # 3 x 13 redraw ops leave ten beyond p75

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        n_trials, n_rows = (2, 600) if smoke else (2, 900)
        self.paths = gen.write_trials(os.path.join(work, "trials"), seed, n_trials, n_rows)
        self.script = gen.edit_script(seed, n_trials, n_rows)
        self.trial_rows = n_trials * n_rows
        views = sum(1 for op in self.script.ops if op.kind != "save")
        # every redraw and the final write scan the whole trial set
        self.input_rows = (views + 1) * self.trial_rows
        self.out = os.path.join(work, "out")
        os.makedirs(self.out, exist_ok=True)

    def bind(self, spark, tracer) -> None:
        from time_series_data_trimmer_spark import TrialFrame

        self.TrialFrame = TrialFrame
        self.spark, self.tracer = spark, tracer

    def run_pass(self, check: bool = True) -> tuple[list[OpResult], float]:
        tr = self.tracer
        results: list[OpResult] = []
        check_s = 0.0
        tf = None
        for op in self.script.ops:
            tr.op += 1
            t0 = time.perf_counter()
            pdf, err = None, None
            try:
                with tr.span(op.kind, "op"):
                    if op.kind == "save":
                        with tr.span("trialframe.save_clean", "action"):
                            tf.save_clean(os.path.join(self.out, "clean"))
                        with tr.span("trialframe.save_annotations", "api"):
                            tf.save_annotations(os.path.join(self.out, "annotations.json"))
                    else:
                        tf = self._edit(tf, op)
                        with tr.span("view", "view"):
                            v = tf.take_time_slice(op.view, op.view + gen.VIEW_S)
                            with tr.span("view.plan", "plan") as s:
                                force_plan(v)
                                if s is not None:
                                    s.attrs["plan_nodes"] = plan_nodes(v)
                            with tr.span("view.collect", "action") as s:
                                pdf = v.toPandas()
                                if s is not None:
                                    s.attrs["rows_out"] = len(pdf)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                err = f"{type(exc).__name__}: {exc}"[:300]
            dt = time.perf_counter() - t0
            c0 = time.perf_counter()
            if err is None:
                err = self._check_save() if op.kind == "save" else self._check_view(op, pdf)
            check_s += time.perf_counter() - c0
            results.append(OpResult(op.kind, dt, err, timed=op.kind != "save"))
            if err is not None and tf is None:
                break  # nothing loaded: the rest of the episode cannot run
        return results, check_s

    def _edit(self, tf, op):
        a = op.args
        name = "trialframe." + ("load_csv" if op.kind == "load" else op.kind)
        with self.tracer.span(name, "api"):
            if op.kind == "load":
                return self.TrialFrame(self.spark).load_csv(self.paths)
            if op.kind == "apply":
                tf.apply(a["channels"], a["filter_type"], a["params"])
            elif op.kind in ("mark_bad", "delete_segment"):
                getattr(tf, op.kind)(a["start"], a["end"])
            elif op.kind == "annotate":
                tf.annotate(a["start"], a["end"], a["label"], track="eye")
            else:
                getattr(tf, op.kind)()
        return tf

    @staticmethod
    def _check_view(op, pdf) -> str | None:
        if len(pdf) != op.view_rows:
            return f"{op.kind}: viewport returned {len(pdf)} rows, expected {op.view_rows}"
        for ch in op.null_free:
            n = int(pdf[ch].isna().sum())
            if n:
                return f"{op.kind}: {n} nulls left in interpolated {ch}"
        return None

    def _check_save(self) -> str | None:
        sc = self.script
        t = ds.dataset(os.path.join(self.out, "clean"), format="parquet", partitioning="hive").to_table(
            columns=["is_bad_segment"]
        )
        if t.num_rows != sc.final_rows:
            return f"save_clean wrote {t.num_rows} rows, expected {sc.final_rows}"
        bad = int(sum(1 for v in t.column("is_bad_segment").to_pylist() if v))
        if bad != sc.bad_rows:
            return f"save_clean wrote {bad} bad rows, expected {sc.bad_rows}"
        path = os.path.join(self.out, "annotations.json")
        with open(path, encoding="utf-8") as f:
            data = json.load(f)
        got = [{k: a[k] for k in ("start", "end", "label", "track")} for a in data["annotations"]]
        if got != sc.annotations:
            return f"annotations JSON {got} != {sc.annotations}"
        if [[d["start"], d["end"]] for d in data["deletions"]] != sc.deletions:
            return f"deletions JSON {data['deletions']} != {sc.deletions}"
        back = self.TrialFrame(self.spark).load_annotations(path)
        if [(a.start, a.end, a.label) for a in back.annotations] != [
            (a["start"], a["end"], a["label"]) for a in sc.annotations
        ] or [list(d) for d in back.deletions] != sc.deletions:
            return "load_annotations did not round-trip the saved JSON"
        return None


# ---------------------------------------------------------------------------
# loop_queries / scan_queries
# ---------------------------------------------------------------------------

class QuerySet:
    """Registered queries over generated ``events`` / ``documents`` /
    ``embeddings``: build, force the executed plan, then a ``noop``
    write. In a checked pass the action is a collect compared with the
    query's DuckDB oracle instead."""

    warmup = 1
    min_passes = 3

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.work = work
        self.dir = os.path.join(work, "tables")
        self.rows = gen.write_tables(self.dir, seed, **self.sizes(smoke))
        self.out_rows: dict[str, int] = {}  # result rows per query, from the checked pass

    def bind(self, spark, tracer) -> None:
        import __spark_entry__ as entry
        from check_oracle import compare

        self.spark, self.tracer, self.compare = spark, tracer, compare
        self.queries = {q: entry.REGISTRY[q][0] for q in self.names}
        self.oracles = {q: entry.REGISTRY[q][1] for q in self.names}
        self.con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "duckdb")})
        for t in self.rows:
            p = os.path.join(self.dir, f"{t}.parquet")
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        self.input_rows = sum(
            self.rows[t] for q in self.names for t in self.rows
            if re.search(rf"\b{t}\b", self.oracles[q] or "")
        )

    def run_pass(self, check: bool = False) -> tuple[list[OpResult], float]:
        tr = self.tracer
        results: list[OpResult] = []
        check_s = 0.0
        for q, fn in self.queries.items():
            tr.op += 1
            t0 = time.perf_counter()
            got, err = None, None
            try:
                with tr.span(q, "op"):
                    with tr.span(f"{q}.build", "api"):
                        df = fn(self.spark, self.dir)
                    with tr.span(f"{q}.plan", "plan") as s:
                        force_plan(df)
                        if s is not None:
                            s.attrs["plan_nodes"] = plan_nodes(df)
                    with tr.span(f"{q}.exec", "action") as s:
                        if check:
                            got = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                        if s is not None:
                            s.attrs["rows_out"] = self.out_rows.get(q, 0)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                err = f"{type(exc).__name__}: {exc}"[:300]
            dt = time.perf_counter() - t0
            if check and err is None:
                c0 = time.perf_counter()
                err = self._check(q, got)
                check_s += time.perf_counter() - c0
            results.append(OpResult(q, dt, err))
        return results, check_s

    def _check(self, q: str, got) -> str | None:
        self.out_rows[q] = len(got)
        try:
            want = self.con.execute(self.oracles[q]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            return f"{q}: oracle error {exc}"[:300]
        problems = self.compare(q, got, want)
        return f"{q}: " + "; ".join(problems) if problems else None


class LoopQueries(QuerySet):
    """Build-bound: convergence loops, probes, checkpoints and pins fire
    many small jobs while the frame is constructed. One file per table,
    so the tiny-corpus guards fire."""

    name = "loop_queries"
    names = LOOP_QUERIES

    @staticmethod
    def sizes(smoke: bool) -> dict:
        if smoke:
            return dict(n_events=2000, n_users=40, n_docs=120, n_vecs=120)
        return dict(n_events=10_000, n_users=150, n_docs=500, near_dup_share=0.1, n_vecs=500)


class ScanQueries(QuerySet):
    """Execution-bound window, sort and exchange work over ``events``
    split into more files than cores, with about one build job per
    query."""

    name = "scan_queries"
    names = SCAN_QUERIES

    @staticmethod
    def sizes(smoke: bool) -> dict:
        if smoke:
            return dict(n_events=20_000, n_users=200, event_files=8)
        return dict(n_events=300_000, n_users=3000, event_files=8)


WORKLOADS = {w.name: w for w in (EditSession, LoopQueries, ScanQueries)}
