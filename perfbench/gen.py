"""Seeded input generator for the benchmark.

Everything here is a pure function of the seed and the size arguments:
the same seed writes byte-identical files. Three input sets:

* trial CSVs shaped like FIXTURES.md Fixture 2 (kinematics trials at
  120 Hz with heading/deviation channels, metadata columns, ``nan`` /
  ``NaN`` / empty sentinels, NaN gaps, spikes and episodes);
* ``events`` / ``documents`` / ``embeddings`` parquet tables in the
  driver fixture schemas, either one file per table or ``events`` split
  into several files.

The edit script the benchmark drives over the trials is also made here,
together with the invariants a correct engine must reproduce (row
counts per viewport, final rows, bad rows), computed by replaying the
script on the generated time axis with numpy.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SAMPLE_RATE = 120.0

HEADINGS = [
    "gaze_heading_deg", "head_heading_deg", "chest_heading_deg",
    "chair_heading_deg", "left_foot_heading_deg", "right_foot_heading_deg",
]
DEVIATIONS = [
    "sc_gaze_dev_deg", "sc_head_dev_deg", "ws_gaze_span_deg",
    "ws_head_span_deg", "bearing_target_deg", "coordination_angle_gaze_head_deg",
]
CHANNELS = HEADINGS + DEVIATIONS
#: channels that carry NaN gaps (the ``interpolate`` targets)
GAPPY = ["gaze_heading_deg"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
#: 512 made-up three-syllable words: random texts rarely share shingles,
#: so near-duplicate clusters come from the planted copies only
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo"]
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL]


# ---------------------------------------------------------------------------
# trials
# ---------------------------------------------------------------------------

def _fmt(v: float, sentinel: str) -> str:
    return sentinel if np.isnan(v) else f"{v:.4f}"


def write_trials(out_dir: str, seed: int, n_trials: int, n_rows: int) -> list[str]:
    """Write ``n_trials`` CSVs of ``n_rows`` samples each; return paths."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    sentinels = ["", "nan", "NaN"]
    paths = []
    for k in range(n_trials):
        t = np.arange(n_rows) / SAMPLE_RATE
        cols: dict[str, np.ndarray] = {}
        for j, ch in enumerate(CHANNELS):
            walk = np.cumsum(rng.normal(0.0, 0.8, n_rows)) + rng.uniform(-60, 60)
            wave = 25.0 * np.sin(2 * np.pi * (0.2 + 0.05 * j) * t + rng.uniform(0, 6.3))
            x = np.clip(walk + wave, -180.0, 180.0)
            spikes = rng.choice(n_rows, size=max(1, n_rows // 400), replace=False)
            x[spikes] += rng.choice([-1.0, 1.0], spikes.size) * rng.uniform(60, 120, spikes.size)
            cols[ch] = x
        for ch in GAPPY:  # interior NaN gaps of 3..40 samples
            for _ in range(max(1, n_rows // 450)):
                s = int(rng.integers(10, n_rows - 60))
                cols[ch][s: s + int(rng.integers(3, 40))] = np.nan
        fix = np.where(rng.random(n_rows) < 0.3, np.nan, np.floor(np.arange(n_rows) / 40.0))
        dur = np.where(np.isnan(fix), np.nan, rng.uniform(80, 400, n_rows))
        # 3..5 contiguous episodes, unlabelled stretches between them
        n_ep = int(rng.integers(3, 6))
        bounds = np.sort(rng.choice(np.arange(1, 20), size=2 * n_ep, replace=False)) * n_rows // 20
        ep_idx = np.full(n_rows, -1)
        ep_type = np.full(n_rows, "", dtype=object)
        ep_state = np.full(n_rows, "", dtype=object)
        for e in range(n_ep):
            a, b = bounds[2 * e], bounds[2 * e + 1]
            kind = "inspection" if e % 2 == 0 else "action"
            ep_idx[a:b] = e
            ep_type[a:b] = kind
            ep_state[a] = f"start_{kind}"
            ep_state[b - 1] = f"end_{kind}"
        header = (
            ["normalized_time", "LSL_timestamp", "participant_id", "session",
             "trial_number", "angle_degrees", "is_control_trial", "condition",
             "trial_type", "fixation id", "duration [ms]"]
            + CHANNELS + ["episode_index", "episode_type", "episode_state"]
        )
        lsl0 = 5000.0 + 100.0 * k
        lines = [",".join(header)]
        for i in range(n_rows):
            s = sentinels[(i + k) % 3]
            row = [
                f"{t[i]:.6f}", f"{lsl0 + t[i]:.6f}", f"P{k + 1:02d}", "1", str(k + 1),
                str(45 * (k % 4)), str(int(k % 4 == 3)), "stand", "baseline",
                _fmt(fix[i], s), _fmt(dur[i], s),
            ]
            row += [_fmt(cols[ch][i], s) for ch in CHANNELS]
            row += ["" if ep_idx[i] < 0 else str(ep_idx[i]), ep_type[i], ep_state[i]]
            lines.append(",".join(row))
        path = os.path.join(out_dir, f"trial_{k + 1:02d}.csv")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# edit script + the invariants it must reproduce
# ---------------------------------------------------------------------------

@dataclass
class Op:
    kind: str                      # load | apply | mark_bad | delete_segment | annotate | undo | redo | save
    args: dict = field(default_factory=dict)
    view: float = 0.0              # viewport start; the redraw is [view, view + VIEW_S]
    view_rows: int = 0             # rows the redraw must return
    null_free: list = field(default_factory=list)  # channels the redraw must show without nulls


VIEW_S = 5.0


@dataclass
class Script:
    ops: list
    final_rows: int
    bad_rows: int
    annotations: list
    deletions: list


def _rd(x: np.ndarray | float, k: int) -> np.ndarray:
    """The engine's round-half-up formula (functions/rounding.rd)."""
    s = float(10 ** k)
    return np.floor(np.asarray(x) * s + 0.5) / s


def _mid(times: np.ndarray, frac: float) -> float:
    """A cut point halfway between two samples, so the engine's
    inclusive ``between`` cannot tie with a sample time."""
    i = int(frac * (times.size - 2))
    return float((times[i] + times[i + 1]) / 2.0)


def edit_script(seed: int, n_trials: int, n_rows: int) -> Script:
    """One episode: load, a scripted mix of edits each followed by a
    viewport redraw, then save. Replays the edits on the time axis
    (every trial shares it) to derive what a correct engine returns."""
    rng = np.random.default_rng([seed, 2])
    t0 = np.array([float(f"{v:.6f}") for v in np.arange(n_rows) / SAMPLE_RATE])
    state = {"t": t0, "bad": np.zeros(n_rows, bool)}
    undo: list[dict] = []
    redo: list[dict] = []
    annotations: list[dict] = []
    deletions: list[list[float]] = []
    ops: list[Op] = []
    null_free: list[str] = []

    def viewport() -> float:
        t = state["t"]
        return float(np.round(rng.uniform(0.0, max(0.0, t[-1] - VIEW_S)), 2))

    def add(kind: str, **args) -> None:
        a = viewport()
        t = state["t"]
        rows = int(((t >= a) & (t <= a + VIEW_S)).sum()) * n_trials
        ops.append(Op(kind, args, a, rows, list(null_free)))

    def push() -> None:
        undo.append({**state, "ann": list(annotations), "del": list(deletions), "nf": list(null_free)})
        redo.clear()

    def restore(src: list, dst: list) -> None:
        dst.append({**state, "ann": list(annotations), "del": list(deletions), "nf": list(null_free)})
        s = src.pop()
        state["t"], state["bad"] = s["t"], s["bad"]
        annotations[:], deletions[:], null_free[:] = s["ann"], s["del"], s["nf"]

    def cut(lo: float, hi: float) -> tuple[float, float]:
        f = float(rng.uniform(lo, hi))
        a = _mid(state["t"], f)
        b = _mid(state["t"], f + float(rng.uniform(0.02, 0.06)))
        return round(a, 6), round(b, 6)

    def mark_bad() -> None:
        a, b = cut(0.1, 0.8)
        push()
        t = state["t"]
        state["bad"] = state["bad"] | ((t >= a) & (t <= b))
        add("mark_bad", start=a, end=b)

    def delete() -> None:
        a, b = cut(0.1, 0.8)
        push()
        t = state["t"]
        keep = (t < a) | (t > b)
        kt = t[keep]
        d = np.diff(kt)
        dt = float(_rd(np.median(d[d > 0]), 3))
        state["t"] = _rd(np.arange(kt.size) * dt, 3)
        state["bad"] = state["bad"][keep]
        deletions.append([a, b])
        add("delete_segment", start=a, end=b)

    def annotate(label: str) -> None:
        a, b = cut(0.0, 0.9)
        push()
        annotations.append({"start": a, "end": b, "label": label, "track": "eye"})
        add("annotate", start=a, end=b, label=label)

    def apply(channels: list, ftype: str, params: dict) -> None:
        push()
        if ftype == "interpolate":
            null_free.extend(c for c in channels if c not in null_free)
        add("apply", channels=channels, filter_type=ftype, params=params)

    def undo_op() -> None:
        restore(undo, redo)
        add("undo")

    def redo_op() -> None:
        restore(redo, undo)
        add("redo")

    add("load")
    # gap filling first, as a cleaning session does: every later redraw
    # replays it, so op latency has one mode instead of two
    apply(GAPPY, "interpolate", {"method": "linear"})
    apply(["head_heading_deg", "chest_heading_deg"], "moving_average", {"window": 5})
    mark_bad()
    annotate("blink")
    apply(["chair_heading_deg"], "median", {"window": 5})
    delete()
    undo_op()
    redo_op()
    apply(["sc_head_dev_deg"], "derivative", {})
    annotate("turn")
    mark_bad()
    apply(["left_foot_heading_deg"], "moving_rms", {"window": 4})
    ops.append(Op("save"))
    final = int(state["t"].size) * n_trials
    bad = int(state["bad"].sum()) * n_trials
    return Script(ops, final, bad, [dict(a) for a in annotations], [list(d) for d in deletions])


# ---------------------------------------------------------------------------
# events / documents / embeddings
# ---------------------------------------------------------------------------

def _write(table: pa.Table, path: str, n_files: int) -> None:
    """One parquet file at ``path`` (n_files == 1), else a directory of
    ``n_files`` equal part files (more splits than one file gives)."""
    if n_files == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy")


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    start_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + start_us
    value = np.round(rng.lognormal(3.4, 0.9, n_events), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)]),
    })


def documents_table(seed: int, n_docs: int, near_dup_share: float) -> pa.Table:
    """Random word texts; ``near_dup_share`` of the documents copy an
    earlier original (never another copy, so every near-duplicate
    cluster is a star one hop wide, whatever the seed) with one or two
    words substituted."""
    rng = np.random.default_rng([seed, 4])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if len(originals) > 10 and rng.random() < near_dup_share:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(40, 101)))]
            originals.append(i)
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 5}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, n_vecs: int, dim: int) -> pa.Table:
    """Unit vectors around ten label centres."""
    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    x = centres[labels] + rng.normal(0.0, 0.9, (n_vecs, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, *, n_events: int, n_users: int,
                 event_files: int = 1, n_docs: int = 0, near_dup_share: float = 0.1,
                 n_vecs: int = 0, dim: int = 64) -> dict:
    """Write the query inputs; return {table: rows} for what was written."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {"events": n_events}
    _write(events_table(seed, n_events, n_users), os.path.join(out_dir, "events.parquet"), event_files)
    if n_docs:
        _write(documents_table(seed, n_docs, near_dup_share), os.path.join(out_dir, "documents.parquet"), 1)
        rows["documents"] = n_docs
    if n_vecs:
        _write(embeddings_table(seed, n_vecs, dim), os.path.join(out_dir, "embeddings.parquet"), 1)
        rows["embeddings"] = n_vecs
    return rows
