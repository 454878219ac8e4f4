"""Emit the machine-readable rotation backlog (VERDICT r11 #4).

The driver's correctness gate samples the FIRST 50 names of
``queries()`` each round; ``__spark_entry__._FIRST_50`` rotates
never-yet-sampled names into that head. Hand-curating the rotation
from eleven CORRECTNESS files invites drift, so this script derives
it: union every ``CORRECTNESS_r*.json`` name that the driver verified
GREEN (rows+schema+hash, no err), diff against the current REGISTRY,
and write ``never_driver_verified.json`` — the exact backlog, sorted
by registration order, annotated with each name's most recent bench
cost so heavy never-verified suites can be prioritized (the judge's
standing ask: the bench top-10 tail should be value-verified, not
just timed).

Usage:  python scripts/never_driver_verified.py  [--out PATH]
Output: {"generated_from": [...], "verified": N, "registry": M,
         "never_verified": [{"name":..., "bench_sec": ...}, ...]}
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--out", default=os.path.join(REPO, "never_driver_verified.json")
    )
    args = ap.parse_args()

    from time_series_data_trimmer_spark.queries_fam import load_registry

    REGISTRY = load_registry()

    files = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    verified: set[str] = set()
    for path in files:
        with open(path) as f:
            data = json.load(f)
        for name, res in data.items():
            if (
                res.get("rows_match")
                and res.get("schema_match")
                # pre-r4 files have no hash field; hash_match=None means
                # the driver ran a weaker check — require explicit True
                # OR absence of the key (legacy rows+schema-only rounds
                # still count as "sampled", which is what rotation needs)
                and res.get("hash_match", True)
                and not res.get("err")
            ):
                verified.add(name)

    # latest bench detail, for prioritization (optional file)
    bench_sec: dict[str, float] = {}
    bd = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(bd):
        with open(bd) as f:
            detail = json.load(f)
        q = detail.get("queries", detail)
        for name, v in q.items():
            if isinstance(v, dict):
                v = v.get("steady", v.get("sec", v.get("min")))
            if isinstance(v, (int, float)):
                bench_sec[name] = float(v)

    backlog = [
        {"name": n, "bench_sec": bench_sec.get(n)}
        for n in REGISTRY
        if n not in verified
    ]
    out = {
        "generated_from": [os.path.basename(p) for p in files],
        "verified": len(verified & set(REGISTRY)),
        "registry": len(REGISTRY),
        "never_verified": backlog,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(
        f"verified {out['verified']}/{out['registry']}; "
        f"backlog {len(backlog)} -> {args.out}"
    )
    heavy = sorted(
        (b for b in backlog if b["bench_sec"]),
        key=lambda b: -b["bench_sec"],
    )[:15]
    for b in heavy:
        print(f"  heavy: {b['name']}  {b['bench_sec']:.2f}s")


if __name__ == "__main__":
    main()
