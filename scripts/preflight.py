#!/usr/bin/env python
"""Pre-commit gate for registry-touching changes (round-5 lesson:
commit `5c06510` changed an operator's output schema without running
any check and voided the whole round's bench).

Run this before ANY commit that touches `time_series_data_trimmer_spark/operators/`,
`time_series_data_trimmer_spark/queries*` or `time_series_data_trimmer_spark/session.py`
— especially end-of-round snapshots:

    python scripts/preflight.py            # changed-module-targeted
    python scripts/preflight.py --all      # full oracle run, every query
    python scripts/preflight.py q1 q2 ...  # explicit query names

What it does:
1. Runs the registry-wide plan sweep
   (`tests/test_plan_shapes.py::test_registry_sweep_global_invariants`) —
   this analyzes every registered query's plan, so ANY AnalysisException
   introduced anywhere in the registry fails here in seconds.
2. Determines affected queries from the files changed per
   `git diff --name-only HEAD` (staged + unstaged + untracked). A
   change to a registry module (`queries.py`, `queries_common.py`,
   `queries_fam/*`) or to `session.py` (its settings govern every
   query) means every query. Otherwise a query is affected
   when a package module its code reaches (the globals it names,
   followed through registry helpers and REGISTRY lookups by name)
   is, or transitively imports, a changed module. Runs
   `scripts/check_oracle.py` on exactly those at sf0.001 (exact
   DuckDB comparison, small data, fast).

Exit code 0 == safe to commit.
"""

from __future__ import annotations

import ast
import importlib.util
import inspect
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "time_series_data_trimmer_spark"


def changed_files() -> list[str]:
    out = subprocess.run(
        ["git", "diff", "--name-only", "HEAD"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    extra = subprocess.run(
        ["git", "ls-files", "--others", "--exclude-standard"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return [f for f in (out + extra).splitlines() if f.strip()]


def _registry_module(name: str) -> bool:
    return name == f"{PKG}.queries" or name.startswith(f"{PKG}.queries_")


def _full_run_module(name: str) -> bool:
    """A module whose change reaches every query: a registry module,
    or the session factory, whose settings every query runs under."""
    return _registry_module(name) or name == f"{PKG}.session"


def _pkg_files() -> dict[str, str]:
    """Every module of the package, imported or not: name -> repo path."""
    out: dict[str, str] = {}
    for root, _dirs, names in os.walk(os.path.join(REPO, PKG)):
        for fname in names:
            if fname.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, fname), REPO)
                mod = rel[:-3].replace(os.sep, ".")
                out[mod.removesuffix(".__init__")] = rel
    return out


def _owner(obj) -> str | None:
    """The package module an imported global comes from, if any."""
    name = obj.__name__ if inspect.ismodule(obj) else getattr(obj, "__module__", None)
    return name if isinstance(name, str) and name.startswith(PKG) else None


def _imports(name: str, path: str, files: dict[str, str]) -> set[str]:
    """Package modules one package module imports anywhere in its
    source, function-local and relative imports included. `from pkg
    import sub` depends on the submodule, not on pkg's __init__."""
    with open(os.path.join(REPO, path)) as fh:
        tree = ast.parse(fh.read())
    pkg = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = importlib.util.resolve_name(
                "." * node.level + (node.module or ""), pkg
            ) if node.level else node.module
            subs = {f"{base}.{a.name}" for a in node.names}
            out |= subs if subs <= files.keys() else subs | {base}
    return out & files.keys()


def _module_closure(files: dict[str, str]) -> dict[str, set[str]]:
    """Module name -> itself plus every package module it imports,
    directly or transitively."""
    deps = {n: _imports(n, p, files) | {n} for n, p in files.items()}
    changed = True
    while changed:
        changed = False
        for n, ds in deps.items():
            grown = set().union(*(deps[d] for d in ds))
            if grown != ds:
                deps[n], changed = grown, True
    return deps


def _query_modules(fn, registry, names: set[str]) -> set[str]:
    """Non-registry package modules one registered query reaches: the
    globals and function-local imports its code (nested code included)
    names, followed through functions defined in registry modules and
    through queries it looks up by name."""
    seen: set[int] = set()
    out: set[str] = set()
    stack = [fn]
    while stack:
        f = stack.pop()
        if id(f) in seen:
            continue
        seen.add(id(f))
        codes, refs = [f.__code__], []
        while codes:
            co = codes.pop()
            for k in co.co_consts:
                if inspect.iscode(k):
                    codes.append(k)
                elif isinstance(k, str) and k in registry:
                    refs.append(registry[k][0])
            refs += [f.__globals__[n] for n in co.co_names if n in f.__globals__]
            # a function-local import names its module in co_names
            for n in set(co.co_names) & names:
                mod = sys.modules.get(n)
                if mod is None:
                    out.add(n)
                else:  # a package counts only through what is taken from it
                    refs += [getattr(mod, x) for x in co.co_names if hasattr(mod, x)]
                    refs += [] if hasattr(mod, "__path__") else [mod]
        for v in refs:
            o = _owner(v)
            if o not in names:
                continue
            if not _registry_module(o):
                out.add(o)
            elif inspect.isfunction(v):
                stack.append(v)
    return out


def affected_queries(files: list[str]) -> set[str] | None:
    """None == run everything (a registry module or the session
    factory changed)."""
    from time_series_data_trimmer_spark.queries_fam import load_registry

    registry = load_registry()
    pkg_files = _pkg_files()
    by_file = {path: name for name, path in pkg_files.items()}
    hit = {by_file[f] for f in files if f in by_file}
    if any(_full_run_module(n) for n in hit):
        return None
    if not hit:
        return set()
    closure = _module_closure(pkg_files)
    names = set(pkg_files)
    out: set[str] = set()
    for name, (fn, _sql) in registry.items():
        if not inspect.isfunction(fn):
            out.add(name)  # can't inspect -> be safe, include it
            continue
        if any(hit & closure[m] for m in _query_modules(fn, registry, names)):
            out.add(name)
    return out


def main() -> int:
    argv = sys.argv[1:]
    print("preflight: [1/2] registry-wide plan sweep ...", flush=True)
    rc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-x",
         "tests/test_plan_shapes.py"],
        cwd=REPO,
    ).returncode
    if rc != 0:
        print("preflight: PLAN SWEEP FAILED — do not commit.")
        return 1

    if argv and argv[0] == "--all":
        targets: list[str] = []
    elif argv:
        targets = argv
    else:
        files = changed_files()
        aff = affected_queries(files)
        if aff is None:
            print("preflight: registry or session file changed -> full oracle run")
            targets = []
        elif not aff:
            print("preflight: no registry-relevant modules changed — done.")
            return 0
        else:
            targets = sorted(aff)
            print(f"preflight: {len(targets)} affected queries: "
                  + " ".join(targets[:12]) + ("..." if len(targets) > 12 else ""))

    print("preflight: [2/2] exact oracle check (sf0.001) ...", flush=True)
    rc = subprocess.run(
        [sys.executable, "scripts/check_oracle.py", "/root/testdata/sf0.001",
         *targets],
        cwd=REPO,
    ).returncode
    if rc != 0:
        print("preflight: ORACLE CHECK FAILED — do not commit.")
        return 1
    print("preflight: GREEN — safe to commit.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
