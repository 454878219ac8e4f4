"""The query registry is ``queries.py`` plus every ``queries_fam``
module, loaded by ``queries_fam.load_registry()``. The contract of
``__spark_entry__`` must stay stable across that layout: a pinned
registration order, ``_FIRST_50`` at the head of ``queries()``, an exact
oracle per query, every family module contributing, and no module above
the ~5k-line ceiling."""

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    import __spark_entry__ as entry

    return entry


def test_ordered_names_frozen():
    """REGISTRY registration order matches the pinned fixture, and
    ``queries()`` opens with ``_FIRST_50``. Registration order is the
    import order: the core module, then the ``queries_fam`` modules in
    sorted name order. A family module renamed, dropped or importing
    another family's module mid-file fails here. New registrations may
    land anywhere; the pinned names must keep their relative order.

    The fixture was regenerated once from that import order when the
    per-family registry replaced the replay of the pre-split monolith's
    order; regenerate by appending new names only."""
    entry = _entry()
    from time_series_data_trimmer_spark.queries import REGISTRY

    with open(os.path.join(REPO, "tests", "fixtures_registry_order.json")) as f:
        frozen = json.load(f)
    got = list(REGISTRY)
    fset = set(frozen)
    kept = [n for n in got if n in fset]
    assert kept == frozen, (
        "registration order drifted from the pinned fixture; first "
        f"divergence at {next(i for i, (a, b) in enumerate(zip(kept, frozen)) if a != b)}"
    )
    assert fset <= set(got), f"frozen names missing: {fset - set(got)}"
    assert list(entry.queries())[:50] == entry._FIRST_50


def test_every_query_has_exact_oracle():
    entry = _entry()
    names = set(entry.queries())
    oracles = entry.oracle_sql()
    missing = names - set(oracles)
    assert not missing, f"rows-only queries appeared: {sorted(missing)}"


def test_family_modules_all_register():
    """Every queries_fam/*.py module contributes at least one REGISTRY
    entry defined in it (guards against a family module that
    ``load_registry`` does not import)."""
    _entry()
    from time_series_data_trimmer_spark.queries import REGISTRY

    fam_dir = os.path.join(
        REPO, "time_series_data_trimmer_spark", "queries_fam"
    )
    mods = [
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(fam_dir, "*.py"))
        if not p.endswith("__init__.py")
    ]
    assert len(mods) >= 17
    owners = {fn.__module__ for fn, _sql in REGISTRY.values()}
    for m in mods:
        assert f"time_series_data_trimmer_spark.queries_fam.{m}" in owners, (
            f"family module {m} registers no query"
        )
    assert len(REGISTRY) >= 396


def test_no_module_above_size_ceiling():
    """The split's reason to exist: no single query module above ~5k
    lines (the former monolith was 23k)."""
    pkg = os.path.join(REPO, "time_series_data_trimmer_spark")
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            n = sum(1 for _ in f)
        assert n <= 5000, f"{os.path.relpath(path, REPO)} is {n} lines"
