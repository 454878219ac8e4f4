"""`scripts/preflight.py` maps a changed file to the queries it can
affect. No Spark session: it only loads the registry and reads code."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "time_series_data_trimmer_spark"


def _preflight():
    spec = importlib.util.spec_from_file_location(
        "preflight", os.path.join(REPO, "scripts", "preflight.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_operator_change_maps_to_its_queries():
    """A change to operators/dedup.py reaches every dedup_* query whose
    code calls into it, including through queries_common helpers and
    through modules that import it. Five dedup_* queries use only the
    similarity or text operators (or none) and are left out."""
    pf = _preflight()
    got = pf.affected_queries([f"{PKG}/operators/dedup.py"])
    dedup = {n for n in got if n.startswith("dedup_")}
    assert len(dedup) >= 31
    assert {"dedup_ngram_jaccard", "dedup_cluster_size_histogram",
            "dedup_auto_method_choice"} <= dedup
    # operators/skew.py is imported by operators/dedup.py inside a
    # function (a relative import): its change reaches the same queries
    assert pf.affected_queries([f"{PKG}/operators/skew.py"]) >= dedup


def test_registry_module_change_means_full_run():
    pf = _preflight()
    assert pf.affected_queries([f"{PKG}/queries_fam/compose.py"]) is None
    assert pf.affected_queries([f"{PKG}/queries_common.py"]) is None
    assert pf.affected_queries(["README.md"]) == set()
