"""Per-family query modules. Each module registers its queries into
``queries.REGISTRY`` when imported; ``load_registry()`` imports them all.
"""

from __future__ import annotations

import importlib
import pkgutil


def load_registry() -> dict:
    """Import the core ``queries`` module and every module of this
    package, in sorted name order, and return the filled ``REGISTRY``.

    Registration order is therefore the core's entries, then each family
    module's in module-name order. Importing is idempotent, so every
    entry point may call this.
    """
    from time_series_data_trimmer_spark.queries import REGISTRY

    for mod in sorted(m.name for m in pkgutil.iter_modules(__path__)):
        importlib.import_module(f"{__name__}.{mod}")
    return REGISTRY
