"""Convergence probes for the iterative operators (the k-core peel in
`graph`, connected components in `dedup`).

A loop that checkpoints each round and then asks ``count()`` of the
result pays two Spark jobs per round for a number the checkpoint's own
job already passed over. `checkpoint_observed` reads it from that job
instead, through a ``pyspark.sql.Observation``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def checkpoint_observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with an eager ``localCheckpoint`` and return
    it with the aggregates ``metrics`` (name -> aggregate column) over
    its rows, read from the checkpoint's own job: no extra job.

    Only the eager form fills the observation. A lazy
    ``localCheckpoint(eager=False)`` runs no job here, and its
    observation reads 0."""
    obs = Observation()
    out = df.observe(obs, *[c.alias(n) for n, c in metrics.items()]).localCheckpoint()
    return out, obs.get
