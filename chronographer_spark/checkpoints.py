"""Materialize-once helpers for iterative and multi-consumer plans.

A small-data loop is bound by its Spark job count, not its data: an
intermediate that several consumers read is computed once into an eager
`localCheckpoint`, and the scalars the driver needs about it (row counts,
convergence tests) ride on that same action as an `Observation` instead
of costing a second action each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed_checkpoint(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """Materialize `df` — one action, lineage cut — and return it with the
    aggregates `aggs` (keyed by their aliases) observed on the way."""
    obs = Observation()
    df = df.observe(obs, *aggs).localCheckpoint(eager=True)
    return df, obs.get


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a `localCheckpoint`ed frame once nothing reads it
    any more (its logical plan is a scan of the persisted RDD). An
    iterative loop that checkpoints every round otherwise pins all of its
    superseded rounds until the driver garbage-collects them."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
