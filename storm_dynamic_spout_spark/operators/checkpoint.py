"""Materialization of intermediate frames: the one place the package
truncates lineage.  Every operator and catalog query that computes a
subtree once for several consumers (Catalyst re-evaluates a subtree per
differently-aliased consumer), or that bounds an iterative loop's plan
growth, goes through :func:`local_checkpoint`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_checkpoint(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, refusing a lazy checkpoint
    of a nondeterministic subtree.

    DETERMINISM note: a LAZY local checkpoint materializes at the FIRST
    action via RDD-identity stage dedup plus block-manager caching, not
    at build time.  That compute-once guarantee is therefore only as
    strong as the subtree's determinism — if a lazily-checkpointed
    subtree sampled, used wall-clock time, or ran a stateful UDF, two
    concurrent stages feeding differently-aliased consumers could race
    to compute partitions before caching and observe DIVERGENT data, a
    failure mode ``eager=True`` prevents by construction.  So with
    ``eager=False`` the analyzed plan must be deterministic (Catalyst's
    own flag: ``rand()``, ``uuid()``, ``shuffle()``, nondeterministic
    UDFs clear it) or this raises ``ValueError``; for a nondeterministic
    subtree pass ``eager=True``.

    Blocks live on executors and belong to the returned DataFrame, so
    every fresh query construction re-materializes from its sources:
    nothing persists across runs.  Lineage is truncated, so losing an
    executor mid-query fails the job instead of recomputing.
    """
    if not eager and not df._jdf.queryExecution().analyzed().deterministic():
        raise ValueError(
            "lazy local_checkpoint of a nondeterministic plan: its consumers "
            "could observe divergent data; pass eager=True"
        )
    return df.localCheckpoint(eager=eager)
