"""Skew mitigation: salted joins and salted aggregation (SURVEY §2.3
"salting for skew"; the firehose's multi-tenant traffic is exactly the
workload where one hot tenant key swamps a shuffle partition).

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
default in `engine.build_session`) handles sort-merge skew at runtime;
explicit salting remains necessary when (a) the skewed side feeds a
HASH aggregate, or (b) the join is with a small-but-not-broadcastable
dimension where replication is cheaper than a skew split. Both helpers
are deterministic — no rand(): the salt derives from a hash of stable
columns, so retries and resumed jobs produce identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, salt_from: list[str], n_salts: int = 8) -> DataFrame:
    """Deterministic salt in [0, n_salts): hash of the given stable
    columns (e.g. the record's unique id) — NOT rand(), so the salt
    survives retries/recomputation unchanged."""
    return df.withColumn(SALT_COL, F.pmod(F.hash(*salt_from), F.lit(n_salts)))


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    on: str,
    salt_from: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed fact to a dimension on ``on``: the fact gets a
    deterministic salt, the dimension is replicated n_salts× (explode
    of a literal range), and the join key becomes (on, salt) — the hot
    key's rows spread across n_salts shuffle partitions.

    Correctness: every fact row still meets its dimension row exactly
    once (the dimension copy with the matching salt)."""
    salted_fact = with_salt(skewed, salt_from, n_salts)
    replicated_dim = dim.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_fact.join(replicated_dim, [on, SALT_COL], how).drop(SALT_COL)


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    salt_from: list[str],
    aggs: dict[str, str],
    n_salts: int = 8,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial aggregate on
    (group, salt) — spreading the hot key — then final aggregate on the
    group alone. Supported aggs: sum, count, min, max (the re-mergeable
    ones; avg = sum/count composed by the caller)."""
    partial_exprs = []
    final_exprs = []
    for col, fn in aggs.items():
        p = f"__p_{fn}_{col}"
        if fn == "count":
            partial_exprs.append(F.count(col).alias(p))
            final_exprs.append(F.sum(p).alias(f"{fn}_{col}"))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(p))
            final_exprs.append(F.sum(p).alias(f"{fn}_{col}"))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(p))
            final_exprs.append(F.min(p).alias(f"{fn}_{col}"))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(p))
            final_exprs.append(F.max(p).alias(f"{fn}_{col}"))
        else:
            raise ValueError(f"unsupported re-mergeable agg: {fn}")
    partial = with_salt(df, salt_from, n_salts).groupBy(*group_cols, SALT_COL).agg(
        *partial_exprs
    )
    return partial.groupBy(*group_cols).agg(*final_exprs)


def fan_out_narrow(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Scale-adaptive parallelism floor for CPU-heavy per-row passes
    (tokenize / gram explode / signature hashing): round-robin
    repartition the input up to the session's default parallelism —
    but ONLY when the plan's current partitioning is narrower.

    Why: a small parquet file is one row group, and a one-row-group
    file can never split (guide §6 split settings bound splits at
    row-group granularity), so at small scale an expression-heavy scan
    runs on ONE core no matter the cluster width — measured 3.34s vs
    0.44s for the corpus 3-gram hash pass at sf0.1 on local[32].  At
    production scale the scan already has >= default-parallelism
    splits and this is a structural no-op (no exchange is added), so
    nothing here is tuned to the local bench: the floor adapts to
    whatever the session reports.

    Deterministic under retries: keyless ``repartition(n)`` sorts
    before round-robin assignment (``sortBeforeRepartition``, on by
    default — guide §2.5), so recomputation reproduces the same
    row-to-partition mapping; safe below lazy checkpoints.

    Precondition: ``df`` is a scan-only plan (scan, filter, project).
    The partition count is read from ``df.rdd`` at construction time,
    and on a plan with a shuffle AQE runs the upstream stages to
    answer it — a full job before the query is even returned.
    """
    if df.isStreaming:
        # a streaming frame has no static partitioning to inspect (and
        # micro-batches are repartitioned by the sink path as needed)
        return df
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)

