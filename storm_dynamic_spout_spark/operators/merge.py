"""MERGE / upsert (SCD-1 corpus refresh) as a single full-outer join.

A training-data pipeline re-crawls sources continuously; applying a
batch of revised + new documents to the corpus table is ANSI
``MERGE INTO … WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``.
Spark's DataFrame API has no MERGE against plain parquet, but the
SCD-1 semantics are exactly one FULL OUTER join on the key:

* matched          → take the source row (whole-row replace),
* source-only      → insert the source row,
* target-only      → keep the target row.

Scale shape: ONE shuffle on the merge key (Catalyst broadcasts the
source side when it is small, which a per-batch update set usually is);
AQE skew-split covers hot keys.  No window functions, no driver
collection.  The same plan is what Delta/Iceberg execute under their
MERGE before the file-rewrite step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """SCD-1 merge of ``source`` into ``target`` on ``keys``.

    Whole-row replace semantics: a matched target row takes ALL source
    column values (including NULLs — a plain ``coalesce`` per column
    would wrongly resurrect target values under source NULLs, so a
    presence flag drives the choice).  Both frames must share a schema;
    output column order follows ``target``.
    """
    if target.columns != source.columns:
        raise ValueError(
            f"merge_upsert requires identical schemas: "
            f"target={target.columns} source={source.columns}"
        )
    non_keys = [c for c in target.columns if c not in keys]
    src = source.select(
        *[F.col(c).alias(f"__s_{c}") for c in source.columns]
    ).withColumn("__present", F.lit(True))
    cond = [F.col(k) == F.col(f"__s_{k}") for k in keys]
    joined = target.join(src, cond, "full_outer")
    picked = [
        F.coalesce(F.col(k), F.col(f"__s_{k}")).alias(k) for k in keys
    ] + [
        F.when(F.col("__present"), F.col(f"__s_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in non_keys
    ]
    return joined.select(*picked)


def merge_scd2(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    batch_id: int,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """SCD-2 (history-tracking) merge: ``target`` carries version
    columns (valid_from, valid_to, is_current); ``source`` is a new
    snapshot batch of the data columns only.

    * matched current rows whose data CHANGED (null-safe comparison)
      → the old version closes (``valid_to = batch_id``,
      ``is_current = false``) AND a new open version inserts
      (``valid_from = batch_id``);
    * matched current rows with identical data → unchanged (no new
      version — re-delivering the same snapshot is a no-op, which is
      what makes the merge idempotent under at-least-once upstreams);
    * source-only keys → new open version;
    * target-only current rows and ALL historical rows pass through.

    Scale shape: history rows never enter the join — only the CURRENT
    slice shuffles on the key against the (usually broadcastable)
    batch.  This is the plan Delta/Iceberg run under MERGE for SCD-2
    before their file rewrite."""
    data_cols = [c for c in source.columns if c not in keys]
    version_cols = [from_col, to_col, current_col]
    expect = list(source.columns) + version_cols
    if list(target.columns) != expect:
        raise ValueError(
            f"merge_scd2 requires target columns {expect}, got {target.columns}"
        )
    hist = target.filter(~F.col(current_col))
    cur = target.filter(F.col(current_col))
    src = source.select(
        *[F.col(c).alias(f"__s_{c}") for c in source.columns]
    ).withColumn("__sp", F.lit(True))
    cur = cur.withColumn("__tp", F.lit(True))
    cond = [cur[k].eqNullSafe(F.col(f"__s_{k}")) for k in keys]
    # lazy checkpoint: the full-outer join feeds THREE output branches
    # (keep / closed / opened); without it each branch re-evaluates the
    # whole current-slice x batch join — and everything upstream of it
    # (the SCD-2 catalog query re-scanned documents 9x).
    joined = local_checkpoint(cur.join(src, cond, "full_outer"))
    changed = F.lit(False)
    for c in data_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__s_{c}"))
    both = F.col("__tp").isNotNull() & F.col("__sp").isNotNull()
    t_only = F.col("__tp").isNotNull() & F.col("__sp").isNull()
    s_only = F.col("__tp").isNull() & F.col("__sp").isNotNull()

    tgt_cols = list(source.columns) + version_cols
    keep = joined.filter(t_only | (both & ~changed)).select(*tgt_cols)
    closed = joined.filter(both & changed).select(
        *source.columns,
        F.col(from_col),
        F.lit(batch_id).cast("long").alias(to_col),
        F.lit(False).alias(current_col),
    )
    opened = joined.filter(s_only | (both & changed)).select(
        *[F.col(f"__s_{c}").alias(c) for c in source.columns],
        F.lit(batch_id).cast("long").alias(from_col),
        F.lit(None).cast("long").alias(to_col),
        F.lit(True).alias(current_col),
    )
    return hist.unionByName(keep).unionByName(closed).unionByName(opened)
