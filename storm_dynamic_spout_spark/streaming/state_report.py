"""Maintenance readout for the streaming indexes' parquet state dirs
(staged for the round-15 catalog): every stateful stream in the engine
(dedup/ANN/BM25/Bradley-Terry) accumulates per-batch delta files that
the auto-collapse and ``compact_index`` writers fold back down — this
report is the policy signal an operator watches to schedule the
maintenance window, per state table: delta-file count, row count, and
whether the configured compaction threshold is breached.

Scale shape: the state dirs are METADATA-sized (file listings walk the
driver's filesystem view — ``dirswap.parquet_files``, the listing the
indexes' own guards use), and the row counts are parquet-footer
COUNT(*) scans that never materialize the data.  Nothing here touches
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from storm_dynamic_spout_spark.streaming import dirswap


def state_table_report(
    spark: SparkSession,
    tables: "dict[str, str]",
    compact_threshold: int = 32,
) -> DataFrame:
    """One row per named state table: ``(table, n_files, n_rows,
    needs_compaction)``.  ``tables`` maps a report name to its state
    directory (e.g. ``{"postings": idx.postings_dir, "stats":
    idx.stats_dir}``); a directory with no parquet files reports
    ``(0, 0, false)`` rather than erroring (the cold-start state).

    ``needs_compaction`` mirrors the indexes' own auto-collapse guard
    (file count > threshold), so the report and the writers can never
    disagree about when maintenance is due.  Row counts come from
    parquet metadata (COUNT(*) over footers) — no data scan."""
    rows = []
    for name in sorted(tables):
        n_files = len(list(dirswap.parquet_files(tables[name])))
        if n_files:
            n_rows = spark.read.parquet(tables[name]).count()
        else:
            n_rows = 0
        rows.append(
            (
                name,
                n_files,
                int(n_rows),
                n_files > compact_threshold,
            )
        )
    return spark.createDataFrame(
        rows,
        "table string, n_files long, n_rows long, needs_compaction boolean",
    )
