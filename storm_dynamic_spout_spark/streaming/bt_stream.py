"""Streaming-incremental Bradley-Terry preference fit.

``operators/ranking.py`` fits preference strengths from a STATIC
comparison log; real preference data (RLHF labeling queues, ranker
click logs) arrives continuously.  This module maintains the fit
online, exploiting that the canonical pair table is the model's
SUFFICIENT STATISTIC: a micro-batch contributes only a pair-table
DELTA (vocabulary-sized, tiny next to the log), and the strengths warm
-start from the previous state, so a few MM iterations per batch track
the growing log — the standard online-EM/MM pattern, never a re-fit
from scratch.

Engine mapping (the stateful-stream conventions of
streaming/rollup.py + bm25_stream.py):

- **State**: ``pairs/`` — append-only parquet of per-batch canonical
  pair deltas ``(item_a < item_b, wins_a, wins_b, __batch_id)``;
  ``strengths/`` — the current raw micro-unit strengths, published
  whole via the crash-safe dirswap (it is model-sized: one row per
  item); a ``_bt_meta.json`` marker with the last fully-committed
  batch id.
- **Per micro-batch** (monotonic ``batch_id``, as foreachBatch
  provides): aggregate the batch's comparisons to a pair delta and
  append; read the cumulative pair table (dedup on
  (__batch_id, item_a, item_b) — the idempotency repair, see below);
  run ``BT_STREAM_ITERATIONS`` MM updates warm-started from the
  previous strengths (new items enter at the uniform p=1); publish;
  advance the marker.
- **Idempotency under at-least-once**: a replayed batch_id at or below
  the marker is a no-op.  A crash mid-batch replays the batch:
  a duplicated pair append produces EXACT duplicate rows, which the
  cumulative read drops (dropDuplicates over the delta's full row —
  deltas are unique per (batch, pair) by construction); a strengths
  table already carrying ``as_of_batch == batch_id`` (crash after
  publish, before the marker) short-circuits to just advancing the
  marker, so the warm start never chains off its own output.
- **Determinism**: strengths after batch k are a pure function of the
  batch schedule — integer micro-unit MM updates
  (operators/ranking.py) over exact integer pair sums — so a
  deterministic schedule is replayable by a DuckDB oracle (nested
  list_reduce folds, one per batch, each warm-started from the last),
  the planned round-14 catalog entry.

Scale shape at 100 TB: the corpus-sized work per batch is ONE hash
aggregate of the batch (its pair delta); everything else touches the
pair vocabulary and the item model — both broadcast-sized in practice.
The cumulative pair read grows with DISTINCT pairs, not with the log.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.operators.ranking import (
    _MICRO,
    mm_strength_iterations,
    normalized_strength_report,
    pairwise_win_counts,
)
from storm_dynamic_spout_spark.streaming import dirswap

#: MM iterations per micro-batch — warm-started, so a handful per batch
#: converges across batches (geometric per-iteration contraction).
BT_STREAM_ITERATIONS = 4


class StreamingBradleyTerry:
    """Persistent pair-table state + warm-started per-batch refit."""

    #: Auto-collapse the pair deltas once the dir accumulates this many
    #: delta files: rows grow as batches x batch pair-vocab, and the
    #: cumulative read's dedup+sum pass covers them all every batch.
    #: The collapse folds committed deltas into one summed row per pair
    #: (pair-vocabulary-sized work) via the crash-safe dirswap.
    PAIRS_COMPACT_FILES = 32

    def __init__(
        self,
        workdir: str,
        winner_col: str = "winner",
        loser_col: str = "loser",
        iterations: int = BT_STREAM_ITERATIONS,
        pairs_compact_files: int | None = None,
    ) -> None:
        self.pairs_dir = os.path.join(workdir, "pairs")
        self.strengths_dir = os.path.join(workdir, "strengths")
        self.meta_path = os.path.join(workdir, "_bt_meta.json")
        self.winner_col = winner_col
        self.loser_col = loser_col
        self.iterations = iterations
        self.pairs_compact_files = (
            self.PAIRS_COMPACT_FILES
            if pairs_compact_files is None
            else pairs_compact_files
        )
        os.makedirs(self.pairs_dir, exist_ok=True)
        dirswap.recover_interrupted_swap(self.strengths_dir)
        dirswap.recover_interrupted_swap(self.pairs_dir)

    # -- state ---------------------------------------------------------------

    def _last_batch_id(self) -> int:
        if not os.path.exists(self.meta_path):
            return -1
        with open(self.meta_path) as fh:
            return int(json.load(fh).get("last_batch_id", -1))

    def _write_marker(self, batch_id: int) -> None:
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"last_batch_id": int(batch_id)}, fh)
        os.replace(tmp, self.meta_path)

    def cumulative_pairs(self, spark: SparkSession) -> DataFrame | None:
        """The canonical pair table summed over all committed deltas.
        ``dropDuplicates`` over the full delta row is the idempotency
        repair: a crash-replayed append duplicates rows EXACTLY (same
        batch id, same pair, same counts), so the dedup restores the
        once-only sum."""
        if not dirswap.has_parquet(self.pairs_dir):
            return None
        return (
            spark.read.parquet(self.pairs_dir)
            .dropDuplicates(["__batch_id", "item_a", "item_b"])
            .groupBy("item_a", "item_b")
            .agg(
                F.sum("wins_a").cast("long").alias("wins_a"),
                F.sum("wins_b").cast("long").alias("wins_b"),
            )
        )

    def strengths(self, spark: SparkSession) -> DataFrame | None:
        """Raw micro-unit state (item, __p_micro, as_of_batch)."""
        if not dirswap.has_parquet(self.strengths_dir):
            return None
        return spark.read.parquet(self.strengths_dir)

    def strengths_report(self, spark: SparkSession) -> DataFrame | None:
        """The normalized (item, strength, n_wins, n_comparisons) view
        over the current state — same report contract as the batch
        ``bradley_terry_strengths``."""
        cur = self.strengths(spark)
        pairs = self.cumulative_pairs(spark)
        if cur is None or pairs is None:
            return None
        # the report references the pair table several times (win and
        # comparison totals + the normalization join): truncate its
        # lineage once so the delta files are read and summed once
        return normalized_strength_report(
            local_checkpoint(pairs),
            cur.select("item", "__p_micro"),
        )

    # -- the per-batch step ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        """Fold one comparison micro-batch into the fit.  Returns False
        for an already-committed ``batch_id`` (idempotent replay)."""
        if batch_id <= self._last_batch_id():
            return False
        spark = batch_df.sparkSession
        prev = self.strengths(spark)
        if prev is not None:
            as_of = prev.agg(F.max("as_of_batch")).first()[0]
            if as_of is not None and as_of >= batch_id:
                # crash landed AFTER the strengths publish but before
                # the marker: the state already reflects this batch —
                # never warm-start the fit off its own output
                self._write_marker(batch_id)
                return True
        delta = pairwise_win_counts(
            batch_df, self.winner_col, self.loser_col
        ).withColumn("__batch_id", F.lit(int(batch_id)).cast("long"))
        delta.write.mode("append").parquet(self.pairs_dir)
        # lineage-truncate once: the cumulative table feeds the item
        # list (2 refs), every MM iteration, and the publish — all
        # pair-vocabulary-sized, but each ref would re-read and re-sum
        # the delta files otherwise.
        cum = local_checkpoint(self.cumulative_pairs(spark))
        init = (
            cum.select(F.col("item_a").alias("item"))
            .unionByName(cum.select(F.col("item_b").alias("item")))
            .distinct()
        )
        if prev is not None:
            init = init.join(
                prev.select("item", F.col("__p_micro").alias("__prev")),
                "item",
                "left",
            )
        else:
            init = init.withColumn("__prev", F.lit(None).cast("long"))
        init = init.select(
            "item",
            F.coalesce(F.col("__prev"), F.lit(_MICRO).cast("long")).alias(
                "__p_micro"
            ),
        )
        new_state = mm_strength_iterations(cum, init, self.iterations).select(
            "item",
            "__p_micro",
            F.lit(int(batch_id)).cast("long").alias("as_of_batch"),
        )
        dirswap.swap_publish(
            self.strengths_dir,
            lambda tmp: new_state.write.mode("overwrite").parquet(tmp),
        )
        self._write_marker(batch_id)
        self._maybe_collapse_pairs(spark, batch_id)
        return True

    def _maybe_collapse_pairs(self, spark: SparkSession, batch_id: int) -> None:
        """Opportunistic pair-delta collapse, run only AFTER the marker
        write: every delta row then belongs to a committed batch (a
        replayed id at or below the marker no-ops before any append),
        so folding the whole dir into one summed row per pair — tagged
        with the committed ``batch_id`` — is replay-safe.  Work is
        pair-vocabulary-sized; a crash mid-collapse heals via the
        dirswap."""
        n_files = len(list(dirswap.parquet_files(self.pairs_dir)))
        if n_files <= self.pairs_compact_files:
            return
        folded = (
            self.cumulative_pairs(spark)
            .withColumn("__batch_id", F.lit(int(batch_id)).cast("long"))
            .coalesce(1)
        )
        dirswap.swap_publish(
            self.pairs_dir,
            lambda tmp: folded.write.mode("overwrite").parquet(tmp),
        )
