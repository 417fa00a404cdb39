"""Engine-owned exactly-once parquet sink for the stateful streams.

Round 14 made every streaming index EXACTLY-ONCE on its *state* under
at-least-once delivery, but the ``sink(batch_df)`` callbacks the
streams invoke stayed at-least-once by contract: a replayed batch
re-invokes the callback with the identical rows, and idempotence was
the downstream's problem (SEMANTICS row 11).  This helper closes that
last edge for the common case — "write the stream's output to a
parquet table" — with the SAME keyed append the state logs use
(streaming/dirswap.py): the batch's distinct ids fold to a key
(``batch_key``), rows land under a ``__batch_key=<key>`` partition
directory (``append_once``), and a re-delivered batch whose partition
dir already exists is skipped without reading a row.

Custom callbacks keep the documented at-least-once contract; this is
the opt-in engine-owned alternative, usable directly as the ``sink``
argument of every stream's ``process_batch``:

    sink = IdempotentParquetSink(out_dir)
    idx.process_batch(batch, sink)       # crash ... redeliver:
    idx.process_batch(batch, sink)       # no duplicate rows

Why the guard is sound here: the key is a pure function of the sink
input's distinct ids, and every stream's sink input is itself a pure
function of the delivered batch (the round-15 dedup fix made the
unique set replay-stable for every configuration), so a re-delivery
recomputes the same key.  Distinct-id XOR (not raw-row XOR) keeps the
r13 BM25 lesson: duplicate rows XOR-cancel pairwise and would collide
distinct batches.

At 100 TB: one extra one-scalar aggregate per micro-batch (the
bloom-gauge class — batch-sized, never state-sized), a driver dirname
``os.path.isdir`` per delivery, and the write itself is the append the
caller was already paying.  Partition count grows by one directory per
batch; fold with :meth:`compact` in the same maintenance window the
indexes use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from storm_dynamic_spout_spark.streaming import dirswap


class IdempotentParquetSink:
    """Batch-key-guarded parquet appender; call it like a sink."""

    def __init__(self, out_dir: str, id_col: str = "doc_id") -> None:
        self.out_dir = out_dir
        self.id_col = id_col
        os.makedirs(out_dir, exist_ok=True)
        dirswap.recover_interrupted_swap(self.out_dir)

    # -- the sink contract ---------------------------------------------------

    def __call__(self, batch_df: DataFrame) -> None:
        key = dirswap.batch_key(batch_df, self.id_col)
        if key is None:
            return  # empty batch: nothing to land, nothing to guard
        # a re-delivery finds its partition dir and lands nothing
        dirswap.append_once(batch_df, self.out_dir, key)

    # -- reads + maintenance -------------------------------------------------

    def rows(self, spark: SparkSession) -> "DataFrame | None":
        """Everything landed so far, without the guard column."""
        if not dirswap.has_parquet(self.out_dir):
            return None
        return spark.read.parquet(self.out_dir).drop(dirswap.BATCH_KEY_COL)

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Fold the per-batch partition dirs into ONE ``__batch_key=0``
        partition of ``target_files`` files (maintenance window — same
        caveat as the indexes' ``compact_index``: not concurrent with
        deliveries).  The table keeps its keyed layout, so later
        deliveries and later compactions read every row.  Pre-compaction
        batch keys retire with their dirs — correct because compaction
        runs at a CHECKPOINT-COMMITTED boundary (stream stopped, every
        delivered batch committed), and Structured Streaming never
        re-delivers a committed batch; so the folded partition needs no
        particular key.  Crash-safe via dirswap; returns the row
        count."""
        rows = self.rows(spark)
        if rows is None:
            return 0
        merged = rows.repartition(target_files)
        dirswap.swap_publish(
            self.out_dir,
            lambda tmp: dirswap.keyed_writer(merged, 0)
            .mode("overwrite")
            .parquet(tmp),
        )
        return spark.read.parquet(self.out_dir).count()
