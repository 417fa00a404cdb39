"""Streaming incremental bloom filter over a key stream.

The batch bloom (operators/bloom.py) prunes one join; a live ingest
pipeline needs the incremental question: "which of this micro-batch's
keys could POSSIBLY have been seen before?" — asked per batch against
a bitmap that outlives any one batch.  This is the membership twin of
streaming/dedup_stream.py's signature index and
streaming/ann_stream.py's vector index.

Why it matters at 100 TB: exact streaming dedup anti-joins every batch
against the full key history — a shuffle whose big side grows without
bound.  The bloom splits the batch first:

- **definite-new** (bloom miss): guaranteed never seen — skips the
  exact anti-join entirely.  For a mostly-new stream this is ~all
  rows, so the expensive join's input shrinks from |batch| to the
  false-positive + true-duplicate residue.
- **possible-dup** (bloom hit): the only rows that pay the exact
  check (the filter has false positives, never false negatives).

Engine mapping:

- **State**: a parquet table of (word, mask) rows — the sparse
  split-block bitmap (operators/bloom.py geometry: one 64-bit word
  per key, k bits inside it).  Each micro-batch appends its own
  (word, bit_or mask) contribution; readers OR duplicate words on the
  fly (`groupBy(word).bit_or` — set-union semantics make appends
  commutative, so crash-replayed appends are harmless).
- **Per micro-batch**: batch keys compute (word, mask) JVM-side, left
  join the ~bitmap-sized state on word (broadcastable: the bitmap is
  ≤ m/64 rows regardless of history), classify, append the batch's
  contribution.
- **Compaction**: `groupBy(word).bit_or` collapses the per-batch
  appends back to ≤ m/64 rows under the crash-safe dirswap publish —
  identical maintenance contract to the dedup/ANN indexes.
- **Saturation**: `saturation()` reports the set-bit fraction; when it
  climbs past ~0.5 the false-positive rate decays toward 1 and the
  operator degrades gracefully to "everything possible" (exact checks
  still correct) — the signal to widen m and rebuild from the exact
  key history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.operators.bloom import _mask_col, _word_col
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.streaming import dirswap

#: Stream-scale default geometry: 2^20 bits (128 KiB, ≤16384 words),
#: 3 bits per key — <1% false positives up to ~100k keys.
STREAM_M_BITS = 1 << 20
STREAM_K_HASHES = 3


class StreamingBloomFilter:
    """The persistent bitmap + the per-batch classify step."""

    def __init__(
        self,
        workdir: str,
        key_col: str,
        m_bits: int = STREAM_M_BITS,
        k_hashes: int = STREAM_K_HASHES,
    ) -> None:
        self.bitmap_dir = os.path.join(workdir, "bitmap")
        self.key_col = key_col
        self.m_bits = m_bits
        self.k_hashes = k_hashes
        os.makedirs(self.bitmap_dir, exist_ok=True)
        dirswap.recover_interrupted_swap(self.bitmap_dir)

    # -- state ---------------------------------------------------------------

    def bitmap_df(self, spark: SparkSession) -> DataFrame | None:
        """Current bitmap, duplicate words OR-ed (append-log form)."""
        if not dirswap.has_parquet(self.bitmap_dir):
            return None
        return (
            spark.read.parquet(self.bitmap_dir)
            .groupBy("__word")
            .agg(F.bit_or("__mask").alias("__mask"))
        )

    def saturation(self, spark: SparkSession) -> float:
        """Fraction of the m bits set — the false-positive-rate
        dashboard number (fpp ≈ saturation^k)."""
        bm = self.bitmap_df(spark)
        if bm is None:
            return 0.0
        set_bits = bm.agg(F.sum(F.bit_count("__mask"))).collect()[0][0] or 0
        return set_bits / self.m_bits

    def compact_bitmap(self, spark: SparkSession) -> int:
        """Collapse the append log back to ≤ m/64 rows (crash-safe
        dirswap publish).  Returns the word count after compaction."""
        bm = self.bitmap_df(spark)
        if bm is None:
            return 0
        merged = bm.coalesce(1)
        dirswap.swap_publish(
            self.bitmap_dir,
            lambda tmp: merged.write.mode("overwrite").parquet(tmp),
        )
        return spark.read.parquet(self.bitmap_dir).count()

    # -- the per-batch step --------------------------------------------------

    def _keyed(self, df: DataFrame) -> DataFrame:
        key = F.col(self.key_col)
        m_words = max(1, self.m_bits >> 6)
        return df.withColumn(
            "__word", _word_col(key, m_words)
        ).withColumn("__mask", _mask_col(key, self.k_hashes))

    def classify_batch(self, batch_df: DataFrame) -> DataFrame:
        """Split one micro-batch against the PRE-batch bitmap: adds a
        boolean ``possibly_seen`` — False is a GUARANTEE the key was
        never ingested (route it past the exact history join); True
        rows are the only ones that need the exact check.  Then append
        the batch's own contribution to the bitmap.

        The classification materializes (eager local_checkpoint) BEFORE the
        append so a key duplicated WITHIN the batch still classifies
        against the pre-batch state — intra-batch dups are the exact
        checker's job, same contract as the dedup index."""
        spark = batch_df.sparkSession
        keyed = self._keyed(batch_df)
        bm = self.bitmap_df(spark)
        if bm is None:
            out = keyed.withColumn("possibly_seen", F.lit(False))
        else:
            hit = F.col("__bm").bitwiseAND(F.col("__mask")) == F.col("__mask")
            out = (
                keyed.join(
                    F.broadcast(bm.select("__word", F.col("__mask").alias("__bm"))),
                    "__word",
                    "left",
                )
                .withColumn("possibly_seen", F.coalesce(hit, F.lit(False)))
                .drop("__bm")
            )
        out = local_checkpoint(out, eager=True)
        (
            out.groupBy("__word")
            .agg(F.bit_or("__mask").alias("__mask"))
            .write.mode("append")
            .parquet(self.bitmap_dir)
        )
        return out.drop("__word", "__mask")
