"""Streaming incremental near-dup detection over the firehose.

Batch dedup (operators/dedup.py) answers "which docs in THIS corpus are
near-dups"; a live ingestion pipeline needs the incremental question:
"is this NEW document a near-dup of anything seen so far?" — asked per
micro-batch, against an index that outlives any one batch.

Engine mapping (the streaming twin of the sideline pattern — persistent
control/state on disk, re-read inside foreachBatch):

- **Signature index**: a parquet table of minhash band keys per seen
  doc (``index/``), exactly the band keys the batch LSH uses
  (operators/dedup.py MINHASH_BANDS). Band keys ARE the shuffle keys:
  matching a batch against N seen docs is an equi-join on 32-byte band
  keys, never a scan of N texts. At 100 TB the index is the only state
  that grows, it is bucketable by band key, and it holds signatures
  (bytes per doc), not documents.
- **Per micro-batch**: signature the new docs → equi-join their band
  keys against the index → candidates verify by exact signature overlap
  (minhash agreement ≥ threshold — the streaming stand-in for full
  Jaccard, since the index intentionally does not retain text) → unique
  docs append to the sink AND their signatures to the index; duplicates
  land in a dup-log with the id they matched.
- **Within-batch dups** are caught by the same machinery: the batch
  joins against itself (keep-first by id order) before the index join.
- **At-least-once**: a replayed batch re-matches its own earlier
  signatures; ``seen_id < new_id`` guards plus the exact-id filter make
  re-delivery idempotent in the dup-log and a no-op in the index
  (dedup_by_key on append).

The final dup-log IS SQL-expressible (two staged half-corpus CTEs —
catalog/llm.py _stream_dedup_sql), so the catalog entry carries a full
DuckDB oracle; the multi-batch stateful mechanics get scenario coverage
in tests/test_streaming_dedup.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_SEEDS,
    minhash_signature,
)
from storm_dynamic_spout_spark.streaming import dirswap

_BAND_COLS = [f"band_{b}" for b in range(len(MINHASH_BANDS))]
_SIG_COLS = [f"minhash_{s}" for s in MINHASH_SEEDS]


class StreamingDedupIndex:
    """The persistent signature index + the per-batch dedup step."""

    def __init__(
        self,
        workdir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_band_matches: int = 1,
        min_sig_agreement: float = 0.5,
    ) -> None:
        self.index_dir = os.path.join(workdir, "index")
        self.dup_dir = os.path.join(workdir, "duplicates")
        self.id_col = id_col
        self.text_col = text_col
        self.min_band_matches = min_band_matches
        self.min_sig_agreement = min_sig_agreement
        os.makedirs(self.index_dir, exist_ok=True)
        os.makedirs(self.dup_dir, exist_ok=True)
        # heal a crashed append or compact_index swap — without this,
        # the makedirs above would present a silently-empty index
        dirswap.recover_interrupted_swap(self.index_dir)
        dirswap.recover_interrupted_swap(self.dup_dir)

    # -- state ---------------------------------------------------------------

    def index_df(self, spark: SparkSession) -> DataFrame | None:
        if not dirswap.has_parquet(self.index_dir):
            return None
        return spark.read.parquet(self.index_dir)

    def duplicates(self, spark: SparkSession) -> DataFrame | None:
        if not dirswap.has_parquet(self.dup_dir):
            return None
        return spark.read.parquet(self.dup_dir)

    def compact_index(self, spark: SparkSession, target_files: int = 1) -> int:
        """Merge the per-batch signature files (one parquet append per
        micro-batch) into ``target_files``, dedup-by-id in the process —
        the index-side twin of :meth:`Firehose.compact_output`. Run in a
        maintenance window: a concurrent ``process_batch`` would read
        the directory mid-swap. Returns the row count after compaction.

        Crash-safe via streaming/dirswap.py: the constructor heals any
        interrupted swap, so a crash mid-compaction can never surface
        as an empty index on restart."""
        idx = self.index_df(spark)
        if idx is None:
            return 0
        merged = idx.dropDuplicates([self.id_col]).repartition(target_files)
        dirswap.swap_publish(
            self.index_dir,
            lambda tmp: merged.write.mode("overwrite").parquet(tmp),
        )
        return self.index_df(spark).count()

    # -- the per-batch step --------------------------------------------------

    def _match(self, new_sig: DataFrame, seen_sig: DataFrame) -> DataFrame:
        """(new_id, seen_id) pairs where seen is an earlier near-dup of
        new: ≥ min_band_matches shared band buckets, then signature
        agreement ≥ min_sig_agreement of the minhash rows."""
        n = new_sig.select(
            F.col(self.id_col).alias("__new_id"),
            *[F.col(c).alias(f"__n_{c}") for c in _SIG_COLS + _BAND_COLS],
        )
        s = seen_sig.select(
            F.col(self.id_col).alias("__seen_id"),
            *[F.col(c).alias(f"__s_{c}") for c in _SIG_COLS + _BAND_COLS],
        )
        pairs = None
        for b in _BAND_COLS:
            p = n.join(
                s.select("__seen_id", F.col(f"__s_{b}").alias("__bk")),
                n[f"__n_{b}"] == F.col("__bk"),
            ).select("__new_id", "__seen_id", *[f"__n_{c}" for c in _SIG_COLS])
            # seen must be strictly earlier: keep-first semantics and
            # idempotence under at-least-once re-delivery
            p = p.filter(F.col("__seen_id") < F.col("__new_id"))
            pairs = p if pairs is None else pairs.unionByName(p)
        cand = pairs.groupBy("__new_id", "__seen_id").agg(
            F.count(F.lit(1)).alias("__n_bands"),
            *[F.first(f"__n_{c}").alias(f"__n_{c}") for c in _SIG_COLS],
        ).filter(F.col("__n_bands") >= self.min_band_matches)
        # signature agreement: fraction of the minhash rows that agree
        cand = cand.join(
            s.select("__seen_id", *[f"__s_{c}" for c in _SIG_COLS]), "__seen_id"
        )
        agree = sum(
            F.when(F.col(f"__n_{c}") == F.col(f"__s_{c}"), 1).otherwise(0)
            for c in _SIG_COLS
        )
        return (
            cand.withColumn("__agree", agree / F.lit(float(len(_SIG_COLS))))
            .filter(F.col("__agree") >= self.min_sig_agreement)
            .select("__new_id", "__seen_id", "__agree")
        )

    def process_batch(self, batch_df: DataFrame, sink) -> None:
        """Dedup one micro-batch against (itself ∪ the index), call
        ``sink(unique_docs)``, persist new signatures + the dup-log.

        Ordering matters for the lazy plans: sink and dup-log
        materialize BEFORE the index append so their lineage reads the
        pre-append index files.

        Idempotency under at-least-once: the dup-log append is keyed
        (``dirswap.append_once``, a partition-dirname lookup) and the
        signature append anti-joins already-indexed ids, so BOTH state
        appends are exactly-once under whole-batch re-delivery and every
        crash-between-appends window.  ``sink(unique_docs)`` is the one
        at-least-once edge: a replay re-invokes it with the identical
        unique set — downstream sinks idempote on doc id (the standard
        foreachBatch contract)."""
        spark = batch_df.sparkSession
        sig = minhash_signature(batch_df, self.id_col, self.text_col)
        # deterministic batch identity over the batch's distinct ids —
        # dedup cannot anti-join the whole batch away (dup docs never
        # enter the index), so the key is over the FULL batch
        key = dirswap.batch_key(batch_df, self.id_col)
        if key is None:
            return  # empty batch
        seen = self.index_df(spark)
        # within-batch earlier docs count as "seen" too.  The union must
        # be ID-UNIQUE: on re-delivery (or a re-arriving id) the batch's
        # already-indexed docs appear in BOTH seen and sig, and a
        # doubled seen row doubles every pair's band count in _match —
        # with min_band_matches >= 2 a replay could then newly flag a
        # doc and shrink the sink set (r14 advice).  Signatures are
        # deterministic from text, so dropping sig rows whose id is
        # already indexed loses nothing.
        if seen is None:
            all_seen = sig
        else:
            all_seen = seen.unionByName(
                sig.join(seen.select(self.id_col), self.id_col, "left_anti")
            )
        matches = self._match(sig, all_seen)
        # best match = highest agreement, ties broken toward the EARLIEST
        # seen doc (keep-first canonicalization: a chain A < A' < A''
        # resolves every member to A, not to the nearest dup)
        best = matches.groupBy("__new_id").agg(
            F.max(
                F.struct(
                    F.col("__agree"), (-F.col("__seen_id")).alias("__neg_id")
                )
            ).alias("__m")
        ).select(
            F.col("__new_id"),
            (-F.col("__m.__neg_id")).alias("matched_id"),
            F.col("__m.__agree").alias("agreement"),
        )
        dup_ids = best.select(F.col("__new_id").alias(self.id_col))
        unique = batch_df.join(dup_ids, self.id_col, "left_anti")
        sink(unique)
        dup_log = batch_df.join(
            best, batch_df[self.id_col] == best["__new_id"]
        ).select(self.id_col, "matched_id", "agreement")
        dirswap.append_once(dup_log, self.dup_dir, key)
        # UNIQUE docs' signatures enter the index (duplicates must not:
        # a dup matching a dup would chain clusters through the log);
        # the anti-join on already-indexed ids makes this append — the
        # commit point — exactly-once under re-delivery
        unique_sig = sig.join(dup_ids, self.id_col, "left_anti")
        if seen is not None:
            unique_sig = unique_sig.join(
                seen.select(self.id_col), self.id_col, "left_anti"
            )
        unique_sig.write.mode("append").parquet(self.index_dir)
