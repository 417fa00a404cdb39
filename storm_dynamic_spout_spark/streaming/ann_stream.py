"""Streaming incremental ANN index over an embedding stream.

Batch ANN (operators/similarity.py) answers "what are the neighbors of
these queries in THIS corpus"; a live embedding pipeline needs the
incremental question: "what does this NEW vector match among everything
indexed so far?" — asked per micro-batch, against an index that
outlives any one batch.  This is the similarity twin of
streaming/dedup_stream.py's signature index.

Engine mapping:

- **Coarse buckets without training**: signed-random-projection sign
  bits (operators/similarity.py srp_planes — the same deterministic ±1
  hyperplanes the batch LSH uses).  Unlike k-means IVF there is no
  centroid-training step, so the index accepts its very first batch
  cold and two engines (Spark / the DuckDB oracle) agree on every
  bucket id bit-for-bit.
- **State**: a parquet table of (id, bucket, vector) appended once per
  micro-batch.  Bucket ids ARE the shuffle keys: matching a batch
  against N indexed vectors is an equi-join on the bucket id touching
  |bucket| candidates per query, never a scan of N.
- **Per micro-batch**: vectors whose id is already indexed are dropped
  first (anti-join on id), so a FULLY COMMITTED batch re-delivers as a
  complete no-op; a crash MID-batch (match log appended, index append
  lost) re-delivers under the same deterministic batch key, and the
  match append is key-guarded — the log is partitioned by
  ``__batch_key``, so the landed-check is a directory-name lookup and
  re-delivery completes exactly the missing index append without
  duplicating match rows (streaming/dirswap.py append_once).  Surviving
  NEW vectors bucket-join against the PRE-BATCH index, score exact
  cosine, keep top-k per query (rank by rounded cosine desc, then
  neighbor id — integer-stable across engines), append matches to the
  log and the vectors to the index.
- **Growth**: the index grows by exactly the unique vectors ingested;
  per-batch cost is |batch| × |bucket|, independent of history length
  beyond bucket occupancy — at scale, widen the SRP bucket count
  (~log2 growth bits, examples/scale_smoke.py srp_lsh) to keep bucket
  sizes flat.

The final match log of a deterministic batch schedule IS
SQL-expressible (staged half-corpus CTEs — catalog/llm.py
_stream_ann_sql), so the catalog entry carries a full DuckDB oracle;
multi-batch mechanics get scenario coverage in tests/test_ann_stream.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.operators.similarity import (
    as_double,
    dot,
    norm,
    srp_planes,
)
from storm_dynamic_spout_spark.streaming import dirswap

#: Coarse-bucket geometry: 4 sign bits → 16 buckets over the 64-dim
#: fixture embeddings.  Widen n_planes as the corpus grows.
ANN_STREAM_PLANES = 4
ANN_STREAM_DIM = 64
ANN_STREAM_K = 3


def srp_bucket(vec_col, dim: int = ANN_STREAM_DIM, n_planes: int = ANN_STREAM_PLANES):
    """Deterministic coarse-bucket id: SRP sign bits packed little-endian
    (bit p set iff v · plane_p ≥ 0) — identical in the DuckDB oracle."""
    v = as_double(vec_col)
    planes = srp_planes(dim, n_planes)
    out = F.lit(0)
    for p, row in enumerate(planes):
        bit = (dot(v, F.array(*[F.lit(w) for w in row])) >= 0).cast("int")
        out = out + bit * F.lit(2**p)
    return out


class StreamingAnnIndex:
    """The persistent vector index + the per-batch match step."""

    def __init__(
        self,
        workdir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = ANN_STREAM_K,
        dim: int = ANN_STREAM_DIM,
        n_planes: int = ANN_STREAM_PLANES,
    ) -> None:
        self.index_dir = os.path.join(workdir, "index")
        self.match_dir = os.path.join(workdir, "matches")
        self.id_col = id_col
        self.vec_col = vec_col
        self.k = k
        self.dim = dim
        self.n_planes = n_planes
        os.makedirs(self.index_dir, exist_ok=True)
        os.makedirs(self.match_dir, exist_ok=True)
        # heal a crashed append or compact_index swap — without this,
        # the makedirs above would present a silently-empty index
        dirswap.recover_interrupted_swap(self.index_dir)
        dirswap.recover_interrupted_swap(self.match_dir)

    # -- state ---------------------------------------------------------------

    def index_df(self, spark: SparkSession) -> DataFrame | None:
        if not dirswap.has_parquet(self.index_dir):
            return None
        return spark.read.parquet(self.index_dir)

    def matches(self, spark: SparkSession) -> DataFrame | None:
        if not dirswap.has_parquet(self.match_dir):
            return None
        return spark.read.parquet(self.match_dir)

    def compact_index(self, spark: SparkSession, target_files: int = 1) -> int:
        """Merge the per-batch index files (one parquet append per
        micro-batch) into ``target_files``, dedup-by-id in the process —
        same maintenance-window contract as
        StreamingDedupIndex.compact_index: a concurrent
        ``process_batch`` would read the directory mid-swap.  Returns
        the row count after compaction.

        Crash-safe via streaming/dirswap.py: the constructor heals any
        interrupted swap, so a crash mid-compaction can never surface
        as an empty index on restart."""
        idx = self.index_df(spark)
        if idx is None:
            return 0
        merged = idx.dropDuplicates(["__id"]).repartition(target_files)
        dirswap.swap_publish(
            self.index_dir,
            lambda tmp: merged.write.mode("overwrite").parquet(tmp),
        )
        return self.index_df(spark).count()

    # -- the per-batch step --------------------------------------------------

    def _prepared(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(self.id_col).alias("__id"),
            as_double(F.col(self.vec_col)).alias("__v"),
            srp_bucket(F.col(self.vec_col), self.dim, self.n_planes).alias("__b"),
        ).withColumn("__n", norm(F.col("__v")))

    def process_batch(self, batch_df: DataFrame) -> None:
        """Match one micro-batch against the pre-batch index, append the
        match log and the new vectors.

        The match log materializes BEFORE the index append so its
        lineage reads the pre-append index files; already-indexed ids
        are dropped first, so a FULLY COMMITTED batch re-delivers as a
        complete no-op, and the match append is guarded by a
        deterministic batch key (partition-dir lookup) so a crash
        between the two appends re-delivers without duplicating match
        rows — the index append runs LAST as the commit point."""
        spark = batch_df.sparkSession
        new = self._prepared(batch_df)
        seen = self.index_df(spark)
        if seen is not None:
            new = new.join(
                seen.select(F.col("__id")), "__id", "left_anti"
            )
        # lazy checkpoint: deterministic subtree (vector prep +
        # anti-join over the static pre-batch index files); the batch-
        # key aggregate below materializes it BEFORE any append runs —
        # one driver job instead of three (r15 verdict item 6)
        new = local_checkpoint(new)
        # deterministic batch identity over the new ids: a crash between
        # the match append and the index append re-delivers under the
        # same key, and append_once skips the already-landed match
        # append instead of duplicating it
        key = dirswap.batch_key(new, "__id")
        if key is None:
            return  # fully-committed re-delivery (or an empty batch)
        if seen is not None:
            q = new.select(
                F.col("__id").alias("query_id"),
                F.col("__v").alias("__q"),
                F.col("__n").alias("__qn"),
                F.col("__b").alias("__qb"),
            )
            cos = F.round(
                dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__n")) * 1000000
            ) / 1000000
            w = W.partitionBy("query_id").orderBy(F.desc("cos"), "__id")
            matches = (
                seen.join(F.broadcast(q), F.col("__b") == F.col("__qb"))
                .withColumn("cos", cos)
                .withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= self.k)
                .select(
                    "query_id",
                    F.col("__id").alias("neighbor_id"),
                    "cos",
                    "rank",
                )
            )
            dirswap.append_once(matches, self.match_dir, key)
        new.write.mode("append").parquet(self.index_dir)
