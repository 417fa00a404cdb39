"""Streaming incremental BM25 postings index over a document stream.

``streaming/ann_stream.py`` answers the incremental similarity
question for the DENSE leg — "what does this NEW vector match among
everything indexed so far?" — per micro-batch, against state that
outlives any one batch.  This module is its sparse/lexical twin: each
new document is BM25-scored against the postings index built so far,
closing the streaming half of the batch retrieval stack
(``text_bm25_rank`` / ``search_hybrid_rrf`` in catalog/llm.py).

Engine mapping:

- **State**: a parquet postings table of (doc id, token, tf, doc len)
  appended once per micro-batch, plus two tiny SIDECAR delta tables —
  per-batch (new docs, new Σdl) and per-batch-token df — whose sums
  are the index statistics, so no batch ever re-scans the postings
  just to recount them.  The token IS the shuffle key: matching a
  batch against N indexed documents is an equi-join on token touching
  only same-token postings, never a scan of N.
- **Per micro-batch**: documents whose id is already indexed are
  dropped first (anti-join on id), so a fully-committed batch
  re-delivers as a complete no-op; a crash MID-batch re-delivers
  under the same deterministic batch key, and every append is
  key-guarded, so re-delivery completes exactly the missing appends
  (idempotent under at-least-once in every crash window at the
  job-commit granularity).  Surviving NEW documents expose their
  distinct tokens as query terms, probe the PRE-BATCH postings, and
  keep top-k indexed documents per query.
- **Cross-engine float discipline** (tighter than the batch scorer):
  each (query, doc, term) BM25 contribution — idf·tf·(k1+1)/(tf +
  k1·(1−b+b·dl/avgdl)) — is rounded to an integer MICRO-UNIT before
  the per-pair sum, so the sum is exact integer arithmetic:
  order-independent across partitions and identical in the DuckDB
  oracle regardless of either engine's addition order.  Ranking
  compares (micro-score desc, doc id); the reported score is
  micro/1e6.
- **Statistics**: N, Σdl and per-token df come from the pre-batch
  postings at match time — idf therefore reflects the index AS OF the
  batch, exactly reproducible from the batch schedule.
- **Growth**: the index grows by exactly the unique documents
  ingested; per-batch cost is Σ_t q_t·df_t over the batch's tokens
  plus the sidecar sums (rows ~ batches × batch vocab, collapsed to
  one row by ``compact_index``), independent of index size beyond
  posting-list occupancy — the query terms join the postings FIRST,
  so only probed lists flow through the plan.  At scale,
  stopword-cap the probe (drop tokens above a df ceiling) to bound
  the heaviest lists — the batch BM25's idf already zeroes their
  contribution asymptotically.

The final match log of a deterministic batch schedule is
SQL-expressible (staged half-corpus CTEs — catalog/llm.py
``_stream_bm25_sql``), so the catalog entry carries a full DuckDB
oracle; multi-batch stateful mechanics get scenario coverage in
tests/test_bm25_stream.py, mirroring tests/test_ann_stream.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.streaming import dirswap

#: Okapi BM25 constants — same values as the batch scorer
#: (catalog/llm.py BM25_K1/BM25_B) so the two legs rank consistently.
BM25_STREAM_K1 = 1.2
BM25_STREAM_B = 0.75
BM25_STREAM_K = 5


def score_against_postings(
    postings: DataFrame,
    q_terms: DataFrame,
    k: int = BM25_STREAM_K,
    max_df_frac: float | None = None,
    stats: DataFrame | None = None,
    dfx: DataFrame | None = None,
    broadcast_query: bool = False,
) -> DataFrame:
    """Top-k BM25 matches of query-term rows (query_id, __tok) against
    a postings table (__id, __dl, __tok, __tf) — the pure per-batch
    probe plan, shared by :class:`StreamingBm25Index.process_batch`
    and the scale-smoke shape (examples/scale_smoke.py
    bm25_stream_probe).

    Statistics are injectable (the round-13 scale fix): ``stats`` is a
    one-row (__n_docs, __sum_dl) frame and ``dfx`` a (__tok, __df)
    frame — :class:`StreamingBm25Index` passes its incrementally
    maintained sidecar so a micro-batch never re-scans the full
    postings just to recount them.  When ``None`` (standalone use,
    e.g. the smoke shape) both derive from ``postings`` itself — the
    caller decides what "the index so far" means.

    ``broadcast_query`` pins a broadcast hint on the query-terms side;
    leave it False unless the caller KNOWS the batch is small (the
    micro-batch path does) — an unconditional hint on a half-corpus
    probe would hit the broadcast limit / driver OOM at real scale,
    so the default lets AQE pick the strategy from runtime sizes.

    ``max_df_frac`` is the SCALE knob: tokens appearing in more than
    that fraction of indexed documents are elided from the probe
    (Lucene-style stopword ceiling).  The probe join's output is
    Σ_t q_t·df_t — dominated by exactly the near-stopword tokens whose
    idf ≈ ln(1 + ~0.5/N) contributes least to the score — so the cap
    bounds the heaviest posting lists while the ranking over
    discriminative terms survives.  ``None`` (the default, and what
    the oracle-matched catalog query uses) scores exactly."""
    if stats is None:
        stats = (
            postings.select("__id", "__dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).cast("long").alias("__n_docs"),
                F.sum("__dl").cast("long").alias("__sum_dl"),
            )
        )
    if dfx is None:
        dfx = postings.groupBy("__tok").agg(
            F.count(F.lit(1)).cast("long").alias("__df")
        )
    if max_df_frac is not None:
        # the df table is vocab-sized and stats is one row: the filter
        # runs broadcast-side, and the INNER dfx join below then prunes
        # the capped tokens out of the probe before the heavy join
        dfx = (
            dfx.crossJoin(F.broadcast(stats))
            .filter(F.col("__df") <= F.lit(max_df_frac) * F.col("__n_docs"))
            .select("__tok", "__df")
        )
    avgdl = F.col("__sum_dl").cast("double") / F.col("__n_docs")
    idf = F.log(
        1 + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    part = (
        idf
        * F.col("__tf")
        * (BM25_STREAM_K1 + 1)
        / (
            F.col("__tf")
            + BM25_STREAM_K1
            * (1 - BM25_STREAM_B + BM25_STREAM_B * F.col("__dl") / avgdl)
        )
    )
    # integer micro-units BEFORE the sum: exact, order-free
    micro = F.round(part * 1_000_000).cast("long")
    w = W.partitionBy("query_id").orderBy(F.desc("__ms"), "__id")
    q = F.broadcast(q_terms) if broadcast_query else q_terms
    # Join order (inner joins on __tok commute, so this is a pure
    # plan choice): with a df ceiling the capped dfx table joins
    # FIRST, pruning stopword postings before they ever meet the
    # query side; uncapped, the QUERY terms join first so the
    # postings relation shrinks to exactly the probed lists
    # (Σ_t q_t·df_t) before the vocab-sized df join touches it.
    if max_df_frac is not None:
        probed = postings.join(dfx, "__tok").join(q, "__tok")
    else:
        probed = postings.join(q, "__tok").join(dfx, "__tok")
    return (
        probed
        .crossJoin(F.broadcast(stats))
        .withColumn("__micro", micro)
        .groupBy("query_id", "__id")
        .agg(
            F.sum("__micro").cast("long").alias("__ms"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("__id").alias("doc_id"),
            "n_terms",
            (F.col("__ms") / F.lit(1_000_000.0)).alias("score"),
            "rank",
        )
    )


class StreamingBm25Index:
    """The persistent postings index + the per-batch match step.

    State layout (round 13 — incremental statistics): alongside the
    corpus-sized ``postings/`` table live two SIDECAR delta tables,
    appended once per batch and vastly smaller than the postings —
    ``stats/`` (one row per batch: new-doc count, new-doc Σdl) and
    ``df/`` (one row per batch-token: docs added to that posting
    list).  Probe-time statistics ``(N, Σdl, df)`` are sums over the
    sidecars, so a micro-batch costs O(batch + probed posting lists +
    sidecar), NOT O(index) — previously every batch re-scanned the
    full postings just to recount them, making total work quadratic
    over a stream's life.  ``compact_index`` rebuilds both sidecars
    from the postings (the ground truth), collapsing their per-batch
    rows to one."""

    #: Auto-collapse the sidecar deltas once a state dir accumulates
    #: this many delta files: per-batch rows grow as batches x batch
    #: vocab between compactions, and the collapse (a sum over the
    #: sidecar itself — never a postings scan) keeps the probe-time
    #: statistics read bounded without waiting for a maintenance
    #: window.
    SIDECAR_COMPACT_FILES = 32

    def __init__(
        self,
        workdir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = BM25_STREAM_K,
        sidecar_compact_files: int | None = None,
    ) -> None:
        self.postings_dir = os.path.join(workdir, "postings")
        self.match_dir = os.path.join(workdir, "matches")
        self.stats_dir = os.path.join(workdir, "stats")
        self.df_dir = os.path.join(workdir, "df")
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.sidecar_compact_files = (
            self.SIDECAR_COMPACT_FILES
            if sidecar_compact_files is None
            else sidecar_compact_files
        )
        for d in (self.postings_dir, self.match_dir, self.stats_dir, self.df_dir):
            os.makedirs(d, exist_ok=True)
            # heal a crashed append or compact_index swap — without
            # this, the makedirs above would present a silently-empty
            # index
            dirswap.recover_interrupted_swap(d)

    # -- state ---------------------------------------------------------------

    def postings_df(self, spark: SparkSession) -> DataFrame | None:
        if not dirswap.has_parquet(self.postings_dir):
            return None
        return spark.read.parquet(self.postings_dir)

    def matches(self, spark: SparkSession) -> DataFrame | None:
        if not dirswap.has_parquet(self.match_dir):
            return None
        return spark.read.parquet(self.match_dir)

    def sidecar_stats(self, spark: SparkSession) -> DataFrame:
        """One-row (__n_docs, __sum_dl) from the stats sidecar — the
        incremental replacement for re-counting the postings."""
        self._heal_sidecars(spark)
        return spark.read.parquet(self.stats_dir).agg(
            F.sum("__n_docs").cast("long").alias("__n_docs"),
            F.sum("__sum_dl").cast("long").alias("__sum_dl"),
        )

    def sidecar_df(self, spark: SparkSession) -> DataFrame:
        """Per-token (__tok, __df) from the df sidecar deltas."""
        self._heal_sidecars(spark)
        return (
            spark.read.parquet(self.df_dir)
            .groupBy("__tok")
            .agg(F.sum("__df").cast("long").alias("__df"))
        )

    def _heal_sidecars(self, spark: SparkSession) -> None:
        """Resume path for a workdir written before the sidecar layout
        (postings present, sidecar dirs empty — e.g. a round-12 index)
        or one that crashed between the two sidecar appends: rebuild
        BOTH sidecars from the postings ground truth before the first
        probe reads them.  Two directory walks when healthy — no Spark
        job."""
        if not dirswap.has_parquet(self.postings_dir):
            return
        if all(dirswap.has_parquet(d) for d in (self.stats_dir, self.df_dir)):
            return
        self._rebuild_sidecars_from_postings(spark)

    def _rebuild_sidecars_from_postings(self, spark: SparkSession) -> None:
        """Rebuild both sidecars from the postings (the ground truth),
        collapsed to one sentinel-keyed delta row each.  The sentinel
        key — bit_xor of xxhash64 over the DISTINCT indexed ids — is
        materialized driver-side FIRST, so both writes are built from
        literals and never re-read a directory the swap just retired.
        Shared by compact_index and the empty-sidecar heal path."""
        pos = self.postings_df(spark)
        if pos is None:
            return
        row = (
            pos.select("__id", "__dl")
            .distinct()
            .agg(
                F.expr("bit_xor(xxhash64(__id))").alias("__batch_key"),
                F.count(F.lit(1)).cast("long").alias("__n_docs"),
                F.sum("__dl").cast("long").alias("__sum_dl"),
            )
            .first()
        )
        stats = spark.range(1, numPartitions=1).select(
            F.lit(int(row["__batch_key"])).cast("long").alias("__batch_key"),
            F.lit(int(row["__n_docs"])).cast("long").alias("__n_docs"),
            F.lit(int(row["__sum_dl"])).cast("long").alias("__sum_dl"),
        )
        dirswap.swap_publish(
            self.stats_dir,
            lambda tmp: stats.write.mode("overwrite").parquet(tmp),
        )
        dfx = (
            pos.groupBy("__tok")
            # count_distinct, not count: postings are distinct (id, tok)
            # by construction, but the heal path must also be correct on
            # a not-yet-compacted index with a partial duplicate append
            .agg(F.count_distinct("__id").cast("long").alias("__df"))
            .select(
                F.lit(int(row["__batch_key"]))
                .cast("long")
                .alias("__batch_key"),
                "__tok",
                "__df",
            )
            .coalesce(1)
        )
        dirswap.swap_publish(
            self.df_dir,
            lambda tmp: dfx.write.mode("overwrite").parquet(tmp),
        )

    def compact_index(self, spark: SparkSession, target_files: int = 1) -> int:
        """Merge the per-batch postings files into ``target_files``,
        dedup-by-(id, token) in the process — same maintenance-window
        contract as StreamingAnnIndex.compact_index.  Rebuilds both
        sidecars from the compacted postings (the ground truth),
        collapsing their per-batch delta rows to one — this is also
        the heal path should a sidecar ever drift.  Returns the
        postings row count after compaction.  Crash-safe via
        streaming/dirswap.py (each directory swap is independently
        recoverable; a crash between swaps leaves a stale sidecar that
        the NEXT compaction rebuilds from the already-compacted
        postings)."""
        pos = self.postings_df(spark)
        if pos is None:
            return 0
        merged = pos.dropDuplicates(["__id", "__tok"]).repartition(target_files)
        dirswap.swap_publish(
            self.postings_dir,
            lambda tmp: merged.write.mode("overwrite").parquet(tmp),
        )
        # one sentinel delta row covering the whole compacted index;
        # the batch key is deterministic from the indexed id set
        self._rebuild_sidecars_from_postings(spark)
        return self.postings_df(spark).count()

    # -- the per-batch step --------------------------------------------------

    def _prepared(self, df: DataFrame) -> DataFrame:
        """Postings rows (__id, __dl, __tok, __tf) for one batch — the
        same whitespace tokenization as the batch BM25 scorer."""
        toks = df.select(
            F.col(self.id_col).alias("__id"),
            F.split(F.col(self.text_col), r"\s+").alias("__t"),
        )
        return (
            toks.select(
                "__id",
                F.size("__t").cast("long").alias("__dl"),
                F.explode("__t").alias("__tok"),
            )
            .groupBy("__id", "__dl", "__tok")
            .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
        )

    def _landed(self, spark: SparkSession, d: str, key: int) -> bool:
        """Has this batch's delta already committed into sidecar ``d``?
        The tiny sidecars are read key-column-only (the match log's
        guard is ``dirswap.append_once``)."""
        if not dirswap.has_parquet(d):
            return False
        return (
            spark.read.parquet(d)
            .filter(F.col("__batch_key") == key)
            .take(1)
            != []
        )

    def process_batch(self, batch_df: DataFrame) -> None:
        """Score one micro-batch against the pre-batch postings, append
        the match log, the sidecar deltas, and the new postings.

        Idempotency under at-least-once: already-indexed ids are
        dropped first (anti-join on the postings ids), so a FULLY
        COMMITTED batch re-delivers as a complete no-op.  A crash
        mid-batch re-delivers with the same deterministic batch key,
        and every append is individually guarded by that key — the
        match-log partition dir, the sidecar key columns — so
        re-delivery completes exactly the missing appends, never
        duplicating a landed one.  The postings append runs LAST as
        the commit point (its ids are what retires the batch).  The
        match step materializes BEFORE any append so its lineage reads
        only pre-batch index files, and its statistics come from the
        pre-batch SIDECAR sums — per-batch cost is O(batch + probed
        posting lists), independent of index size."""
        spark = batch_df.sparkSession
        # resume heal BEFORE any guard reads the sidecars: a pre-sidecar
        # workdir (or a crash between the two sidecar appends) rebuilds
        # them from the postings ground truth here
        self._heal_sidecars(spark)
        new = self._prepared(batch_df)
        seen = self.postings_df(spark)
        if seen is not None:
            new = new.join(
                seen.select("__id").distinct(), "__id", "left_anti"
            )
        # lazy checkpoint: deterministic subtree (tokenize + anti-join
        # over the static pre-batch postings files); materialized by the
        # batch-key aggregate below BEFORE any append runs, preserving
        # the old eager guarantee with one driver job instead of three
        # (eager-materialize + take(1) + key) — r15 verdict item 6
        new = local_checkpoint(new)
        # batch identity over the DISTINCT new doc ids (``new`` holds one
        # row per (doc, token): a raw-row xor would cancel even counts)
        key = dirswap.batch_key(new, "__id")
        if key is None:
            # bit_xor over zero rows: fully-committed re-delivery (or
            # an empty batch) — same exit the old take(1) guard took
            return
        if seen is not None and not dirswap.landed(self.match_dir, key):
            # statistics AS OF the pre-batch index, from the sidecars —
            # read only when the match append has not landed yet
            q = new.select(F.col("__id").alias("query_id"), "__tok")
            matches = score_against_postings(
                seen,
                q,
                self.k,
                stats=self.sidecar_stats(spark),
                dfx=self.sidecar_df(spark),
                broadcast_query=True,  # a micro-batch IS small
            )
            dirswap.append_once(matches, self.match_dir, key)
        if not self._landed(spark, self.stats_dir, key):
            (
                new.select("__id", "__dl")
                .distinct()
                .agg(
                    F.count(F.lit(1)).cast("long").alias("__n_docs"),
                    F.sum("__dl").cast("long").alias("__sum_dl"),
                )
                .withColumn("__batch_key", F.lit(key))
                .write.mode("append")
                .parquet(self.stats_dir)
            )
        if not self._landed(spark, self.df_dir, key):
            (
                new.groupBy("__tok")
                .agg(F.count(F.lit(1)).cast("long").alias("__df"))
                .withColumn("__batch_key", F.lit(key))
                .write.mode("append")
                .parquet(self.df_dir)
            )
        new.write.mode("append").parquet(self.postings_dir)
        self._maybe_collapse_sidecars(spark)

    def _maybe_collapse_sidecars(self, spark: SparkSession) -> None:
        """Opportunistic sidecar collapse, run only AFTER the postings
        append (the commit point): every sidecar row then belongs to a
        committed batch, so folding them into one sentinel-keyed row
        is safe against any replay — a re-delivered committed batch
        never consults sidecar keys (its ids anti-join away first),
        and a crash mid-collapse heals via the dirswap.  The collapse
        sums the SIDECARS themselves — sidecar-sized work, never a
        postings scan."""
        n_files = len(list(dirswap.parquet_files(self.df_dir)))
        if n_files <= self.sidecar_compact_files:
            return

        # Materialize the sentinel + sums DRIVER-SIDE before any swap:
        # the stats frame is lazy, so re-evaluating it after
        # swap_publish has retired stats_dir would re-scan deleted file
        # paths (FileNotFoundException on a default session; silently
        # zero rows + a NULL sentinel under ignoreMissingFiles).  The
        # collapsed frames below are built purely from these literals.
        row = (
            spark.read.parquet(self.stats_dir)
            .agg(
                F.expr("bit_xor(__batch_key)").alias("__batch_key"),
                F.sum("__n_docs").cast("long").alias("__n_docs"),
                F.sum("__sum_dl").cast("long").alias("__sum_dl"),
            )
            .first()
        )
        key = F.lit(int(row["__batch_key"])).cast("long")
        stats = spark.range(1, numPartitions=1).select(
            key.alias("__batch_key"),
            F.lit(int(row["__n_docs"])).cast("long").alias("__n_docs"),
            F.lit(int(row["__sum_dl"])).cast("long").alias("__sum_dl"),
        )
        dirswap.swap_publish(
            self.stats_dir,
            lambda tmp: stats.write.mode("overwrite").parquet(tmp),
        )
        # the df collapse reads the OLD df_dir inside write_tmp (still
        # on disk until its own swap) and stamps the literal sentinel
        dfx = (
            spark.read.parquet(self.df_dir)
            .groupBy("__tok")
            .agg(F.sum("__df").cast("long").alias("__df"))
            .select(key.alias("__batch_key"), "__tok", "__df")
            .coalesce(1)
        )
        dirswap.swap_publish(
            self.df_dir,
            lambda tmp: dfx.write.mode("overwrite").parquet(tmp),
        )
