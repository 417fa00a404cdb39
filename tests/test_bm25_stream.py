"""StreamingBm25Index scenario coverage: cold start, per-batch scoring
against the pre-batch postings only, idempotent re-delivery, growth
bookkeeping, and statistics-as-of-batch semantics (the oracle-checked
catalog entry `stream_bm25_index` covers values; these cover the
multi-batch mechanics) — mirroring tests/test_ann_stream.py."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.engine import load_table
from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index
from storm_dynamic_spout_spark.streaming.dirswap import batch_key

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def test_first_batch_produces_no_matches_but_indexes(spark):
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t1-"))
    idx.process_batch(_docs(spark).filter(F.col("doc_id") < 20))
    assert idx.matches(spark) is None
    pos = idx.postings_df(spark)
    assert pos.select("__id").distinct().count() == 20
    # one postings row per (doc, distinct token), tf >= 1
    assert pos.filter(F.col("__tf") < 1).count() == 0


def test_second_batch_matches_only_against_prebatch_postings(spark):
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t2-"))
    d = _docs(spark)
    idx.process_batch(d.filter(F.col("doc_id") < 20))
    idx.process_batch(d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)))
    m = idx.matches(spark)
    assert m is not None
    rows = m.collect()
    assert rows, "second batch found no shared-token neighbors"
    # every query is from batch 2, every scored doc from batch 1
    assert all(r["query_id"] >= 20 for r in rows)
    assert all(r["doc_id"] < 20 for r in rows)
    # top-k contract: ranks are 1..k dense per query, scores
    # non-increasing in rank
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["score"]))
    for v in by_q.values():
        v.sort()
        assert [r for r, _ in v] == list(range(1, len(v) + 1))
        assert len(v) <= idx.k
        scores = [s for _, s in v]
        assert scores == sorted(scores, reverse=True)


def test_redelivered_batch_is_a_noop(spark):
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t3-"))
    d = _docs(spark)
    b1 = d.filter(F.col("doc_id") < 20)
    b2 = d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
    idx.process_batch(b1)
    idx.process_batch(b2)
    n_matches = idx.matches(spark).count()
    n_postings = idx.postings_df(spark).count()
    # at-least-once: the same batch arrives again
    idx.process_batch(b2)
    assert idx.matches(spark).count() == n_matches
    assert idx.postings_df(spark).count() == n_postings


def test_index_grows_by_unique_documents_only(spark):
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t4-"))
    d = _docs(spark)
    idx.process_batch(d.filter(F.col("doc_id") < 20))
    # overlapping batch: 10 old + 10 new
    idx.process_batch(d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 30)))
    assert idx.postings_df(spark).select("__id").distinct().count() == 30
    # overlapping ids never re-match themselves into the log
    m = idx.matches(spark)
    assert all(r["query_id"] >= 20 for r in m.collect())


def test_idf_reflects_prebatch_index_only(spark):
    """The statistics-as-of-batch contract: the same query document
    arriving when the index holds 10 docs vs 30 docs must score
    against DIFFERENT idf/avgdl (N grew), so the two match logs for
    the same (query, doc) pair generally differ — the index is not a
    frozen-corpus scorer."""
    d = _docs(spark)
    probe = d.filter(F.col("doc_id") == 45)

    one = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t5a-"))
    one.process_batch(d.filter(F.col("doc_id") < 10))
    one.process_batch(probe)
    two = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t5b-"))
    two.process_batch(d.filter(F.col("doc_id") < 30))
    two.process_batch(probe)

    s1 = {(r["doc_id"], r["score"]) for r in one.matches(spark).collect()}
    s2 = {(r["doc_id"], r["score"]) for r in two.matches(spark).collect()}
    shared_docs = {i for i, _ in s1} & {i for i, _ in s2}
    assert shared_docs, "probe doc shares no tokens across both runs?"
    # at least one shared doc scores differently under the grown stats
    assert any(
        s1_score != s2_score
        for i in shared_docs
        for _, s1_score in [next(p for p in s1 if p[0] == i)]
        for _, s2_score in [next(p for p in s2 if p[0] == i)]
    )


def test_compact_index_preserves_matching(spark):
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t6-"))
    d = _docs(spark)
    idx.process_batch(d.filter(F.col("doc_id") < 15))
    idx.process_batch(d.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 30)))
    import os

    n_files_before = sum(
        f.endswith(".parquet") for f in os.listdir(idx.postings_dir)
    )
    n_rows = idx.postings_df(spark).count()
    assert idx.compact_index(spark, target_files=1) == n_rows
    n_files_after = sum(
        f.endswith(".parquet") for f in os.listdir(idx.postings_dir)
    )
    assert n_files_after < n_files_before
    # matching against the compacted postings behaves identically
    before = {
        (r["query_id"], r["doc_id"], r["rank"])
        for r in idx.matches(spark).collect()
    }
    idx.process_batch(d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)))
    after = idx.matches(spark)
    assert after.count() > len(before)
    new_rows = {
        (r["query_id"], r["doc_id"], r["rank"]) for r in after.collect()
    } - before
    assert all(q >= 30 and n2 < 30 for q, n2, _ in new_rows)


def _sidecar_equals_postings_derived(spark, idx):
    """The sidecar-sum statistics must equal what a full postings scan
    would derive — the invariant the round-13 incremental-stats design
    rests on."""
    pos = idx.postings_df(spark)
    want_stats = (
        pos.select("__id", "__dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n_docs"),
            F.sum("__dl").cast("long").alias("__sum_dl"),
        )
        .first()
    )
    got_stats = idx.sidecar_stats(spark).first()
    assert (got_stats["__n_docs"], got_stats["__sum_dl"]) == (
        want_stats["__n_docs"],
        want_stats["__sum_dl"],
    )
    want_df = {
        (r["__tok"], r["__df"])
        for r in pos.groupBy("__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__df"))
        .collect()
    }
    got_df = {(r["__tok"], r["__df"]) for r in idx.sidecar_df(spark).collect()}
    assert got_df == want_df


def test_sidecar_tracks_postings_across_batches_and_compaction(spark):
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t7-"))
    d = _docs(spark)
    idx.process_batch(d.filter(F.col("doc_id") < 15))
    _sidecar_equals_postings_derived(spark, idx)
    # overlapping batch: only the NEW half may enter the sidecar
    idx.process_batch(d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 30)))
    _sidecar_equals_postings_derived(spark, idx)
    # compaction collapses the per-batch delta rows to one, same sums
    idx.compact_index(spark, target_files=1)
    import pyspark.sql.functions as _F  # noqa: F401

    assert spark.read.parquet(idx.stats_dir).count() == 1
    _sidecar_equals_postings_derived(spark, idx)
    # and the index keeps working incrementally after the rebuild
    idx.process_batch(d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)))
    _sidecar_equals_postings_derived(spark, idx)


def test_crash_before_postings_commit_redelivers_without_duplicates(spark):
    """The mid-batch crash window the round-12 advice flagged: matches
    and sidecar deltas landed but the postings append (the commit
    point) did not.  Re-delivery must complete exactly the missing
    postings append — no duplicate match rows, no double-counted
    sidecar deltas."""
    import glob
    import os
    import shutil

    workdir = tempfile.mkdtemp(prefix="bm25-t8-")
    idx = StreamingBm25Index(workdir)
    d = _docs(spark)
    b1 = d.filter(F.col("doc_id") < 20)
    b2 = d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
    idx.process_batch(b1)
    pos_files_after_b1 = set(glob.glob(os.path.join(idx.postings_dir, "*.parquet")))
    idx.process_batch(b2)

    m_before = sorted(
        (r["query_id"], r["doc_id"], r["rank"], r["score"])
        for r in idx.matches(spark).collect()
    )
    stats_before = idx.sidecar_stats(spark).first()

    # simulate the crash: roll the postings back to the pre-b2 state
    for f in set(glob.glob(os.path.join(idx.postings_dir, "*.parquet"))) - pos_files_after_b1:
        os.remove(f)
    assert idx.postings_df(spark).select("__id").distinct().count() == 20

    # re-delivery heals: postings complete, nothing else duplicated
    idx.process_batch(b2)
    assert idx.postings_df(spark).select("__id").distinct().count() == 40
    m_after = sorted(
        (r["query_id"], r["doc_id"], r["rank"], r["score"])
        for r in idx.matches(spark).collect()
    )
    assert m_after == m_before
    stats_after = idx.sidecar_stats(spark).first()
    assert (stats_after["__n_docs"], stats_after["__sum_dl"]) == (
        stats_before["__n_docs"],
        stats_before["__sum_dl"],
    )
    _sidecar_equals_postings_derived(spark, idx)
    shutil.rmtree(workdir)


def test_probe_plan_reads_sidecar_not_postings_for_stats(spark):
    """Scale guard: with injected sidecar statistics the probe plan
    must scan the postings exactly once (the probe join) — the
    pre-round-13 plan scanned them three times (probe + N/Σdl recount
    + df recount)."""
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t9-"))
    d = _docs(spark)
    idx.process_batch(d.filter(F.col("doc_id") < 20))
    from storm_dynamic_spout_spark.streaming.bm25_stream import (
        score_against_postings,
    )

    seen = idx.postings_df(spark)
    q = (
        d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 25))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split("text", r"\s+")).alias("__tok"),
        )
        .distinct()
    )
    plan = (
        score_against_postings(
            seen,
            q,
            stats=idx.sidecar_stats(spark),
            dfx=idx.sidecar_df(spark),
            broadcast_query=True,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count(idx.postings_dir) == 1, plan


def test_sidecar_auto_collapse_keeps_invariants(spark):
    """With a tiny collapse threshold, many small batches must keep the
    df sidecar's file count bounded while the sidecar sums stay equal
    to the postings-derived statistics — and scoring keeps working."""
    import glob
    import os

    idx = StreamingBm25Index(
        tempfile.mkdtemp(prefix="bm25-t10-"), sidecar_compact_files=2
    )
    d = _docs(spark)
    for k in range(6):
        idx.process_batch(d.filter(F.col("doc_id") % 6 == k))
        _sidecar_equals_postings_derived(spark, idx)
    n_df_files = len(glob.glob(os.path.join(idx.df_dir, "*.parquet")))
    assert n_df_files <= 3, f"sidecar never collapsed: {n_df_files} files"
    # the match log kept growing across the collapses
    assert idx.matches(spark).count() > 0
    # and a redelivered batch is still a full no-op
    n = idx.matches(spark).count()
    idx.process_batch(d.filter(F.col("doc_id") % 6 == 5))
    assert idx.matches(spark).count() == n


def test_batch_key_uses_distinct_ids_not_postings_rows(spark):
    """Round-13 advice regression: the batch key must xor DISTINCT doc
    ids.  The old key xored the per-(doc, token) postings rows, so any
    doc with an even distinct-token count folded in an even number of
    times and cancelled to 0 — two unrelated single-doc batches both
    keyed to 0, and the second batch's sidecar/match appends were
    silently skipped via the _landed guard while its postings landed,
    permanently corrupting N/Σdl/df."""
    idx = StreamingBm25Index(tempfile.mkdtemp(prefix="bm25-t11-"))
    # two different docs, each with exactly 2 distinct tokens (even)
    b1 = spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string")
    b2 = spark.createDataFrame([(2, "alpha gamma")], "doc_id int, text string")
    k1 = batch_key(idx._prepared(b1), "__id")
    k2 = batch_key(idx._prepared(b2), "__id")
    assert k1 != k2, "even-token-count batches collided on the batch key"
    idx.process_batch(b1)
    idx.process_batch(b2)
    # BOTH batches' sidecar deltas landed (old code dropped batch 2's)
    stats = idx.sidecar_stats(spark).first()
    assert stats["__n_docs"] == 2
    assert stats["__sum_dl"] == 4
    dfx = {(r["__tok"], r["__df"]) for r in idx.sidecar_df(spark).collect()}
    assert dfx == {("alpha", 2), ("beta", 1), ("gamma", 1)}
    # and batch 2's match rows landed (doc 2 shares "alpha" with doc 1)
    m = idx.matches(spark)
    assert m is not None and m.count() >= 1
    _sidecar_equals_postings_derived(spark, idx)


def test_sidecar_collapse_writes_real_sentinel_key(spark):
    """Round-13 advice regression: the collapse used to re-evaluate the
    lazy stats plan AFTER swap_publish had retired stats_dir — under
    ignoreMissingFiles (our session default) the re-scan silently
    returned zero rows and tagged the collapsed df sidecar with a NULL
    __batch_key.  The sentinel must be materialized before the swap:
    both collapsed sidecars carry the same non-NULL key."""
    idx = StreamingBm25Index(
        tempfile.mkdtemp(prefix="bm25-t12-"), sidecar_compact_files=2
    )
    d = _docs(spark)
    for k in range(5):
        idx.process_batch(d.filter(F.col("doc_id") % 5 == k))
    stats_rows = spark.read.parquet(idx.stats_dir).collect()
    df_keys = {
        r["__batch_key"]
        for r in spark.read.parquet(idx.df_dir)
        .select("__batch_key")
        .distinct()
        .collect()
    }
    assert all(r["__batch_key"] is not None for r in stats_rows)
    assert None not in df_keys, "collapsed df sidecar carries a NULL key"
    # the collapsed rows share the sentinel: every df key is a stats key
    assert df_keys <= {r["__batch_key"] for r in stats_rows}
    _sidecar_equals_postings_derived(spark, idx)


def test_resume_pre_sidecar_workdir_heals_from_postings(spark):
    """Round-13 advice regression: a workdir written by the
    pre-round-13 layout (postings present, sidecar dirs empty) must be
    resumable — the heal path rebuilds both sidecars from the postings
    ground truth before the first probe, instead of failing on an
    empty-directory parquet read."""
    import os
    import shutil

    workdir = tempfile.mkdtemp(prefix="bm25-t13-")
    idx = StreamingBm25Index(workdir)
    d = _docs(spark)
    idx.process_batch(d.filter(F.col("doc_id") < 15))
    idx.process_batch(d.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 30)))
    want = idx.sidecar_stats(spark).first()
    # simulate the old layout: postings + matches present, sidecars empty
    for dpath in (idx.stats_dir, idx.df_dir):
        shutil.rmtree(dpath)
        os.makedirs(dpath)

    resumed = StreamingBm25Index(workdir)
    got = resumed.sidecar_stats(spark).first()
    assert (got["__n_docs"], got["__sum_dl"]) == (
        want["__n_docs"],
        want["__sum_dl"],
    )
    _sidecar_equals_postings_derived(spark, resumed)
    # and the resumed index keeps working incrementally
    n = resumed.matches(spark).count()
    resumed.process_batch(
        d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    )
    assert resumed.matches(spark).count() > n
    _sidecar_equals_postings_derived(spark, resumed)
    shutil.rmtree(workdir)
