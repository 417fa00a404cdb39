"""StreamingAnnIndex scenario coverage: cold start, per-batch matching
against the pre-batch index only, idempotent re-delivery, and growth
bookkeeping (the oracle-checked catalog entry `stream_ann_index`
covers values; these cover the multi-batch mechanics)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.engine import load_table
from storm_dynamic_spout_spark.streaming.ann_stream import StreamingAnnIndex

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def test_first_batch_produces_no_matches_but_indexes(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t1-"))
    batch = _emb(spark).limit(50)
    idx.process_batch(batch)
    assert idx.matches(spark) is None
    assert idx.index_df(spark).count() == 50


def test_crash_left_temporary_dir_reads_as_fresh_state(spark, tmp_path):
    """A killed first append leaves only ``_temporary/0/task_*/part-*``
    in the index dir.  Reopened, the index must read as empty, accept
    its first batch, and hold that batch exactly once: the file
    committer would otherwise publish the stale task file with the next
    append."""
    import glob
    import os
    import shutil

    batch = _emb(spark).limit(20)
    ref = StreamingAnnIndex(str(tmp_path / "ref"))
    ref.process_batch(batch)
    part = glob.glob(os.path.join(ref.index_dir, "part-*.parquet"))[0]
    workdir = str(tmp_path / "crashed")
    task_dir = os.path.join(
        workdir, "index", "_temporary", "0", "task_0000_m_000000"
    )
    os.makedirs(task_dir)
    shutil.copy(part, task_dir)
    idx = StreamingAnnIndex(workdir)
    assert idx.index_df(spark) is None
    idx.process_batch(batch)
    assert idx.matches(spark) is None
    assert idx.index_df(spark).count() == 20
    ids = {r["__id"] for r in idx.index_df(spark).select("__id").collect()}
    assert ids == {r["vec_id"] for r in batch.select("vec_id").collect()}


def test_second_batch_matches_only_against_prebatch_index(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t2-"))
    e = _emb(spark)
    idx.process_batch(e.filter(F.col("vec_id") < 100))
    idx.process_batch(e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)))
    m = idx.matches(spark)
    assert m is not None
    rows = m.collect()
    assert rows, "second batch found no same-bucket neighbors"
    # every query is from batch 2, every neighbor from batch 1
    assert all(r["query_id"] >= 100 for r in rows)
    assert all(r["neighbor_id"] < 100 for r in rows)
    # top-k contract: ranks are 1..k dense per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    assert all(len(v) <= idx.k for v in by_q.values())


def test_redelivered_batch_is_a_noop(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t3-"))
    e = _emb(spark)
    b1 = e.filter(F.col("vec_id") < 100)
    b2 = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    idx.process_batch(b1)
    idx.process_batch(b2)
    n_matches = idx.matches(spark).count()
    n_index = idx.index_df(spark).count()
    # at-least-once: the same batch arrives again
    idx.process_batch(b2)
    assert idx.matches(spark).count() == n_matches
    assert idx.index_df(spark).count() == n_index


def test_index_grows_by_unique_vectors_only(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t4-"))
    e = _emb(spark)
    idx.process_batch(e.filter(F.col("vec_id") < 100))
    # overlapping batch: 50 old + 50 new
    idx.process_batch(e.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 150)))
    assert idx.index_df(spark).count() == 150
    # overlapping ids never re-match themselves into the log
    m = idx.matches(spark)
    assert all(r["query_id"] >= 100 for r in m.collect())


def test_compact_index_preserves_matching(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t5-"))
    e = _emb(spark)
    idx.process_batch(e.filter(F.col("vec_id") < 60))
    idx.process_batch(e.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 120)))
    import os

    n_files_before = sum(
        f.endswith(".parquet") for f in os.listdir(idx.index_dir)
    )
    n = idx.compact_index(spark, target_files=1)
    assert n == 120
    n_files_after = sum(f.endswith(".parquet") for f in os.listdir(idx.index_dir))
    assert n_files_after < n_files_before
    # matching against the compacted index behaves identically
    before = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in idx.matches(spark).collect()
    }
    idx.process_batch(e.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 160)))
    after = idx.matches(spark)
    assert after.count() > len(before)
    new_rows = {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in after.collect()
    } - before
    assert all(q >= 120 and n2 < 120 for q, n2, _ in new_rows)


def test_crash_between_match_and_index_append_redelivers_cleanly(spark):
    """The round-14 guard (the bm25_stream pattern ported): a crash
    AFTER the match-log append but BEFORE the index append (the commit
    point) re-delivers the batch — the already-landed match partition
    is skipped via the batch-key dirname guard, and only the missing
    index append completes.  No duplicate match rows, index ids exactly
    the union of the batches."""
    import glob
    import os
    import shutil
    import tempfile

    from storm_dynamic_spout_spark.engine import load_table
    from storm_dynamic_spout_spark.streaming.ann_stream import StreamingAnnIndex

    workdir = tempfile.mkdtemp(prefix="ann-crash-")
    idx = StreamingAnnIndex(workdir)
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    b1 = e.filter(F.col("vec_id") < 30)
    b2 = e.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60))
    idx.process_batch(b1)
    files_after_b1 = set(glob.glob(os.path.join(idx.index_dir, "*.parquet")))
    idx.process_batch(b2)
    m_before = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
        for r in idx.matches(spark).collect()
    )
    assert m_before, "batch 2 found no neighbors?"
    # simulate the crash: roll the INDEX back to the pre-b2 state while
    # the match partition for b2 stays on disk
    for f in (
        set(glob.glob(os.path.join(idx.index_dir, "*.parquet")))
        - files_after_b1
    ):
        os.remove(f)
    assert idx.index_df(spark).select("__id").distinct().count() == 30

    idx.process_batch(b2)  # re-delivery completes the commit
    assert idx.index_df(spark).select("__id").distinct().count() == 60
    m_after = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
        for r in idx.matches(spark).collect()
    )
    assert m_after == m_before, "match rows duplicated on re-delivery"
    # and a THIRD delivery of the now-committed batch is a full no-op
    idx.process_batch(b2)
    assert idx.matches(spark).count() == len(m_before)
    assert idx.index_df(spark).count() == 60
    shutil.rmtree(workdir)
