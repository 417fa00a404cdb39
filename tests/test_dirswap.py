"""Crash-safety of the index compaction swap (streaming/dirswap.py):
every interruption state of swap_publish must heal on restart instead
of presenting a silently-empty index — the failure mode where a crash
between the two renames plus makedirs(exist_ok=True) on restart loses
the whole index while its data sits in an orphaned dir."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.engine import load_table
from storm_dynamic_spout_spark.streaming.ann_stream import StreamingAnnIndex
from storm_dynamic_spout_spark.streaming.dedup_stream import StreamingDedupIndex
from storm_dynamic_spout_spark.streaming.dirswap import (
    has_parquet,
    recover_interrupted_swap,
    swap_publish,
)

SF = "/root/testdata/sf0.001"


def _seed_index(spark, workdir):
    idx = StreamingAnnIndex(workdir)
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    idx.process_batch(emb.filter(F.col("vec_id") < 80))
    idx.process_batch(emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 120)))
    return idx


def test_crash_between_renames_recovers_from_old(spark):
    """State: live dir renamed away, tmp never promoted (the lethal
    window).  A restarted instance must restore the old dir, not start
    empty."""
    workdir = tempfile.mkdtemp(prefix="swap-t1-")
    idx = _seed_index(spark, workdir)
    n = idx.index_df(spark).count()
    # simulate: crash right after rename(live -> old); tmp was partial
    # (no _SUCCESS) so it must NOT be promoted
    os.rename(idx.index_dir, f"{idx.index_dir}-old-deadbeef")
    os.makedirs(f"{idx.index_dir}-compact-deadbeef")
    with open(f"{idx.index_dir}-compact-deadbeef/part-0.parquet", "wb") as fh:
        fh.write(b"partial garbage")
    reopened = StreamingAnnIndex(workdir)
    assert reopened.index_df(spark) is not None, "index lost after crash"
    assert reopened.index_df(spark).count() == n
    assert not os.path.exists(f"{idx.index_dir}-compact-deadbeef")


def test_crash_after_merge_complete_promotes_tmp(spark):
    """State: tmp fully written (_SUCCESS), live renamed away, second
    rename never ran — restart must promote the finished merge."""
    workdir = tempfile.mkdtemp(prefix="swap-t2-")
    idx = _seed_index(spark, workdir)
    n = idx.index_df(spark).count()
    merged = idx.index_df(spark).dropDuplicates(["__id"]).repartition(1)
    tmp = f"{idx.index_dir}-compact-cafebabe"
    merged.write.mode("overwrite").parquet(tmp)
    os.rename(idx.index_dir, f"{idx.index_dir}-old-cafebabe")
    reopened = StreamingAnnIndex(workdir)
    assert reopened.index_df(spark).count() == n
    assert not os.path.exists(f"{idx.index_dir}-old-cafebabe")


def test_completed_swap_leftovers_are_cleaned(spark):
    """State: swap finished but rmtree(old) didn't run — live dir wins,
    stale orphans removed."""
    workdir = tempfile.mkdtemp(prefix="swap-t3-")
    idx = _seed_index(spark, workdir)
    n = idx.compact_index(spark)
    stale = f"{idx.index_dir}-old-0badf00d"
    shutil.copytree(idx.index_dir, stale)
    reopened = StreamingAnnIndex(workdir)
    assert reopened.index_df(spark).count() == n
    assert not os.path.exists(stale)


def test_dedup_index_compaction_is_crash_safe(spark):
    """Same recovery contract on the dedup signature index."""
    workdir = tempfile.mkdtemp(prefix="swap-t4-")
    idx = StreamingDedupIndex(workdir)
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(80)
    idx.process_batch(docs, lambda df: df.count())
    n = idx.index_df(spark).count()
    os.rename(idx.index_dir, f"{idx.index_dir}-old-feedface")
    reopened = StreamingDedupIndex(workdir)
    assert reopened.index_df(spark) is not None, "index lost after crash"
    assert reopened.index_df(spark).count() == n


def test_swap_publish_roundtrip_without_spark(tmp_path):
    """Pure-filesystem contract: publish replaces the live dir and
    removes both working dirs."""
    live = str(tmp_path / "idx")
    os.makedirs(live)
    with open(os.path.join(live, "a.parquet"), "w") as fh:
        fh.write("v1")

    def write_tmp(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "b.parquet"), "w") as fh:
            fh.write("v2")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    swap_publish(live, write_tmp)
    assert sorted(os.listdir(live)) == ["_SUCCESS", "b.parquet"]
    assert recover_interrupted_swap(live) is None


def _touch(path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "w").close()


def test_partitioned_live_dir_with_complete_old_heals(tmp_path):
    """State: a partitioned output compaction (Firehose.compact_output,
    DynamicStreamApp.optimize_output) crashed between the second rename
    and rmtree(old).  The live dir holds data only inside partition
    dirs; reopening must keep it and delete the complete orphan."""
    live = str(tmp_path / "out")
    old = f"{live}-old-deadbeef"
    for d in (live, old):
        part = os.path.join(d, "event_date=2026-01-01", "route_id=firehose")
        _touch(os.path.join(part, "part-0.parquet"))
        _touch(os.path.join(d, "_SUCCESS"))
    assert recover_interrupted_swap(live) is None
    assert not os.path.exists(old)
    assert has_parquet(live)


def test_has_parquet_lists_what_spark_lists(tmp_path):
    """Presence follows Spark's file index: hidden ``_``/``.`` paths are
    pruned, ``name=value`` partition dirs (even ``__batch_key=``) are
    walked."""
    d = str(tmp_path / "state")
    assert not has_parquet(d)  # missing dir
    _touch(os.path.join(d, "_temporary", "0", "task_0", "part-0.parquet"))
    _touch(os.path.join(d, ".hidden", "part-0.parquet"))
    _touch(os.path.join(d, ".part-0.parquet"))
    _touch(os.path.join(d, "_SUCCESS"))
    assert not has_parquet(d)
    _touch(os.path.join(d, "__batch_key=-7", "part-0.parquet"))
    assert has_parquet(d)


def test_heal_deletes_a_crashed_appends_temporary_dir(tmp_path):
    """A crashed append leaves committed task output under
    ``_temporary/``; the next append's job commit would publish it.
    Heal-on-open deletes it and keeps the live data."""
    live = str(tmp_path / "log")
    _touch(os.path.join(live, "__batch_key=3", "part-0.parquet"))
    _touch(os.path.join(live, "_temporary", "0", "task_0", "part-1.parquet"))
    assert recover_interrupted_swap(live) is None
    assert os.listdir(live) == ["__batch_key=3"]
