"""IdempotentParquetSink (r14 verdict item 4): the engine-owned sink
that closes the last at-least-once edge — sink callbacks under
whole-batch re-delivery and the crash-between-appends window."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming.dedup_stream import StreamingDedupIndex
from storm_dynamic_spout_spark.streaming.idempotent_sink import (
    IdempotentParquetSink,
)

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
DOC_B = "spark shuffles hash partitions across executors while catalyst optimizes plans"
DOC_C = "completely different text about training data pipelines and tokenizers here"


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(spark, sink):
    df = sink.rows(spark)
    return sorted((r["doc_id"], r["text"]) for r in df.collect()) if df is not None else []


def test_redelivered_batch_lands_once(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    batch = _docs_df(spark, [(0, DOC_A), (1, DOC_B)])
    sink(batch)
    first = _rows(spark, sink)
    assert [i for i, _ in first] == [0, 1]
    sink(batch)  # at-least-once re-delivery
    assert _rows(spark, sink) == first


def test_distinct_batches_both_land(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, [(0, DOC_A)]))
    sink(_docs_df(spark, [(1, DOC_B)]))
    assert [i for i, _ in _rows(spark, sink)] == [0, 1]


def test_duplicate_rows_do_not_cancel_the_key(spark, tmp_path):
    """The r13 BM25 lesson, pinned here too: a batch whose ids appear
    an even number of times must not XOR-fold to a colliding key — the
    key runs over DISTINCT ids."""
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, [(0, DOC_A), (0, DOC_A)]))  # even multiplicity
    assert [i for i, _ in _rows(spark, sink)] == [0, 0]
    sink(_docs_df(spark, [(1, DOC_B)]))
    assert [i for i, _ in _rows(spark, sink)] == [0, 0, 1]


def test_crashed_append_never_surfaces_after_reopen(spark, tmp_path):
    """A killed append can leave committed task output under
    ``_temporary/0/task_*/__batch_key=<k>/``.  Reopening the sink must
    drop it: the next append's job commit would otherwise publish the
    stale partition, and the guard would then skip its redelivery."""
    ref = IdempotentParquetSink(str(tmp_path / "ref"))
    ref(_docs_df(spark, [(0, DOC_A)]))
    (part_dir,) = [d for d in os.listdir(ref.out_dir) if "=" in d]
    out = str(tmp_path / "out")
    shutil.copytree(
        os.path.join(ref.out_dir, part_dir),
        os.path.join(out, "_temporary", "0", "task_0", part_dir),
    )
    sink = IdempotentParquetSink(out)
    sink(_docs_df(spark, [(1, DOC_B)]))
    assert [i for i, _ in _rows(spark, sink)] == [1]
    sink(_docs_df(spark, [(0, DOC_A)]))  # the crashed batch, redelivered
    assert [i for i, _ in _rows(spark, sink)] == [0, 1]


def test_empty_batch_is_a_noop(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, []))
    assert sink.rows(spark) is None


def test_crash_between_sink_and_state_append_redelivers_cleanly(
    spark, tmp_path
):
    """The end-to-end exactly-once scenario the helper exists for:
    drive the dedup stream with the engine sink, crash AFTER the sink
    append landed but BEFORE the index append (roll the index back),
    re-deliver the whole batch — the sink table must hold each unique
    doc exactly once and the state must complete."""
    index = StreamingDedupIndex(str(tmp_path / "dd"))
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    index.process_batch(_docs_df(spark, [(0, DOC_A), (1, DOC_B)]), sink)

    batch2 = _docs_df(spark, [(2, DOC_A_NEAR), (4, DOC_C)])
    idx_files_before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(index.index_dir)
        for f in fs
    }
    index.process_batch(batch2, sink)
    rows_after_first = _rows(spark, sink)
    assert [i for i, _ in rows_after_first] == [0, 1, 4]  # 2 is a dup of 0

    # crash window: the index append (the commit point) is lost
    for f in {
        os.path.join(r, f)
        for r, _, fs in os.walk(index.index_dir)
        for f in fs
    } - idx_files_before:
        os.remove(f)

    index.process_batch(batch2, sink)  # re-delivery completes the commit
    assert _rows(spark, sink) == rows_after_first, (
        "re-delivery duplicated sink rows"
    )
    idx_ids = {
        r["doc_id"] for r in index.index_df(spark).select("doc_id").collect()
    }
    assert idx_ids == {0, 1, 4}


def test_compact_folds_partitions_and_preserves_rows(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, [(0, DOC_A)]))
    sink(_docs_df(spark, [(1, DOC_B)]))
    before = _rows(spark, sink)
    n = sink.compact(spark, target_files=1)
    assert n == 2
    assert _rows(spark, sink) == before
    # the per-batch partition dirs fold into one keyed partition
    subdirs = [
        d
        for d in os.listdir(sink.out_dir)
        if os.path.isdir(os.path.join(sink.out_dir, d))
    ]
    assert len(subdirs) == 1 and subdirs[0].startswith("__batch_key=")


def test_deliveries_and_compactions_interleave_without_losing_rows(
    spark, tmp_path
):
    """Compaction keeps the keyed layout, so a delivery after it adds a
    partition next to the folded one and a second compaction keeps
    every row."""
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, [(0, DOC_A)]))
    assert sink.compact(spark) == 1
    sink(_docs_df(spark, [(1, DOC_B)]))
    assert [i for i, _ in _rows(spark, sink)] == [0, 1]
    assert sink.compact(spark) == 2
    assert [i for i, _ in _rows(spark, sink)] == [0, 1]


def test_constructor_heals_interrupted_compact_swap(spark, tmp_path):
    out = str(tmp_path / "out")
    sink = IdempotentParquetSink(out)
    sink(_docs_df(spark, [(0, DOC_A)]))
    before = _rows(spark, sink)
    # simulate a crash mid-swap: live dir renamed aside, nothing new
    token_dir = out + "-old-crashtoken"
    shutil.move(out, token_dir)
    healed = IdempotentParquetSink(out)
    assert _rows(spark, healed) == before
