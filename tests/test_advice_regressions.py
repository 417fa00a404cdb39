"""Regression tests for the round-1 ADVICE findings.

Each test pins one of the five adjudicated defects:
1. FilterChain three-valued logic: NULL predicate rows must be KEPT
   (reference FilterChainStep returns primitive boolean, never null),
   and keep()/drop() must partition every row exactly once.
2. Sideline replay must agree with the firehose on NULL-predicate rows
   (delivered by exactly one path, never zero).
3. RetryTableRunner must classify every candidate row ok-or-failed even
   when the failure predicate evaluates to NULL.
4. Building SINK_SCHEMA / retry schemas must not mutate the shared
   TOPIC_SCHEMA (StructType.add mutates in place).
5. FileTopic.append crash between data write and offset persist must not
   reassign offsets (no duplicate (partition, offset) rows ever).
6. FileWatchTrigger.poll must quarantine a bad event instead of crashing
   the firehose and crash-looping on restart.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.streaming import FileTopic
from storm_dynamic_spout_spark.streaming.file_topic import TOPIC_SCHEMA
from storm_dynamic_spout_spark.streaming.filter_chain import FilterChain
from storm_dynamic_spout_spark.streaming.retry import (
    NeverRetryPolicy,
    RetryTableRunner,
)
from storm_dynamic_spout_spark.streaming.sideline import (
    FileWatchTrigger,
    SidelineController,
    SidelineRequest,
    SidelineType,
    TriggerEvent,
)


def _topic_with_null_key(tmp_path, name="t"):
    topic = FileTopic(str(tmp_path / name), num_partitions=2)
    topic.append([("tenant-x", "a"), ("tenant-y", "b"), (None, "null-key-row")])
    return topic


# -- 1. FilterChain NULL three-valued logic ---------------------------------


def test_filter_chain_null_predicate_rows_are_kept(spark, tmp_path):
    topic = _topic_with_null_key(tmp_path)
    df = topic.read(spark)
    chain = FilterChain({"s1": "key = 'tenant-x'"})  # NULL for null-key rows

    kept = chain.keep(df)
    dropped = chain.drop(df)

    # exact partition: every input row goes to exactly one side
    assert kept.count() + dropped.count() == df.count() == 3
    # the NULL-predicate row is kept (not dropped), like the reference's
    # primitive-boolean FilterChainStep
    assert [r["value"] for r in kept.collect()] != []
    assert "null-key-row" in {r["value"] for r in kept.collect()}
    assert {r["value"] for r in dropped.collect()} == {"a"}


# -- 2. firehose + sideline replay partition NULL rows exactly once ---------


def test_sideline_replay_excludes_null_predicate_rows(spark, tmp_path):
    from storm_dynamic_spout_spark.streaming.app import DynamicStreamApp

    app = DynamicStreamApp(
        spark, str(tmp_path / "t"), str(tmp_path / "w"), num_partitions=2
    )
    app.produce([("tenant-x", "a"), ("tenant-y", "b"), (None, "null-key-row")])
    topic, ctl = app.topic, app.controller

    # START before any rows existed would need an empty topic; here the
    # window (start=-1, end=latest] covers all three rows
    payload = ctl.start(SidelineRequest("s1", "key = 'tenant-x'"))
    payload.start_offsets = {p: -1 for p in range(topic.num_partitions)}
    ctl.persistence.persist(payload)

    # firehose view while the sideline filter is ACTIVE
    firehose_rows = {r["value"] for r in ctl.chain.keep(topic.read(spark)).collect()}

    ctl.resume("s1")
    ctl.resolve("s1")
    replay_rows = {r["value"] for r in ctl.replay_df(spark, "s1").collect()}

    # the null-key row flows through the firehose, NOT the replay;
    # together they deliver every row exactly once
    assert "null-key-row" in firehose_rows
    assert replay_rows == {"a"}
    assert firehose_rows | replay_rows == {"a", "b", "null-key-row"}
    assert firehose_rows & replay_rows == set()

    # the streaming replay over the same window delivers the same set
    q = app.start_replay_stream("s1")
    try:
        q.processAllAvailable()
    finally:
        app.close()
    stream_rows = [
        r["value"] for r in app.output().filter("route_id = 'sideline-s1'").collect()
    ]
    assert sorted(stream_rows) == sorted(replay_rows)


# -- 3. retry classification under NULL failure predicate -------------------


def test_retry_runner_null_failure_condition_routes_to_ok(spark, tmp_path):
    runner = RetryTableRunner(
        retries_dir=str(tmp_path / "retries"),
        dlq_dir=str(tmp_path / "dlq"),
        policy=NeverRetryPolicy(),
        failure_condition_sql="value = 'boom'",  # NULL for null value
    )
    batch = spark.createDataFrame(
        [("k1", "ok"), ("k2", "boom"), ("k3", None)],
        "key string, value string",
    )
    sunk = []
    runner.process_batch(batch, now_ms=0, sink=lambda df: sunk.extend(df.collect()))

    ok_keys = {r["key"] for r in sunk}
    dlq_keys = {r["key"] for r in runner.dlq(spark, batch).collect()}
    # every row classified: NULL-predicate row is ok, not vanished
    assert ok_keys == {"k1", "k3"}
    assert dlq_keys == {"k2"}


# -- 4. shared schema objects are never mutated -----------------------------


def test_topic_schema_not_mutated_by_imports_or_retry(spark, tmp_path):
    # importing the firehose module builds SINK_SCHEMA; must not grow TOPIC_SCHEMA
    import storm_dynamic_spout_spark.streaming.firehose as firehose_mod

    assert [f.name for f in TOPIC_SCHEMA.fields] == [
        "partition",
        "offset",
        "key",
        "value",
        "timestamp",
    ]
    assert [f.name for f in firehose_mod.SINK_SCHEMA.fields][-2:] == [
        "route_id",
        "event_date",
    ]

    # retry dlq()/load must not mutate the caller DataFrame's schema
    runner = RetryTableRunner(
        retries_dir=str(tmp_path / "r"),
        dlq_dir=str(tmp_path / "d"),
        policy=NeverRetryPolicy(),
        failure_condition_sql="false",
    )
    like = spark.createDataFrame([("a", "b")], "key string, value string")
    before = [f.name for f in like.schema.fields]
    runner.dlq(spark, like)
    assert [f.name for f in like.schema.fields] == before


# -- 5. append crash-safety: offsets are burned before data is visible ------


def _all_rows(spark, topic):
    return {
        (r["partition"], r["offset"], r["value"])
        for r in topic.read(spark).collect()
    }


def test_append_crash_after_intent_publishes_batch_once(spark, tmp_path):
    root = str(tmp_path / "t")
    topic = FileTopic(root, num_partitions=2)
    topic.append([("a", "v0")])

    # simulate a crash between intent-persist and rename: write the tmp
    # file + intent meta by hand (what append does before the rename)
    import pyarrow as pa
    import pyarrow.parquet as pq
    from storm_dynamic_spout_spark.streaming.file_topic import _ARROW_SCHEMA

    meta = json.loads(open(os.path.join(root, "_topic.json")).read())
    p = 0
    off = meta["next_offsets"][str(p)]
    tmp_name = f".tmp-batch-{meta['batch_seq']:08d}.parquet"
    final_name = f"batch-{meta['batch_seq']:08d}.parquet"
    table = pa.Table.from_pydict(
        {
            "partition": pa.array([p], pa.int32()),
            "offset": pa.array([off], pa.int64()),
            "key": pa.array(["a"], pa.string()),
            "value": pa.array(["v1-recovered"], pa.string()),
            "timestamp": pa.array([meta["clock_us"] + 1000], pa.timestamp("us")),
        },
        schema=_ARROW_SCHEMA,
    )
    pq.write_table(table, os.path.join(root, "data", tmp_name))
    meta["next_offsets"][str(p)] = off + 1
    meta["batch_seq"] += 1
    meta["pending_batch"] = {"tmp": tmp_name, "final": final_name}
    with open(os.path.join(root, "_topic.json"), "w") as f:
        json.dump(meta, f)

    # reopen = crash recovery: the intent is re-run, the batch publishes
    reopened = FileTopic(root, num_partitions=2)
    rows = _all_rows(spark, reopened)
    assert ("v1-recovered" in {v for (_, _, v) in rows})

    # further appends continue AFTER the burned offset: no duplicates
    reopened.append([("a", "v2")])
    rows = _all_rows(spark, reopened)
    offsets = [(pt, o) for (pt, o, _) in rows]
    assert len(offsets) == len(set(offsets)), "duplicate (partition, offset)!"


def test_append_crash_before_intent_sweeps_orphan(spark, tmp_path):
    root = str(tmp_path / "t")
    topic = FileTopic(root, num_partitions=2)
    topic.append([("a", "v0")])

    # crash BEFORE the intent: orphan tmp file, offsets unclaimed
    orphan = os.path.join(root, "data", ".tmp-batch-99999999.parquet")
    with open(orphan, "wb") as f:
        f.write(b"garbage")

    reopened = FileTopic(root, num_partitions=2)
    assert not os.path.exists(orphan)
    # the orphan's rows never became visible; offsets were never burned
    assert {v for (_, _, v) in _all_rows(spark, reopened)} == {"v0"}


# -- 6. trigger poll quarantines bad events ---------------------------------


def test_trigger_poll_survives_bad_event_and_does_not_loop(spark, tmp_path):
    topic = FileTopic(str(tmp_path / "t"), num_partitions=2)
    chain = FilterChain()
    ctl = SidelineController(topic, chain, str(tmp_path / "state"))
    trig = FileWatchTrigger(str(tmp_path / "events"), ctl)

    # event 0: RESUME of an unknown id (raises KeyError inside dispatch)
    trig.publish(TriggerEvent(SidelineType.RESUME, "nope", ""), name="event-000000.json")
    # event 1: a valid START that must still dispatch after the bad one
    trig.publish(
        TriggerEvent(SidelineType.START, "good", "key = 'x'"),
        name="event-000001.json",
    )

    n = trig.poll()  # must not raise
    assert n == 1
    assert chain.has_step("good")

    # the bad event is quarantined: marked processed with the error
    bad = json.load(open(os.path.join(str(tmp_path / "events"), "event-000000.json")))
    assert bad["processed"] is True
    assert "KeyError" in bad["error"]

    # no crash loop: a second poll re-dispatches nothing
    assert trig.poll() == 0


# -- 7. r8 advice: lazy-checkpoint determinism precondition ------------------


def test_lazy_checkpoint_rejects_nondeterministic_plan(spark):
    """A lazy checkpoint computes on first action, so concurrent
    consumers of a nondeterministic subtree could observe divergent
    data; the helper refuses it and accepts the eager form."""
    df = spark.range(10).withColumn("r", F.rand(7))
    with pytest.raises(ValueError, match="nondeterministic"):
        local_checkpoint(df)
    assert local_checkpoint(df, eager=True).count() == 10


def test_local_checkpoint_helper_is_the_only_materialization_site():
    """Every checkpoint in the package goes through the determinism
    check: no ``.localCheckpoint(...)`` call outside the helper."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "storm_dynamic_spout_spark"
    helper = pkg / "operators" / "checkpoint.py"
    raw = [
        f"{py.relative_to(pkg)}:{node.lineno}"
        for py in sorted(pkg.rglob("*.py"))
        if py != helper
        for node in ast.walk(ast.parse(py.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert not raw, "raw localCheckpoint calls: " + ", ".join(raw)
