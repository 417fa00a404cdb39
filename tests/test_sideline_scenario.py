"""Sideline E2E scenario on a file-backed stream — the reference's
canonical functional test re-expressed (SidelineSpoutTest
.doTestWithSidelining, SidelineSpoutTest.java:114-204):

produce → consume → START (filter) → produce → assert nothing filtered
emitted → RESUME → RESOLVE → assert exactly the skipped subset arrives
via the sideline replay → produce more → assert live flow resumed.

Also covers: retry-table routing to the DLQ (T4-T7/S7), startup
reconciliation (T11), bounded replay windows (read_range), and the
merge operator (M1).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming import (
    ExponentialBackoffRetryPolicy,
    FileTopic,
    FileWatchTrigger,
    FilterChain,
    Firehose,
    SidelineController,
    SidelineRequest,
    SidelineType,
    TriggerEvent,
    merge_routes,
    schedule_failures,
    split_due,
    split_exhausted,
)


@pytest.fixture()
def topic(tmp_path):
    return FileTopic(str(tmp_path / "topic"), num_partitions=4)


@pytest.fixture()
def controller(tmp_path, topic):
    return SidelineController(topic, FilterChain(), str(tmp_path / "state"))


def _values(df, col="value"):
    return sorted(r[col] for r in df.collect())


def test_file_topic_offsets_and_range(spark, topic):
    topic.append([("k1", "a"), ("k2", "b"), ("k1", "c")])
    snap1 = topic.latest_offsets()
    topic.append([("k1", "d"), ("k3", "e")])
    snap2 = topic.latest_offsets()
    all_rows = topic.read(spark)
    assert all_rows.count() == 5
    # per-partition offsets are contiguous from 0
    per_part = {
        (r["partition"], r["offset"]) for r in all_rows.collect()
    }
    assert len(per_part) == 5
    # bounded window (snap1, snap2] returns exactly the second batch
    window = topic.read_range(spark, start_offsets=snap1, end_offsets=snap2)
    assert _values(window) == ["d", "e"]
    # unbounded start → everything
    assert topic.read_range(spark, start_offsets=None, end_offsets=snap2).count() == 5


def test_sideline_full_narrative(spark, tmp_path, topic, controller):
    fh = Firehose(
        spark,
        topic,
        controller,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # 1. produce 3, consume 3 (mixed tenants; 'tenant-x' is the sidelined one)
    topic.append([("tenant-x", "x1"), ("tenant-a", "a1"), ("tenant-b", "b1")])
    fh.start()
    fh.process_all_available()
    assert _values(fh.output()) == ["a1", "b1", "x1"]

    # 2. START: filter tenant-x from the firehose
    controller.start(SidelineRequest("sx", "key = 'tenant-x'"))

    # 3. produce 3 more (2 filtered, 1 live) → only the live one emitted
    topic.append([("tenant-x", "x2"), ("tenant-x", "x3"), ("tenant-a", "a2")])
    fh.process_all_available()
    assert _values(fh.output()) == ["a1", "a2", "b1", "x1"]

    # 4. RESUME: replay consumes the negated filter from the start snapshot
    controller.resume("sx")
    replay = controller.replay_df(spark, "sx")
    assert _values(replay) == ["x2", "x3"]

    # 5. RESOLVE: firehose filter removed; replay window now bounded
    payload = controller.resolve("sx")
    assert payload.type is SidelineType.RESOLVE
    # exactly the skipped subset — no duplicates of x1 (pre-START), no live rows
    assert _values(controller.replay_df(spark, "sx")) == ["x2", "x3"]

    # 6. produce more for the formerly-filtered tenant → live flow resumed
    topic.append([("tenant-x", "x4"), ("tenant-b", "b2")])
    fh.process_all_available()
    assert _values(fh.output()) == ["a1", "a2", "b1", "b2", "x1", "x4"]

    # post-RESOLVE rows are NOT in the bounded replay window
    assert _values(controller.replay_df(spark, "sx")) == ["x2", "x3"]
    controller.complete("sx")
    assert controller.persistence.retrieve("sx") is None
    fh.stop()


def test_sideline_trigger_events_drive_state_machine(spark, tmp_path, topic, controller):
    trig = FileWatchTrigger(str(tmp_path / "events"), controller)
    trig.publish(TriggerEvent(SidelineType.START, "s1", "key = 'k-bad'"))
    assert trig.poll() == 1
    assert controller.chain.has_step("s1")
    # replaying poll() is idempotent (events marked processed)
    assert trig.poll() == 0
    topic.append([("k-bad", "bad1"), ("k-ok", "ok1")])
    trig.publish(TriggerEvent(SidelineType.RESUME, "s1", ""))
    trig.publish(TriggerEvent(SidelineType.RESOLVE, "s1", ""))
    assert trig.poll() == 2
    assert _values(controller.replay_df(spark, "s1")) == ["bad1"]


def test_reconciliation_reapplies_filters(tmp_path, topic):
    state_dir = str(tmp_path / "state")
    c1 = SidelineController(topic, FilterChain(), state_dir)
    c1.start(SidelineRequest("keep-filtering", "key = 'a'"))
    c1.start(SidelineRequest("replaying", "key = 'b'"))
    c1.resume("replaying")
    c1.start(SidelineRequest("resolved", "key = 'c'"))
    c1.resolve("resolved")
    # engine restart: fresh controller, empty chain
    c2 = SidelineController(topic, FilterChain(), state_dir)
    to_replay = c2.load_sidelines()
    assert c2.chain.has_step("keep-filtering")  # START → filter re-applied
    assert c2.chain.has_step("replaying")  # RESUME → filter stays + replay
    assert not c2.chain.has_step("resolved")  # RESOLVE → filter removed
    assert sorted(p.id for p in to_replay) == ["replaying", "resolved"]


def test_start_rejects_a_sideline_still_resolving(spark, topic, controller):
    """A second START before complete() must not overwrite the RESOLVE
    payload: that would drop the window the replay still owes."""
    topic.append([("tenant-x", "x1")])
    controller.start(SidelineRequest("s1", "key = 'tenant-x'"))
    topic.append([("tenant-x", "x2"), ("tenant-x", "x3")])
    resolved = controller.resolve("s1")
    with pytest.raises(ValueError):
        controller.start(SidelineRequest("s1", "key = 'tenant-x'"))
    assert controller.persistence.retrieve("s1") == resolved
    assert _values(controller.replay_df(spark, "s1")) == ["x2", "x3"]


def test_reload_drops_a_filter_resolved_by_another_process(tmp_path, topic):
    state_dir = str(tmp_path / "state")
    running = SidelineController(topic, FilterChain(), state_dir)
    other = SidelineController(topic, FilterChain(), state_dir)
    other.start(SidelineRequest("s1", "key = 'a'"))
    running.load_sidelines()
    assert running.chain.has_step("s1")
    other.resolve("s1")
    assert [p.id for p in running.load_sidelines()] == ["s1"]
    assert not running.chain.has_step("s1")


def test_retry_table_routing(spark):
    policy = ExponentialBackoffRetryPolicy(
        retry_limit=2, initial_delay_ms=1000, delay_multiplier=2.0, max_delay_ms=60_000
    )
    failures = spark.createDataFrame(
        [("m1", "v1"), ("m2", "v2")], ["msg_id", "value"]
    )
    now = 1_000_000
    retries = schedule_failures(failures, policy, now_ms=now)
    rows = {r["msg_id"]: r for r in retries.collect()}
    assert rows["m1"]["retry_attempts"] == 1
    assert rows["m1"]["retry_next_attempt_ts_ms"] == now + 1000
    # not due yet → pending; due after the backoff elapses
    due, pending = split_due(retries, now_ms=now)
    assert due.count() == 0 and pending.count() == 2
    due, pending = split_due(retries, now_ms=now + 1000)
    assert due.count() == 2
    # second failure: attempts=2 → exceeds retry_limit=2 → DLQ
    retries2 = schedule_failures(retries, policy, now_ms=now + 1000)
    assert {r["retry_attempts"] for r in retries2.collect()} == {2}
    retryable, dlq = split_exhausted(retries2, policy)
    assert retryable.count() == 0 and dlq.count() == 2
    # backoff doubled on the second attempt
    assert {r["retry_next_attempt_ts_ms"] for r in retries2.collect()} == {now + 1000 + 2000}


def test_merge_routes_tags_provenance(spark, topic):
    topic.append([("a", "v1"), ("b", "v2")])
    live = topic.read(spark)
    replay = topic.read(spark).filter(F.col("key") == "a")
    merged = merge_routes({"firehose": live, "sideline-s1": replay})
    counts = {r["route_id"]: r["n"] for r in merged.groupBy("route_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {"firehose": 2, "sideline-s1": 1}
    # provenance column = srcVirtualSpoutId (MessageId.java:33-61)
    assert "route_id" in merged.columns
