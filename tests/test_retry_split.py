"""The firehose's per-batch observations: the delivery high-water marks
(``observe_delivery``) and the retry split (``RetryTableRunner
.process_batch``), which skips the DLQ append when no row can be
exhausted.  The skip rests on what the runner observed on its own
retry-table write, so it holds whatever the sink runs.

Job counts are read from ``sc.statusTracker()`` under a job group."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming.app import (
    delivery_from_observation,
    observe_delivery,
)
from storm_dynamic_spout_spark.streaming.dirswap import has_parquet
from storm_dynamic_spout_spark.streaming.retry import (
    ATTEMPTS_COL,
    ExponentialBackoffRetryPolicy,
    RetrySplit,
    RetryTableRunner,
)

# delay 0: a row scheduled for retry is due at the next batch
POLICY = ExponentialBackoffRetryPolicy(
    retry_limit=2, initial_delay_ms=0, delay_multiplier=1.0, max_delay_ms=0
)
SCHEMA = "partition int, offset long, key string, value string"


def _runner(tmp_path, condition="value LIKE 'fail:%'", policy=POLICY) -> RetryTableRunner:
    return RetryTableRunner(
        retries_dir=str(tmp_path / "retries"),
        dlq_dir=str(tmp_path / "dlq"),
        policy=policy,
        failure_condition_sql=condition,
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        [(i % 4, i, k, v) for i, (k, v) in enumerate(rows)], SCHEMA
    )


def _parquet_sink(path: str):
    """Append ``ok`` to ``path`` (one job)."""

    def sink(ok) -> None:
        ok.write.mode("append").parquet(path)

    return sink


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "retry split job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _keys(df, with_attempts=False):
    if with_attempts:
        return sorted((r["key"], r[ATTEMPTS_COL]) for r in df.collect())
    return sorted(r["key"] for r in df.collect())


def _retry_keys(runner, spark, with_attempts=False):
    retries = runner._load_retries(spark, _batch(spark, []))
    return [] if retries is None else _keys(retries, with_attempts)


# -- delivery observation ---------------------------------------------------


def test_observe_delivery_matches_groupby_oracle(spark):
    """32 partitions, most of them empty: the decoded ``hw`` array and
    ``n`` equal a groupBy(partition).max(offset) + count() oracle."""
    live = [0, 3, 7, 30, 31]
    df = spark.range(500).select(
        F.element_at(
            F.array(*[F.lit(p) for p in live]), (F.col("id") % len(live) + 1).cast("int")
        ).alias("partition"),
        ((F.col("id") * 7919) % 1000).alias("offset"),
    )
    observed, obs = observe_delivery(df, 32, "oracle-probe")
    observed.write.format("noop").mode("overwrite").save()
    per_part, n = delivery_from_observation(obs, 32)

    oracle = {
        r["partition"]: r["max(offset)"]
        for r in df.groupBy("partition").max("offset").collect()
    }
    assert per_part == oracle
    assert sorted(per_part) == live
    assert n == df.count() == 500


def test_observe_delivery_empty_batch(spark):
    df = spark.createDataFrame([], "partition int, offset long")
    observed, obs = observe_delivery(df, 32, "empty-probe")
    observed.write.format("noop").mode("overwrite").save()
    assert delivery_from_observation(obs, 32) == ({}, 0)


# -- retry split ---------------------------------------------------------------


def test_batch_without_failures_skips_the_dlq_append(spark, tmp_path):
    runner = _runner(tmp_path)
    batch = _batch(spark, [("a", "v1"), ("b", "v2"), ("c", "v3")])
    out = str(tmp_path / "out")
    split, jobs = _jobs_in(
        spark, "split-clean", lambda: runner.process_batch(batch, 0, _parquet_sink(out))
    )
    assert jobs == 2  # sink write + retry-table swap
    assert split == RetrySplit(0, 0, dlq_written=False)
    assert not has_parquet(runner.dlq_dir)
    assert _retry_keys(runner, spark) == []
    assert _keys(spark.read.parquet(out)) == ["a", "b", "c"]


def test_failures_below_limit_run_two_jobs(spark, tmp_path):
    runner = _runner(tmp_path)
    batch = _batch(spark, [("a", "v1"), ("b", "fail:1")])
    out = str(tmp_path / "out")
    split, jobs = _jobs_in(
        spark, "split-retry", lambda: runner.process_batch(batch, 0, _parquet_sink(out))
    )
    assert jobs == 2  # sink write + retry-table swap
    assert split == RetrySplit(1, 0, dlq_written=False)
    assert not has_parquet(runner.dlq_dir)
    assert _retry_keys(runner, spark, with_attempts=True) == [("b", 1)]


def test_exhausted_rows_run_three_jobs(spark, tmp_path):
    runner = _runner(tmp_path)
    out = str(tmp_path / "out")
    sink = _parquet_sink(out)
    first = _batch(spark, [("a", "v1"), ("b", "fail:1")])
    runner.process_batch(first, 0, sink)  # b: attempts 1, due at once

    second = _batch(spark, [("c", "v2")])
    split, jobs = _jobs_in(spark, "split-dlq", lambda: runner.process_batch(second, 0, sink))
    assert jobs == 3  # sink write + DLQ append + retry-table swap
    # b re-fails at attempts 2 = retry_limit: exhausted to the DLQ
    assert split == RetrySplit(1, 1, dlq_written=True)
    assert _keys(runner.dlq(spark, first), with_attempts=True) == [("b", 2)]
    assert _retry_keys(runner, spark) == []
    assert _keys(spark.read.parquet(out)) == ["a", "c"]


def test_dlq_append_waits_until_an_exhaustible_retry_is_due(spark, tmp_path):
    """A retry whose next failure exhausts it keeps the DLQ append off
    only until its next attempt time; then the append runs and takes it."""
    policy = ExponentialBackoffRetryPolicy(
        retry_limit=2, initial_delay_ms=1000, delay_multiplier=1.0, max_delay_ms=1000
    )
    runner = _runner(tmp_path, policy=policy)
    sink = _parquet_sink(str(tmp_path / "out"))
    runner.process_batch(_batch(spark, [("b", "fail:1")]), 0, sink)  # b due at 1000

    early = runner.process_batch(_batch(spark, [("c", "v2")]), 999, sink)
    assert early == RetrySplit(0, 0, dlq_written=False)
    assert _retry_keys(runner, spark, with_attempts=True) == [("b", 1)]

    due = runner.process_batch(_batch(spark, [("d", "v3")]), 1000, sink)
    assert due == RetrySplit(1, 1, dlq_written=True)
    assert _keys(runner.dlq(spark, _batch(spark, [])), with_attempts=True) == [("b", 2)]
    assert _retry_keys(runner, spark) == []


def test_restarted_runner_appends_to_the_dlq_until_it_has_written_the_table(
    spark, tmp_path
):
    """A retry table left by an earlier runner is not read to learn its
    attempts: the new runner appends to the DLQ on its first batch, then
    skips once its own swap has been observed."""
    sink = _parquet_sink(str(tmp_path / "out"))
    _runner(tmp_path).process_batch(_batch(spark, [("b", "fail:1")]), 0, sink)

    # the processor is fixed: the due retry of b now succeeds
    fixed = _runner(tmp_path, condition="false")
    first = fixed.process_batch(_batch(spark, [("c", "v2")]), 0, sink)
    second = fixed.process_batch(_batch(spark, [("d", "v3")]), 0, sink)
    assert first == RetrySplit(0, 0, dlq_written=True)
    assert second == RetrySplit(0, 0, dlq_written=False)
    assert _retry_keys(fixed, spark) == []
    assert _keys(spark.read.parquet(str(tmp_path / "out"))) == ["b", "c", "d"]


def test_sink_reading_part_of_ok_loses_no_failure(spark, tmp_path):
    """A sink that runs ``head()`` over ``ok`` before its write: one ok
    row ahead of two failures, so the first action stops before them.
    Every failed row still ends in the retry table or the DLQ."""
    runner = _runner(tmp_path)
    out = str(tmp_path / "out")

    def sink(ok) -> None:
        assert ok.head() is not None
        ok.write.mode("append").parquet(out)

    first = runner.process_batch(
        _batch(spark, [("a", "v1"), ("b", "fail:1"), ("c", "fail:2")]), 0, sink
    )
    assert first == RetrySplit(2, 0, dlq_written=False)
    assert _retry_keys(runner, spark, with_attempts=True) == [("b", 1), ("c", 1)]

    second = runner.process_batch(_batch(spark, [("d", "v2"), ("e", "fail:3")]), 0, sink)
    assert second == RetrySplit(3, 2, dlq_written=True)
    like = _batch(spark, [])
    assert _keys(runner.dlq(spark, like), with_attempts=True) == [("b", 2), ("c", 2)]
    assert _retry_keys(runner, spark, with_attempts=True) == [("e", 1)]
    assert _keys(spark.read.parquet(out)) == ["a", "d"]


def test_sink_without_action_keeps_dlq_and_retry_contents(spark, tmp_path):
    """A sink that runs no action, and an empty batch: the runner's own
    writes still complete its observations, so it does not wait on the
    sink, and the DLQ and the retry table end as they did before the
    split was counted."""
    runner = _runner(tmp_path)
    result: dict = {}

    def run():
        result["first"] = runner.process_batch(
            _batch(spark, [("a", "v1"), ("b", "fail:1")]), 0, lambda ok: None
        )
        result["second"] = runner.process_batch(
            _batch(spark, [("c", "fail:2")]), 0, lambda ok: None
        )
        fresh = _runner(tmp_path / "fresh")
        result["empty"] = fresh.process_batch(_batch(spark, []), 0, lambda ok: None)

    worker = threading.Thread(target=run)
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "process_batch blocked on an observation"

    assert result == {
        "first": RetrySplit(1, 0, dlq_written=False),
        "second": RetrySplit(2, 1, dlq_written=True),
        "empty": RetrySplit(0, 0, dlq_written=False),
    }
    like = _batch(spark, [])
    assert _keys(runner.dlq(spark, like), with_attempts=True) == [("b", 2)]
    assert _retry_keys(runner, spark, with_attempts=True) == [("c", 1)]
