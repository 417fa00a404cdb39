"""Retry managers + the retry-table pattern (SURVEY §2.9 T4-T7, S7).

The reference redelivers individual failed tuples via a pluggable
``RetryManager`` (``retry/RetryManager.java:36-73``): on ``failed(id)``
decide retry-or-drop and schedule the replay; replays are emitted before
new records; past the limit the tuple goes to the permanently-failed
("failed") stream un-anchored (``DynamicSpout.java:240-247``).

Spark has no per-record ack, so the engine maps this to the *retry
table* pattern (SURVEY §7 hard part 3): failures are rows in a retries
DataFrame carrying ``(attempts, next_attempt_ts_ms)``; each micro-batch
unions due retries ahead of new input, and rows whose attempts exceed
the limit route to the DLQ sink instead. Retries are re-*processed*,
not re-emitted from source — same observable contract (bounded retries
with backoff, then DLQ), batch granularity.

Policy semantics are kept bit-for-bit with the reference:
- delay = initial * multiplier^(failCount-1), capped at max
  (``retry/ExponentialBackoffRetryManager.java:48-128``)
- retry_limit < 0 → retry forever; == 0 → never; > 0 → cap
  (``ExponentialBackoffRetryManager.java:212-232``)
- FailedTuplesFirst: always retry, immediately, before new tuples
  (``retry/FailedTuplesFirstRetryManager.java:40-83``)
- NeverRetry: straight to DLQ (``retry/NeverRetryManager.java:35-67``)
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming import dirswap

ATTEMPTS_COL = "retry_attempts"
NEXT_TS_COL = "retry_next_attempt_ts_ms"


def _with_retry_cols(schema):
    """Fresh StructType extending ``schema`` with the retry bookkeeping
    columns. StructType.add mutates in place, so extending the caller's
    (often shared/global) schema object directly would poison it."""
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType(
        list(schema.fields)
        + [StructField(ATTEMPTS_COL, LongType()), StructField(NEXT_TS_COL, LongType())]
    )


@dataclass(frozen=True)
class RetryPolicy:
    """Base policy: scheduling arithmetic shared by row-level (unit
    tests) and column-level (retry table) evaluation."""

    retry_limit: int = 25
    initial_delay_ms: int = 1000
    delay_multiplier: float = 2.0
    max_delay_ms: int = 15 * 60 * 1000

    # -- scalar form (parity-testable against the reference) --
    def retry_further(self, attempts: int) -> bool:
        """attempts = number of failures so far.
        ExponentialBackoffRetryManager.java:212-232."""
        if self.retry_limit < 0:
            return True
        if self.retry_limit == 0:
            return False
        return attempts < self.retry_limit

    def delay_ms(self, attempts: int) -> int:
        """Delay after the ``attempts``-th failure (attempts >= 1).
        ExponentialBackoffRetryManager.java:96-128."""
        delay = self.initial_delay_ms * (self.delay_multiplier ** (attempts - 1))
        return int(min(delay, self.max_delay_ms))

    def next_attempt_ts_ms(self, attempts: int, now_ms: int) -> int:
        return now_ms + self.delay_ms(attempts)

    # -- column form (the distributed retry table) --
    def delay_col(self, attempts: F.Column) -> F.Column:
        raw = F.lit(self.initial_delay_ms) * F.pow(
            F.lit(self.delay_multiplier), attempts.cast("double") - 1
        )
        return F.least(raw, F.lit(float(self.max_delay_ms))).cast("long")

    def retry_further_col(self, attempts: F.Column) -> F.Column:
        if self.retry_limit < 0:
            return F.lit(True)
        if self.retry_limit == 0:
            return F.lit(False)
        return attempts < F.lit(self.retry_limit)


@dataclass(frozen=True)
class ExponentialBackoffRetryPolicy(RetryPolicy):
    """Default policy — reference defaults retry_limit=25,
    initial=1000ms, multiplier derived from config
    (``config/SpoutConfig.java:490-507``)."""


@dataclass(frozen=True)
class FailedTuplesFirstRetryPolicy(RetryPolicy):
    """Always retry immediately, before new tuples, forever
    (FailedTuplesFirstRetryManager.java:40-83)."""

    retry_limit: int = -1
    initial_delay_ms: int = 0
    delay_multiplier: float = 1.0
    max_delay_ms: int = 0


@dataclass(frozen=True)
class NeverRetryPolicy(RetryPolicy):
    """Fail ⇒ straight to DLQ (NeverRetryManager.java:35-67)."""

    retry_limit: int = 0


# ---------------------------------------------------------------------------
# Retry-table operators (pure DataFrame transformations; no driver loops)
# ---------------------------------------------------------------------------


def schedule_failures(failed: DataFrame, policy: RetryPolicy, now_ms: int) -> DataFrame:
    """Failures from this batch → retry-table rows: bump ``attempts``
    (creating it at 1 if absent) and stamp ``next_attempt_ts_ms``."""
    cols = dict(failed.dtypes)
    attempts = (
        (F.coalesce(F.col(ATTEMPTS_COL), F.lit(0)) + 1)
        if ATTEMPTS_COL in cols
        else F.lit(1)
    )
    out = failed.withColumn(ATTEMPTS_COL, attempts)
    return out.withColumn(
        NEXT_TS_COL, F.lit(now_ms) + policy.delay_col(F.col(ATTEMPTS_COL))
    )


def split_due(retries: DataFrame, now_ms: int) -> tuple[DataFrame, DataFrame]:
    """(due, not_yet_due): due rows re-enter processing ahead of new
    input (VirtualSpout.nextTuple emits retries first,
    VirtualSpout.java:259-281)."""
    due = retries.filter(F.col(NEXT_TS_COL) <= now_ms)
    pending = retries.filter(F.col(NEXT_TS_COL) > now_ms)
    return due, pending


def split_exhausted(retries: DataFrame, policy: RetryPolicy) -> tuple[DataFrame, DataFrame]:
    """(retryable, dlq): rows past the retry limit route to the
    permanently-failed stream (S7, ``Message.java:142-144`` flag)."""
    further = policy.retry_further_col(F.col(ATTEMPTS_COL))
    return retries.filter(further), retries.filter(~further)


@dataclass(frozen=True)
class RetrySplit:
    """One :meth:`RetryTableRunner.process_batch` call: the failed and
    exhausted row counts, observed on the runner's own state writes, and
    whether the DLQ append ran."""

    failed: int  # candidate rows that failed this batch
    exhausted: int  # failed rows past the retry limit (to the DLQ)
    dlq_written: bool


class RetryTableRunner:
    """The per-micro-batch retry loop, wired (SURVEY §3.2 fail path):

    each batch: due retries re-enter AHEAD of new input
    (``VirtualSpout.java:259-281`` emits retries first) → rows failing
    the processor split off → schedule with backoff → exhausted rows to
    the DLQ → surviving retries persist for the next batch.

    State lives in a parquet retry table under ``retries_dir``
    (atomic swap per batch); the DLQ is parquet under ``dlq_dir`` with
    the attempts count kept for observability."""

    def __init__(
        self,
        retries_dir: str,
        dlq_dir: str,
        policy: RetryPolicy,
        failure_condition_sql: str,
        dlq_partition_by_date: bool = False,
    ) -> None:
        """``dlq_partition_by_date=True`` (rows must carry a
        ``timestamp`` column): DLQ lands hive-partitioned by
        ``event_date`` via the clustered-layout writer, so the 100 TB
        failure-triage query ("yesterday's dead letters") prunes
        directories instead of scanning the sink's full history."""
        self.retries_dir = retries_dir
        self.dlq_dir = dlq_dir
        self.policy = policy
        self.failure_condition_sql = failure_condition_sql
        # heal a crashed append or retry-table publish swap
        dirswap.recover_interrupted_swap(self.retries_dir)
        self.dlq_partition_by_date = dlq_partition_by_date
        os.makedirs(dlq_dir, exist_ok=True)
        dirswap.recover_interrupted_swap(dlq_dir)
        # earliest next-attempt time of a retry-table row whose next
        # failure exhausts it (inf: no such row), observed on this
        # runner's own swap writes; None while unknown (a table left by
        # an earlier runner, or a swap that did not finish)
        self._exhaust_due_ms: float | None = (
            None if dirswap.has_parquet(self.retries_dir) else math.inf
        )

    def _load_retries(self, spark, like: DataFrame) -> DataFrame | None:
        if not dirswap.has_parquet(self.retries_dir):
            return None
        return spark.read.schema(_with_retry_cols(like.schema)).parquet(
            self.retries_dir
        )

    def process_batch(self, batch_df: DataFrame, now_ms: int, sink) -> RetrySplit:
        """Split the batch (+ due retries, ahead of new input) into
        ok/failed, call ``sink(ok_df)``, persist retry/DLQ state.

        The DLQ append is skipped when no row can be exhausted this batch:
        a first failure still retries, and no retry-table row whose next
        failure exhausts it is due yet.  The runner knows the latter from
        an ``Observation`` on its own retry-table write (the earliest
        ``next_attempt_ts_ms`` of such a row), so the skip depends on no
        count from the sink and on no job of its own.  Until this runner
        has written the table once (a table left by an earlier run) the
        DLQ append runs every batch, as before.

        ``sink`` runs BEFORE the retry-table swap: the ok rows' lineage
        reads the pre-swap retry files, so they must materialize first
        (the swap deletes what the lazy plan would re-read).  The failure
        predicate must be deterministic: the sink's job and the DLQ and
        retry writes each evaluate it over their own read of the
        candidates, and a row must land on the same side in every job.

        Returns the :class:`RetrySplit`: the failed and exhausted counts,
        observed on the DLQ append or the retry-table write (whichever
        runs first; both read every failed row), and whether the DLQ
        append ran."""
        spark = batch_df.sparkSession
        # Coalesce to false: a failure predicate evaluating to NULL (nullable
        # key/value columns) must classify the row as ok, not let it vanish
        # from BOTH filter(~fail) and filter(fail) under three-valued logic —
        # every candidate row is sinked, retried, or DLQ'd (at-least-once).
        fail = F.coalesce(F.expr(self.failure_condition_sql), F.lit(False))
        retries = self._load_retries(spark, batch_df)
        new = batch_df.withColumn(ATTEMPTS_COL, F.lit(None).cast("long")).withColumn(
            NEXT_TS_COL, F.lit(None).cast("long")
        )
        if retries is not None:
            due, pending = split_due(retries, now_ms)
            candidates = due.unionByName(new)  # retries first
        else:
            pending = None
            candidates = new

        ok = candidates.filter(~fail).drop(ATTEMPTS_COL, NEXT_TS_COL)
        sink(ok)
        failed = candidates.filter(fail)
        scheduled = schedule_failures(failed.drop(NEXT_TS_COL), self.policy, now_ms)
        split = Observation()
        scheduled = scheduled.observe(
            split,
            F.count(F.lit(1)).alias("failed"),
            F.count(
                F.when(~self.policy.retry_further_col(F.col(ATTEMPTS_COL)), 1)
            ).alias("exhausted"),
        )
        retryable, exhausted = split_exhausted(scheduled, self.policy)
        exhaust_due_ms = self._exhaust_due_ms
        write_dlq = (
            exhaust_due_ms is None
            or now_ms >= exhaust_due_ms
            or not self.policy.retry_further(1)
        )
        if write_dlq and self.dlq_partition_by_date:
            from storm_dynamic_spout_spark.operators.layout import write_clustered

            write_clustered(
                exhausted.withColumn("event_date", F.to_date("timestamp")),
                self.dlq_dir,
                partition_by=["event_date"],
                mode="append",
            )
        elif write_dlq:
            exhausted.write.mode("append").parquet(self.dlq_dir)

        state = Observation()
        keep = retryable if pending is None else pending.unionByName(retryable)
        exhausts_next = ~self.policy.retry_further_col(F.col(ATTEMPTS_COL) + 1)
        keep = keep.observe(
            state, F.min(F.when(exhausts_next, F.col(NEXT_TS_COL))).alias("due_ms")
        )
        self._exhaust_due_ms = None
        dirswap.swap_publish(
            self.retries_dir,
            lambda tmp: keep.write.mode("overwrite").parquet(tmp),
        )
        due_ms = state.get["due_ms"]
        self._exhaust_due_ms = math.inf if due_ms is None else due_ms
        counts = split.get
        return RetrySplit(counts["failed"], counts["exhausted"], write_dlq)

    def dlq(self, spark, like: DataFrame) -> DataFrame:
        schema = _with_retry_cols(like.schema)
        if not dirswap.has_parquet(self.dlq_dir):
            return spark.createDataFrame([], schema)
        if self.dlq_partition_by_date:
            from pyspark.sql.types import DateType, StructField, StructType

            read_schema = StructType(
                list(schema.fields) + [StructField("event_date", DateType())]
            )
        else:
            read_schema = schema
        out = spark.read.schema(read_schema).parquet(self.dlq_dir)
        return out.drop("event_date") if self.dlq_partition_by_date else out
