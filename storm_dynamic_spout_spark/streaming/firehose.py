"""The firehose runner: live stream + runtime-mutable filters + DLQ.

This is the engine's answer to SURVEY §7 hard part 1 (the reference
mutates a running FilterChain, ``FilterChain.java:48-64``; Spark plans
are immutable once started): the live query's ``foreachBatch`` re-reads
the sideline control table at the top of every micro-batch and applies
the current predicate set — filter changes take effect next batch,
matching the reference's next-poll granularity. No query restarts.

Each micro-batch (the SpoutRunner loop analogue,
``coordinator/SpoutRunner.java:106-180``):
1. poll the trigger directory for control commands (T12)
2. rebuild the FilterChain from persisted unresolved sidelines
3. kept rows → the main sink (S6, "default" stream)
4. dropped rows are NOT persisted — the sideline replay re-reads them
   from the topic by offset window, exactly like the reference re-reads
   Kafka (dropped ⇒ acked immediately, P8 ``VirtualSpout.java:308-323``)
5. offsets commit via the checkpoint on batch success (T1: the
   micro-batch is the atomic unit; at-least-once on restart)
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storm_dynamic_spout_spark.operators.layout import write_clustered
from storm_dynamic_spout_spark.streaming import dirswap
from storm_dynamic_spout_spark.streaming.file_topic import TOPIC_SCHEMA, FileTopic
from storm_dynamic_spout_spark.streaming.metrics import MetricsRecorder
from storm_dynamic_spout_spark.streaming.sideline import (
    SidelineController,
    FileWatchTrigger,
)


#: Concurrent streaming queries (firehose + N replays) append to the SAME
#: output table; the Hadoop FileOutputCommitter stages every job under the
#: one shared ``<path>/_temporary/0`` dir, so two overlapping commits
#: corrupt each other (job B deletes the staging dir job A is reading).
#: All writers live in one driver process, so a process-local lock
#: serializes just the job-commit sections — the distributed task work of
#: each batch is untouched.
_SINK_WRITE_LOCK = threading.Lock()

#: The sink table's columns: the topic record plus its two hive keys.
#: ``route_id`` exists only in a routed table (the app's merged output);
#: a standalone firehose writes none, and reads it back as NULL.  Built
#: as a new list: StructType.add would mutate the shared TOPIC_SCHEMA.
SINK_SCHEMA = T.StructType(
    list(TOPIC_SCHEMA.fields)
    + [
        T.StructField("route_id", T.StringType()),
        T.StructField("event_date", T.DateType()),
    ]
)


def _sink_partitions(columns: list[str]) -> list[str]:
    return [c for c in ("route_id", "event_date") if c in columns]


def write_sink_batch(
    df: DataFrame,
    path: str,
    route_id: str | None = None,
    cluster: bool = False,
) -> None:
    """The one sink-write path for firehose / replay / DLQ batches:
    hive-partitioned by ``event_date`` (and ``route_id`` when routed).

    At 100 TB the sink IS a table — per-batch unpartitioned appends
    would leave millions of undifferentiated files whose every read
    scans everything. Directory keys make date/route predicates prune
    before any file opens.

    The hot streaming path lands batches *unsorted* (``cluster=False``):
    a per-micro-batch sort buys little — each batch covers a narrow
    offset span, so its row-group min/max stats are already tight — and
    costs an extra stage every trigger. :func:`compact_sink` restores
    full ``(partition, offset)`` clustering at maintenance time, the
    standard ingest-fast / OPTIMIZE-later split.
    """
    out = df.withColumn("event_date", F.to_date("timestamp"))
    if route_id is not None and "route_id" not in out.columns:
        out = out.withColumn("route_id", F.lit(route_id))
    with _SINK_WRITE_LOCK:
        write_clustered(
            out, path, partition_by=_sink_partitions(out.columns),
            cluster_by=["partition", "offset"] if cluster else None,
            mode="append",
        )


def compact_sink(spark: SparkSession, path: str, target_files: int = 1) -> None:
    """Maintenance OPTIMIZE of a sink table: rewrite each hive partition's
    per-micro-batch file spray down to ``target_files``, restoring the
    ``(partition, offset)`` clustering, through a crash-safe directory
    swap.  The partition keys are the ones :func:`write_sink_batch`
    wrote: ``route_id`` only when the table holds ``route_id=`` dirs.
    MUST NOT run while a stream appends to ``path`` (the swap would race
    its appends); schedule it like any table OPTIMIZE."""
    df = spark.read.schema(SINK_SCHEMA).parquet(path)
    if not any(d.startswith("route_id=") for d in os.listdir(path)):
        df = df.drop("route_id")
    dirswap.swap_publish(
        path,
        lambda tmp: write_clustered(
            df, tmp, partition_by=_sink_partitions(df.columns),
            cluster_by=["partition", "offset"], target_files=target_files,
            mode="overwrite",
        ),
    )


class Firehose:
    """The live route: FileTopic stream → chain.keep → sink.

    ``output_dir`` receives the kept rows as parquet (the "default"
    output stream, ``DynamicSpout.java:552-563``); the checkpoint dir
    makes restarts at-least-once from the last committed batch.
    ``sink(kept, batch_id)`` replaces the default delivery, a plain
    :func:`write_sink_batch` into ``output_dir`` (the app passes its
    retry split + tagged write + rollup merge).
    """

    def __init__(
        self,
        spark: SparkSession,
        topic: FileTopic,
        controller: SidelineController,
        output_dir: str,
        checkpoint_dir: str,
        trigger: FileWatchTrigger | None = None,
        recorder: MetricsRecorder | None = None,
        sink: Callable[[DataFrame, int], None] | None = None,
    ) -> None:
        self.spark = spark
        self.topic = topic
        self.controller = controller
        self.output_dir = output_dir
        self.checkpoint_dir = checkpoint_dir
        self.trigger = trigger
        self.recorder = recorder or MetricsRecorder()
        self.sink = sink
        self.query = None
        os.makedirs(output_dir, exist_ok=True)
        # heal a crashed append or compact_output swap; under the write
        # lock, since replays may already be appending to this dir
        with _SINK_WRITE_LOCK:
            dirswap.recover_interrupted_swap(output_dir)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # the per-micro-batch control-plane preamble
        if self.trigger is not None:
            self.trigger.poll()
        self.controller.load_sidelines()
        kept = self.controller.chain.keep(batch_df)
        if self.sink is None:
            write_sink_batch(kept, self.output_dir)
        else:
            self.sink(kept, batch_id)
        self.recorder.count("firehose.batches")

    def start(self, max_files_per_trigger: int | None = None, available_now: bool = False):
        stream = self.topic.read_stream(self.spark, max_files_per_trigger)
        writer = (
            stream.writeStream.queryName("firehose")
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(self._process_batch)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        self.query = writer.start()
        return self.query

    def process_all_available(self) -> None:
        """Block until every appended file is consumed (test/dev helper —
        the Awaitility analogue of the reference's E2E tests)."""
        assert self.query is not None
        self.query.processAllAvailable()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    # -- reading the output stream (test-side collector) --
    def output(self) -> DataFrame:
        return (
            self.spark.read.schema(SINK_SCHEMA)
            .parquet(self.output_dir)
            .drop("route_id", "event_date")
        )

    def compact_output(self, target_files: int = 1) -> None:
        """:func:`compact_sink` over the output dir — the output-side
        twin of :meth:`FileTopic.compact`.  MUST NOT run while the
        firehose query is live."""
        compact_sink(self.spark, self.output_dir, target_files)
