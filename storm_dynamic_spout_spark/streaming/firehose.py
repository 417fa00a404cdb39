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

from storm_dynamic_spout_spark.operators.layout import write_clustered
from storm_dynamic_spout_spark.streaming import dirswap
from storm_dynamic_spout_spark.streaming.file_topic import FileTopic
from storm_dynamic_spout_spark.streaming.filter_chain import FilterChain
from storm_dynamic_spout_spark.streaming.metrics import MetricsRecorder
from storm_dynamic_spout_spark.streaming.sideline import (
    SidelineController,
    SidelineType,
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
    costs an extra stage every trigger. :meth:`Firehose.compact_output`
    restores full ``(partition, offset)`` clustering at maintenance
    time, the standard ingest-fast / OPTIMIZE-later split.
    """
    out = df.withColumn("event_date", F.to_date("timestamp"))
    if route_id is not None and "route_id" not in out.columns:
        out = out.withColumn("route_id", F.lit(route_id))
    parts = (["route_id", "event_date"] if "route_id" in out.columns
             else ["event_date"])
    with _SINK_WRITE_LOCK:
        write_clustered(
            out, path, partition_by=parts,
            cluster_by=["partition", "offset"] if cluster else None,
            mode="append",
        )


class Firehose:
    """The live route: FileTopic stream → chain.keep → sink dir.

    ``output_dir`` receives the kept rows as parquet (the "default"
    output stream, ``DynamicSpout.java:552-563``); the checkpoint dir
    makes restarts at-least-once from the last committed batch.
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
        on_batch: Callable[[int], None] | None = None,
    ) -> None:
        self.spark = spark
        self.topic = topic
        self.controller = controller
        self.output_dir = output_dir
        self.checkpoint_dir = checkpoint_dir
        self.trigger = trigger
        self.recorder = recorder or MetricsRecorder()
        self.on_batch = on_batch
        self.query = None
        os.makedirs(output_dir, exist_ok=True)
        # heal a crashed append or compact_output swap; under the write
        # lock, since replays may already be appending to this dir
        with _SINK_WRITE_LOCK:
            dirswap.recover_interrupted_swap(output_dir)

    # -- the per-micro-batch control-plane preamble --
    def _refresh_chain(self) -> FilterChain:
        if self.trigger is not None:
            self.trigger.poll()
        chain = FilterChain()
        for sid in self.controller.persistence.list_ids():
            payload = self.controller.persistence.retrieve(sid)
            if payload and payload.type in (SidelineType.START, SidelineType.RESUME):
                chain.add_step(sid, payload.predicate_sql)
        # keep the controller's in-memory chain in sync for observers
        self.controller.chain = chain
        return chain

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        chain = self._refresh_chain()
        kept = chain.keep(batch_df)
        write_sink_batch(kept, self.output_dir)
        self.recorder.count("firehose.batches")
        if self.on_batch is not None:
            self.on_batch(batch_id)

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
        from pyspark.sql import types as T

        from storm_dynamic_spout_spark.streaming.file_topic import TOPIC_SCHEMA

        schema = T.StructType(
            list(TOPIC_SCHEMA.fields) + [T.StructField("event_date", T.DateType())]
        )
        return (
            self.spark.read.schema(schema)
            .parquet(self.output_dir)
            .drop("event_date")
        )

    def compact_output(self, target_files: int = 1) -> None:
        """Maintenance-window compaction of the sink: merge the many
        per-micro-batch files inside each ``event_date`` partition down
        to ``target_files``, preserving the (partition, offset)
        clustering — the output-side twin of :meth:`FileTopic.compact`.
        MUST NOT run while the firehose query is live (the swap would
        race the stream's appends); schedule it like any table OPTIMIZE.
        """
        from pyspark.sql import types as T

        from storm_dynamic_spout_spark.streaming.file_topic import TOPIC_SCHEMA

        schema = T.StructType(
            list(TOPIC_SCHEMA.fields) + [T.StructField("event_date", T.DateType())]
        )
        df = self.spark.read.schema(schema).parquet(self.output_dir)
        dirswap.swap_publish(
            self.output_dir,
            lambda tmp: write_clustered(
                df, tmp, partition_by=["event_date"],
                cluster_by=["partition", "offset"], target_files=target_files,
                mode="overwrite",
            ),
        )
