"""DynamicStreamApp: the assembled engine (SURVEY §3 entry points).

This is the ``DynamicSpout.open()`` analogue (``DynamicSpout.java:
150-218``) as one composable object: a topic source, the live firehose
with runtime-mutable filters, the sideline controller + trigger
watcher, replay execution, and the merged, provenance-tagged output
stream. A user of the reference maps their deployment onto this class:

    app = DynamicStreamApp(spark, topic_path, workdir)
    app.open()                       # reconciliation + firehose start
    app.sideline_start("s1", "key = 'tenant-x'")
    ...
    app.sideline_resume("s1")
    app.run_replay("s1")             # parallel bounded/unbounded replay
    app.sideline_resolve("s1")
    app.run_replay("s1")            # drains exactly the skipped window
    app.close()

Output contract: every emitted row lands in ``<workdir>/out`` tagged
with ``route_id`` (``firehose`` or ``sideline-<id>``) — the
``srcVirtualSpoutId`` provenance of ``MessageId.java:33-61``. The
"failed" DLQ stream (S7) is ``<workdir>/dlq`` via the retry table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming import dirswap
from storm_dynamic_spout_spark.streaming.file_topic import FileTopic
from storm_dynamic_spout_spark.streaming.filter_chain import FilterChain
from storm_dynamic_spout_spark.streaming.firehose import (
    SINK_SCHEMA,
    Firehose,
    compact_sink,
    write_sink_batch,
)
from storm_dynamic_spout_spark.streaming.metrics import MetricsRecorder, make_recorder
from storm_dynamic_spout_spark.streaming.sideline import (
    FileWatchTrigger,
    SidelineController,
    SidelineRequest,
    SidelineType,
)

class RouteHighWater:
    """In-memory per-route delivered high-water marks and row counts.

    The scale fix for the O(history) control plane: progress/lag/
    consumer-state arithmetic used to ``groupBy(partition).max(offset)``
    over the ENTIRE delivered output table on every monitor tick — at
    100 TB of output the lag gauge itself costs a full table scan.  Now
    each sink write contributes its own per-partition maxima through an
    ``Observation`` riding the write job (O(batch), zero extra reads),
    and the full-output scan runs exactly once, on cold start.  The
    marks survive restarts via the O6 consumer-state adapter
    (``flush_consumer_state``); the cold-start scan reconciles anything
    flushed stale."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self.warm = False
        self._offsets: dict[str, dict[int, int]] = {}
        self._rows: dict[str, int] = {}

    def record(self, route_id: str, per_partition: dict[int, int], n_rows: int) -> None:
        """Merge one delivered batch's maxima (monotone max per
        partition) and add its row count."""
        with self._lock:
            cur = self._offsets.setdefault(route_id, {})
            for p, off in per_partition.items():
                if off > cur.get(p, -1):
                    cur[p] = off
            self._rows[route_id] = self._rows.get(route_id, 0) + int(n_rows)

    def warm_load(self, rows) -> None:
        """One-time cold-start load from the full-output scan.  Offsets
        max-merge (a concurrent batch may have recorded already); row
        counts reset to the scanned totals (the scan already includes
        every delivered row)."""
        with self._lock:
            if self.warm:
                return
            totals: dict[str, int] = {}
            for r in rows:
                route, p = r["route_id"], int(r["partition"])
                cur = self._offsets.setdefault(route, {})
                cur[p] = max(cur.get(p, -1), int(r["cur"]))
                totals[route] = totals.get(route, 0) + int(r["n"])
            for route, n in totals.items():
                self._rows[route] = n
            self.warm = True

    def offsets(self, route_id: str) -> dict[int, int]:
        with self._lock:
            return dict(self._offsets.get(route_id, {}))

    def rows(self, route_id: str) -> int:
        with self._lock:
            return int(self._rows.get(route_id, 0))

    def snapshot(self) -> dict[str, dict[int, int]]:
        with self._lock:
            return {r: dict(o) for r, o in self._offsets.items()}


def observe_delivery(df: DataFrame, num_partitions: int, name: str):
    """Attach a delivery-metrics Observation to a batch DataFrame: row
    count + per-partition max offset, computed map-side inside whatever
    action materializes ``df`` (the sink write) — no second read of the
    batch.

    The observation has two columns: ``n`` (``count(1)``) and ``hw``,
    an array whose element ``p`` is ``max(CASE WHEN partition = p THEN
    offset END)`` (NULL for a partition with no row in the batch).  Both
    are one SQL expression each, so building the observation is a fixed
    two-Column cost per batch instead of one py4j call chain per
    partition; the maxima still partial-aggregate before the driver sees
    them, and partition counts are topic metadata (small), never
    data-sized."""
    from pyspark.sql import Observation

    maxima = ", ".join(
        f"max(CASE WHEN `partition` = {p} THEN `offset` END)"
        for p in range(num_partitions)
    )
    obs = Observation(name)
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("n"), F.expr(f"array({maxima}) AS hw")
    )
    return observed, obs


def delivery_from_observation(obs, num_partitions: int) -> tuple[dict[int, int], int]:
    """Decode (per-partition maxima, row count) once the observed job
    finished (``Observation.get`` blocks on the action)."""
    row = obs.get
    hw = row["hw"]
    per_part = {p: int(hw[p]) for p in range(num_partitions) if hw[p] is not None}
    return per_part, int(row["n"] or 0)


class DynamicStreamApp:
    """The engine container: one live route + N sideline replays over a
    partitioned topic, with persistent control state under ``workdir``.

    Every row reaches the merged output through :meth:`_deliver` (tagged
    write + high-water record): the live route from the
    :class:`Firehose`'s per-batch step via :meth:`_live_sink`, and the
    replays (:meth:`run_replay`, :meth:`start_replay_stream`) with the
    rows :meth:`SidelineController.replay_rows` selects."""

    def __init__(
        self,
        spark: SparkSession,
        topic_path: str,
        workdir: str,
        num_partitions: int = 4,
        recorder: MetricsRecorder | None = None,
        failure_condition_sql: str | None = None,
        retry_policy=None,
        config=None,
        consumer_state=None,
        rollup=None,
        rollup_prepare=None,
    ) -> None:
        """``rollup``: an optional :class:`~storm_dynamic_spout_spark.
        streaming.rollup.ContinuousRollup` maintained live over the
        firehose — each micro-batch's KEPT rows merge into the rollup
        table right after the sink write (continuous aggregates over
        the stream; the batch_id watermark keeps replayed batches
        no-ops).  ``rollup_prepare`` optionally maps the batch to the
        rollup's input columns (e.g. derive a numeric measure)."""
        from storm_dynamic_spout_spark.engine import EngineConfig
        from storm_dynamic_spout_spark.streaming.consumer_state import (
            FileConsumerStatePersistence,
        )

        self.spark = spark
        self.workdir = workdir
        self.config = config or EngineConfig()
        self.topic = FileTopic(topic_path, num_partitions)
        # explicit recorder wins; otherwise the config key picks the
        # backend (metrics.recorder: memory | log | jsonl)
        self.recorder = recorder or make_recorder(self.config)
        self.controller = SidelineController(
            self.topic, FilterChain(), os.path.join(workdir, "state")
        )
        self.trigger = FileWatchTrigger(os.path.join(workdir, "commands"), self.controller)
        self.out_dir = os.path.join(workdir, "out")
        # the live route's tag + the DLQ stream's directory come from the
        # declared stream ids (DynamicSpout.java:552-563, :292-293)
        self.live_route_id = str(self.config["output.stream_id"])
        self.dlq_dir = os.path.join(
            workdir, str(self.config["output.failed_stream_id"])
        )
        # O6 seam: the checkpoint's queryable mirror — swap for a remote
        # adapter the way O7 allows for sidelines (consumer_state.py)
        self.consumer_state = consumer_state or FileConsumerStatePersistence(
            os.path.join(workdir, "consumer_state")
        )
        self._firehose: Firehose | None = None
        self._hwm = RouteHighWater()
        self._replay_queries: dict[str, object] = {}
        self._last_sideline_refresh = 0.0
        self._monitor_thread = None
        self._monitor_stop = None
        os.makedirs(self.out_dir, exist_ok=True)
        # heal a crash inside a previous optimize_output swap
        dirswap.recover_interrupted_swap(self.out_dir)
        # fail → retry-with-backoff → DLQ (T4-T7/S7): rows matching the
        # failure condition are treated as processing failures. Policy
        # defaults come from the config system (SpoutConfig.setDefaults
        # parity — retry limit 25, initial 1000ms, config/SpoutConfig
        # .java:490-507).
        self.rollup = rollup
        self.rollup_prepare = rollup_prepare
        self.retry_runner = None
        if failure_condition_sql is not None:
            from storm_dynamic_spout_spark.streaming.retry import (
                ExponentialBackoffRetryPolicy,
                RetryTableRunner,
            )

            policy = retry_policy or ExponentialBackoffRetryPolicy(
                retry_limit=int(self.config["retry.limit"]),
                initial_delay_ms=int(self.config["retry.initial_delay_ms"]),
                delay_multiplier=float(self.config["retry.delay_multiplier"]),
                max_delay_ms=int(self.config["retry.max_delay_ms"]),
            )
            self.retry_runner = RetryTableRunner(
                retries_dir=os.path.join(workdir, "retries"),
                dlq_dir=self.dlq_dir,
                policy=policy,
                failure_condition_sql=failure_condition_sql,
                dlq_partition_by_date=True,
            )

    # -- lifecycle (DynamicSpout.open/close; SpoutHandler.onSpoutOpen) ------

    def open(self, max_files_per_trigger: int | None = None) -> None:
        """Reconcile persisted sidelines FIRST (re-apply filters,
        ``loadSidelines`` — SidelineSpoutHandler.java:227-322), then
        start the firehose last (race avoidance, same ordering as the
        reference)."""
        import time as _time

        self.controller.load_sidelines()
        self._last_sideline_refresh = _time.monotonic()
        # cold-start warm-up BEFORE the firehose starts: the one full
        # output scan; every later high-water read is in-memory
        self._ensure_hwm_warm()
        self._firehose = Firehose(
            self.spark,
            self.topic,
            self.controller,
            output_dir=self.out_dir,
            checkpoint_dir=os.path.join(self.workdir, "checkpoint"),
            trigger=self.trigger,
            recorder=self.recorder,
            sink=self._live_sink,
        )
        self._firehose.start(max_files_per_trigger=max_files_per_trigger)

    def _live_sink(self, kept: DataFrame, batch_id: int) -> None:
        """The firehose's delivery: with a retry runner, failures detour
        through the retry table (due retries re-enter ahead of new
        input) and exhausted rows land in the DLQ instead of the
        output."""
        import time as _time

        def _sink(ok: DataFrame) -> None:
            self._deliver(ok, self.live_route_id, batch_id)
            if self.rollup is not None:
                # continuous aggregate over the DELIVERED rows: merging
                # here (inside the sink, after the retry split) keeps the
                # rollup consistent with the output table — rows that
                # exhaust retries into the DLQ never count; rows that
                # succeed on a later retry count at their delivery batch.
                # The batch_id watermark still makes checkpoint-replayed
                # batches no-ops.
                prepared = ok if self.rollup_prepare is None else self.rollup_prepare(ok)
                if self.rollup.process_batch(prepared, batch_id):
                    self.recorder.count("rollup.batches")

        if self.retry_runner is None:
            _sink(kept)
            return
        split = self.retry_runner.process_batch(kept, int(_time.time() * 1000), _sink)
        self.recorder.count("retry.failed", split.failed)
        self.recorder.count("retry.exhausted", split.exhausted)
        if not split.dlq_written:
            self.recorder.count("retry.dlq_skipped")

    def _deliver(self, df: DataFrame, route_id: str, batch: int | str) -> int:
        """The one write into the merged output: ``df`` lands tagged
        ``route_id``, and its delivery metrics ride the write job
        (Observation) into the in-memory high-water accumulator, so
        progress/lag never rescan the sink.  Returns the rows written."""
        num_partitions = self.topic.num_partitions
        df, obs = observe_delivery(df, num_partitions, f"deliver-{route_id}-{batch}")
        write_sink_batch(df, self.out_dir, route_id=route_id)
        per_part, n = delivery_from_observation(obs, num_partitions)
        self._hwm.record(route_id, per_part, n)
        return n

    def process_all_available(self) -> None:
        assert self._firehose is not None, "call open() first"
        self._maybe_reconcile_sidelines()
        self._firehose.process_all_available()

    # -- periodic sideline reconciliation (T11) -----------------------------

    def _maybe_reconcile_sidelines(self) -> list[str]:
        """Timed reconciliation poll: runs :meth:`reconcile_sidelines`
        when ``sideline.refresh_interval_seconds`` has elapsed since the
        last reload (reference re-loads persisted sidelines on a timer,
        ``SidelineSpoutHandler.java:192-214``, default 600s).  Interval
        0 reconciles on every poll; negative disables the automatic
        path (explicit :meth:`reconcile_sidelines` still works)."""
        import time as _time

        interval = float(self.config["sideline.refresh_interval_seconds"])
        if interval < 0:
            return []
        if _time.monotonic() - self._last_sideline_refresh < interval:
            return []
        return self.reconcile_sidelines()

    def reconcile_sidelines(self) -> list[str]:
        """Re-read persisted sideline state — including payloads written
        by ANOTHER process sharing the state dir — re-apply firehose
        filters, and (re)spawn replay streams for RESUME/RESOLVE
        sidelines that have no running replay query (the loadSidelines
        re-spawn, ``SidelineSpoutHandler.java:227-322``).  Returns the
        route ids spawned."""
        import time as _time

        self._last_sideline_refresh = _time.monotonic()
        to_replay = self.controller.load_sidelines()
        spawned: list[str] = []
        for payload in to_replay:
            route_id = f"sideline-{payload.id}"
            if route_id not in self._active_replays():
                self.start_replay_stream(payload.id)
                spawned.append(route_id)
        self.recorder.count("sideline.reconcile")
        return spawned

    def close(self) -> None:
        """Graceful shutdown: monitor first, replays next, firehose
        last (reverse of open order; SpoutCoordinator.close
        ``SpoutCoordinator.java:476-515``).  Each query.stop() waits up
        to ``coordinator.max_shutdown_time_ms`` for the in-flight batch
        (wired to spark.sql.streaming.stopTimeout in build_session)."""
        self.stop_monitor()
        for route_id, q in list(self._replay_queries.items()):
            q.stop()
            self._replay_queries.pop(route_id, None)
        if self._firehose is not None:
            self._firehose.stop()
            self._firehose = None

    # -- produce (test/dev convenience) -------------------------------------

    def produce(self, records: list[tuple[str | None, str]]) -> int:
        return self.topic.append(records)

    # -- sideline API (SidelineController SPI passthrough) ------------------

    def sideline_start(self, sideline_id: str, predicate_sql: str):
        self.recorder.count("sideline.start")
        return self.controller.start(SidelineRequest(sideline_id, predicate_sql))

    def sideline_resume(self, sideline_id: str):
        self.recorder.count("sideline.resume")
        return self.controller.resume(sideline_id)

    def sideline_resolve(self, sideline_id: str):
        self.recorder.count("sideline.resolve")
        return self.controller.resolve(sideline_id)

    def run_replay(self, sideline_id: str) -> int:
        """Execute the sideline replay as a bounded batch job (T3/T9):
        read the recorded offset window with the negated filter, tag
        provenance, append to the merged output. RESOLVE-state replays
        additionally complete + clean up (T14). Returns rows replayed.

        Idempotence note: like the reference, a replay that runs in both
        RESUME and RESOLVE states would re-deliver (at-least-once); run
        it once per state transition or only at RESOLVE."""
        payload = self.controller.persistence.retrieve(sideline_id)
        df = self.controller.replay_df(self.spark, sideline_id)
        # observed metrics instead of a pre-count: the replay runs ONE
        # Spark job — row count + per-partition high-water marks ride
        # along with the sink write
        n = self._deliver(df, f"sideline-{sideline_id}", f"replay-{id(df)}")
        self.recorder.count(f"sideline.{sideline_id}.replayed", n)
        if payload is not None and payload.type is SidelineType.RESOLVE:
            self.controller.complete(sideline_id)
        return n

    def start_replay_stream(self, sideline_id: str, policy=None):
        """The reference's actual RESUME execution shape (T9): the
        replay runs as a PARALLEL, THROTTLED streaming query alongside
        the firehose (``SidelineSpoutHandler.java:404-466``; throttled
        via M4, ``ThrottledMessageBuffer``).

        Per micro-batch the replay re-reads its control payload, so a
        later RESOLVE bounds the running stream at the stamped ending
        offsets without a restart (``VirtualSpout.java:293-303`` ending
        check happens per record in the reference; here per batch).
        Rows arrive tagged ``sideline-<id>`` in the same merged output.

        Use :meth:`replay_stream_complete` + ``stop()`` +
        :meth:`SidelineController.complete` to finish (T3/T14); or use
        the batch :meth:`run_replay` for pure bounded drains."""
        from storm_dynamic_spout_spark.streaming.coordinator import ThrottledBufferPolicy

        self.controller._require(sideline_id, {SidelineType.RESUME, SidelineType.RESOLVE})
        route_id = f"sideline-{sideline_id}"
        max_routes = int(self.config["coordinator.max_concurrent_routes"])
        if len(self._active_replays()) + 1 >= max_routes:  # +1: the firehose
            raise RuntimeError(f"coordinator.max_concurrent_routes={max_routes} reached")
        if policy is None:
            # throttle derived from config: replays get 1/10 of the
            # firehose's per-trigger budget (ThrottledMessageBuffer's
            # protect-the-live-stream intent, buffer.max_size_per_route)
            per_route = int(self.config["buffer.max_size_per_route"])
            policy = ThrottledBufferPolicy(
                normal_max_per_trigger=per_route,
                throttled_max_per_trigger=max(per_route // 10, 1),
            )
        plan = policy.plan(route_id)
        stream = self.topic.read_stream(self.spark, plan.max_files_per_trigger)

        def _replay_batch(batch_df: DataFrame, batch_id: int) -> None:
            payload = self.controller.persistence.retrieve(sideline_id)
            if payload is None:
                return
            self._deliver(
                self.controller.replay_rows(payload, batch_df), route_id, batch_id
            )
            self.recorder.count(f"{route_id}.batches")

        writer = (
            stream.writeStream.queryName(route_id)
            .option(
                "checkpointLocation",
                os.path.join(self.workdir, f"checkpoint-{route_id}"),
            )
            .foreachBatch(_replay_batch)
        )
        if plan.trigger_interval_ms:
            writer = writer.trigger(
                processingTime=f"{plan.trigger_interval_ms} milliseconds"
            )
        q = writer.start()
        self._replay_queries[route_id] = q
        return q

    def _active_replays(self) -> dict[str, object]:
        """The running replay queries by route id: a stopped query
        (``stop()`` after completion, or failed) gives back its route
        slot and lets reconciliation respawn its sideline."""
        for route_id, q in list(self._replay_queries.items()):
            if not q.isActive:
                del self._replay_queries[route_id]
        return self._replay_queries

    def replay_stream_complete(self, sideline_id: str) -> bool:
        """Bounded-stream completion check (T3,
        ``VirtualSpout.attemptToComplete`` ``VirtualSpout.java:554-614``):
        true when the sideline is RESOLVE-bounded and every partition's
        replayed high-water mark reached its ending offset (partitions
        with nothing to replay count as done)."""
        payload = self.controller.persistence.retrieve(sideline_id)
        if payload is None:
            return True  # already completed + cleaned up
        if payload.type is not SidelineType.RESOLVE or payload.end_offsets is None:
            return False
        # expected side scans only the sideline's bounded offset window;
        # the replayed side is the in-memory delivery counter — the old
        # full-output count made completion polling O(history)
        expected = self.controller.replay_rows(payload, self.topic.read(self.spark))
        expected_n = expected.count()
        self._ensure_hwm_warm()
        return self._hwm.rows(f"sideline-{sideline_id}") >= expected_n

    # -- observability (O10, SpoutPartitionProgressMonitor arithmetic) ------

    def progress(self, route_id: str | None = None) -> dict[int, "object"]:
        """Per-partition progress of one route: starting offset (−1 for
        the firehose; the recorded start snapshot for sidelines),
        current = the route's delivered high-water mark, ending = the
        topic head (firehose) or the recorded end snapshot (resolved
        sidelines). Returns {partition: PartitionProgress} — the same
        processed/unprocessed/percentComplete arithmetic as
        ``SpoutPartitionProgressMonitor.java:100-123``."""
        from storm_dynamic_spout_spark.streaming.metrics import route_progress

        if route_id is None:
            route_id = self.live_route_id
        starting = {p: -1 for p in range(self.topic.num_partitions)}
        ending = self.topic.latest_offsets()
        if route_id != self.live_route_id:
            sid = route_id.removeprefix("sideline-")
            payload = self.controller.persistence.retrieve(sid)
            if payload is not None:
                starting = payload.start_offsets
                if payload.end_offsets is not None:
                    ending = payload.end_offsets
        # delivered high-water marks come from the in-memory accumulator
        # (fed per batch by the sink-write Observations); the output
        # table is scanned once at cold start, never per progress call —
        # the monitor tick stays O(1) at any output size
        self._ensure_hwm_warm()
        current = self._hwm.offsets(route_id)
        for p in starting:
            current.setdefault(p, starting[p])
        return route_progress(starting, current, ending)

    def lag(self, route_id: str | None = None) -> dict[int, int]:
        """The reference's own perf KPI: per-partition consumer lag =
        head offset − delivered offset (``kafka/Consumer.java:373-426``,
        reported as the Kafka lag metric). 0 when fully caught up."""
        prog = self.progress(route_id or self.live_route_id)
        out = {}
        for p, pp in prog.items():
            end = pp.ending_offset if pp.ending_offset is not None else pp.current_offset
            out[p] = max(end - pp.current_offset, 0)
        return out

    # -- consumer-state flush + monitor (O2 monitor thread, T2 flush) -------

    def flush_consumer_state(self) -> dict[str, dict[int, int]]:
        """Persist every route's delivered per-partition high-water mark
        through the O6 adapter (``VirtualSpout.flushState`` →
        ``persistConsumerState``, ``VirtualSpout.java:542-549``).  The
        checkpoint stays the restart source of truth; this table is the
        operational mirror a monitor or remote adapter reads.  Returns
        the flushed state per route.

        Reads the in-memory high-water accumulator (O(routes), no table
        scan) — the periodic flush used to aggregate the entire output
        table, which melts at 100 TB."""
        self._ensure_hwm_warm()
        states = self._hwm.snapshot()
        for route_id, offsets in states.items():
            self.consumer_state.persist_state(route_id, offsets)
        return states

    def _ensure_hwm_warm(self) -> None:
        """The one permitted full-output scan: populate the high-water
        accumulator at cold start (open(), or the first observability
        call on a freshly-restarted instance).  Everything after reads
        memory."""
        if self._hwm.warm:
            return
        if not dirswap.has_parquet(self.out_dir):
            # nothing delivered yet: planning the scan alone costs more
            # than a whole small batch, and it would find no rows
            self._hwm.warm_load([])
            return
        delivered = (
            self._full_output()
            .groupBy("route_id", "partition")
            .agg(F.max("offset").alias("cur"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        self._hwm.warm_load(delivered)

    def start_monitor(self) -> None:
        """The coordinator's monitor thread (``SpoutCoordinator.java:
        158-178`` reports status on a cadence): every
        ``coordinator.monitor_interval_ms`` record per-route total lag
        as a gauge; every ``coordinator.state_flush_interval_ms`` flush
        consumer state through the O6 adapter."""
        import threading
        import time as _time

        if self._monitor_thread is not None:
            return
        monitor_ms = int(self.config["coordinator.monitor_interval_ms"])
        flush_ms = int(self.config["coordinator.state_flush_interval_ms"])
        stop = threading.Event()

        def _loop() -> None:
            last_flush = _time.monotonic()
            while not stop.wait(monitor_ms / 1000.0):
                try:
                    total = sum(self.lag().values())
                    self.recorder.assign_value(
                        "route.{}.lag.total", total, self.live_route_id
                    )
                    if (_time.monotonic() - last_flush) * 1000.0 >= flush_ms:
                        self.flush_consumer_state()
                        last_flush = _time.monotonic()
                        self.recorder.count("consumer_state.flushes")
                except Exception:  # noqa: BLE001 - monitor must not kill the app
                    self.recorder.count("monitor.errors")

        self._monitor_stop = stop
        self._monitor_thread = threading.Thread(
            target=_loop, name="route-monitor", daemon=True
        )
        self._monitor_thread.start()

    def stop_monitor(self) -> None:
        if self._monitor_thread is None:
            return
        self._monitor_stop.set()
        self._monitor_thread.join(timeout=10)
        self._monitor_thread = None
        self._monitor_stop = None

    # -- output -------------------------------------------------------------

    def _full_output(self) -> DataFrame:
        """The stored output with all control columns — progress/lag and
        consumer-state arithmetic read this, independent of any declared
        ``output.fields`` projection."""
        return (
            self.spark.read.schema(SINK_SCHEMA)
            .parquet(self.out_dir)
            .drop("event_date")
        )

    def output(self) -> DataFrame:
        out = self._full_output()
        # declared output schema (SpoutConfig.java:70 spout.output_fields,
        # declared once in DynamicSpout.declareOutputFields): when set,
        # the output view projects to exactly those fields + provenance.
        # Storage keeps the full control columns (partition/offset) —
        # progress/lag arithmetic needs them.
        fields = self.config["output.fields"]
        if fields:
            if isinstance(fields, str):
                fields = [f.strip() for f in fields.split(",")]
            keep = list(fields) + ["route_id"]
            out = out.select(*[c for c in keep if c in out.columns])
        return out

    def optimize_output(self, target_files: int = 1) -> None:
        """Maintenance OPTIMIZE of the merged output table
        (:func:`~storm_dynamic_spout_spark.streaming.firehose.compact_sink`
        per (route_id, event_date) partition).  Call with the app CLOSED
        (no live firehose/replay queries): the directory swap would race
        their appends."""
        if self._firehose is not None or self._active_replays():
            raise RuntimeError("optimize_output requires a closed app")
        compact_sink(self.spark, self.out_dir, target_files)
