"""Metrics + progress monitoring (SURVEY §2.10 O9/O10).

The reference records counters/gauges/timers through a MetricsRecorder
SPI (``metrics/MetricsRecorder.java:36-150``) with a fixed catalog
(``metrics/SpoutMetrics.java``: buffer size, running/errored/completed
spouts, per-vspout ack/emit/fail/filtered, per-partition offsets and
percentComplete) and derives completion from starting/current/ending
state (``coordinator/SpoutPartitionProgressMonitor.java:40-209``).

Engine mapping: StreamingQueryProgress already carries numInputRows /
inputRowsPerSecond / per-source offsets; a StreamingQueryListener feeds
them into the same recorder API, and the progress arithmetic below is
the reference's percentComplete formula over control-table offsets.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass
from threading import Lock
from typing import Any


def build_key(template: str, *parameters: Any) -> str:
    """Metric key interpolation: each ``{}`` placeholder replaced in
    order by the stringified parameter (``metrics/KeyBuilder`` —
    per-vspout keys like ``vspout.{}.ack``). Extra placeholders remain
    literal; extra parameters are ignored — same forgiving contract."""
    out = template
    for p in parameters:
        if "{}" not in out:
            break
        out = out.replace("{}", str(p), 1)
    return out


class MetricsRecorder:
    """count/countBy/assign_value/timer surface
    (``metrics/MetricsRecorder.java:36-150``). Thread-safe in-memory
    recorder; subclass to ship elsewhere (LogRecorder analogue etc.).
    Keys may carry ``{}`` placeholders filled from ``*params``."""

    def __init__(self) -> None:
        self._lock = Lock()
        self.counters: dict[str, int] = defaultdict(int)
        self.gauges: dict[str, Any] = {}
        self.timers: dict[str, list[float]] = defaultdict(list)

    def count(self, key: str, amount: int = 1, *params: Any) -> None:
        with self._lock:
            self.counters[build_key(key, *params)] += amount

    def assign_value(self, key: str, value: Any, *params: Any) -> None:
        with self._lock:
            self.gauges[build_key(key, *params)] = value

    def start_timer(self) -> float:
        return time.perf_counter()

    def stop_timer(self, key: str, started: float) -> float:
        elapsed = time.perf_counter() - started
        with self._lock:
            self.timers[key].append(elapsed)
        return elapsed


class TimerManager:
    """Start/stop timers BY KEY (``metrics/TimerManager.java:37-84``):
    ``start(key)`` remembers the clock, ``stop(key)`` records the
    elapsed time into the recorder and returns elapsed milliseconds.
    Stopping an unstarted key raises, like the reference."""

    def __init__(self, recorder: MetricsRecorder) -> None:
        self._recorder = recorder
        self._starts: dict[str, float] = {}
        self._lock = Lock()

    def start(self, key: str) -> None:
        with self._lock:
            self._starts[key] = time.perf_counter()

    def stop(self, key: str) -> float:
        with self._lock:
            started = self._starts.pop(key, None)
        if started is None:
            raise KeyError(f"no timer started for key: {key}")
        elapsed_s = self._recorder.stop_timer(key, started)
        return elapsed_s * 1000.0


class LogRecorder(MetricsRecorder):
    """Recorder that additionally emits every update through ``logging``
    (the ``metrics/LogRecorder.java`` role: observability with no metric
    infrastructure attached). Keeps the in-memory state so reads — tests,
    progress gauges — still work."""

    def __init__(self, logger_name: str = "storm_dynamic_spout_spark.metrics") -> None:
        import logging

        super().__init__()
        self._log = logging.getLogger(logger_name)

    def count(self, key: str, amount: int = 1, *params: Any) -> None:
        super().count(key, amount, *params)
        k = build_key(key, *params)
        self._log.info("counter %s = %d", k, self.counters[k])

    def assign_value(self, key: str, value: Any, *params: Any) -> None:
        super().assign_value(key, value, *params)
        self._log.info("gauge %s = %s", build_key(key, *params), value)

    def stop_timer(self, key: str, started: float) -> float:
        elapsed = super().stop_timer(key, started)
        self._log.info("timer %s += %.6fs", key, elapsed)
        return elapsed


class JsonLinesRecorder(MetricsRecorder):
    """Recorder that appends one JSON object per update to a file — the
    ship-to-a-real-metrics-backend seam (the ``DropwizardRecorder.java``
    role; a collector tails the file instead of scraping a registry).
    Events carry a monotonic sequence number rather than wall-clock so
    output is deterministic and diff-able."""

    def __init__(self, path: str) -> None:
        import os

        super().__init__()
        self.path = path
        self._seq = 0
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _emit(self, kind: str, key: str, value: Any) -> None:
        import json

        with self._lock:
            self._seq += 1
            rec = {"seq": self._seq, "kind": kind, "key": key, "value": value}
            with open(self.path, "a") as f:
                f.write(json.dumps(rec) + "\n")

    def count(self, key: str, amount: int = 1, *params: Any) -> None:
        super().count(key, amount, *params)
        self._emit("counter", build_key(key, *params), amount)

    def assign_value(self, key: str, value: Any, *params: Any) -> None:
        super().assign_value(key, value, *params)
        k = build_key(key, *params)
        self._emit("gauge", k, value if isinstance(value, (int, float, str)) else str(value))

    def stop_timer(self, key: str, started: float) -> float:
        elapsed = super().stop_timer(key, started)
        self._emit("timer", key, elapsed)
        return elapsed


class PrometheusTextRecorder(MetricsRecorder):
    """Recorder that maintains a pull file in the Prometheus text
    exposition format (the node_exporter *textfile collector* pattern:
    a scraper reads the file; nothing in the engine binds a port).
    This is the ``metrics/DropwizardRecorder.java:42`` analogue — the
    same counters/gauges/timers split mapped onto a public metrics
    surface: counters emit as monotonic ``_total`` series, gauges as
    plain gauges, timers as ``_seconds`` summaries (sum + count).

    The file is rewritten atomically (tmp + ``os.replace``) on every
    update — a scrape never sees a torn file.  Metric names are
    sanitized to the Prometheus grammar (dots/dashes → underscores);
    the original engine key is preserved as a ``key`` label so dashboards
    can still group by the reference's dotted names."""

    def __init__(self, path: str) -> None:
        import os

        super().__init__()
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    @staticmethod
    def _sanitize(key: str) -> str:
        import re

        name = re.sub(r"[^a-zA-Z0-9_:]", "_", key)
        if not name or not (name[0].isalpha() or name[0] in "_:"):
            name = "_" + name
        return name

    def render(self) -> str:
        """The current exposition-format payload (what a scrape reads)."""
        lines: list[str] = []
        with self._lock:
            for key in sorted(self.counters):
                n = self._sanitize(key) + "_total"
                lines.append(f"# TYPE {n} counter")
                lines.append(f'{n}{{key="{key}"}} {self.counters[key]}')
            for key in sorted(self.gauges):
                v = self.gauges[key]
                if not isinstance(v, (int, float)) or isinstance(v, bool):
                    continue  # non-numeric gauges are not representable
                n = self._sanitize(key)
                lines.append(f"# TYPE {n} gauge")
                lines.append(f'{n}{{key="{key}"}} {v}')
            for key in sorted(self.timers):
                samples = self.timers[key]
                n = self._sanitize(key) + "_seconds"
                lines.append(f"# TYPE {n} summary")
                lines.append(f'{n}_sum{{key="{key}"}} {sum(samples)}')
                lines.append(f'{n}_count{{key="{key}"}} {len(samples)}')
        return "\n".join(lines) + ("\n" if lines else "")

    def _flush(self) -> None:
        import os

        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            f.write(self.render())
        os.replace(tmp, self.path)

    def count(self, key: str, amount: int = 1, *params: Any) -> None:
        super().count(key, amount, *params)
        self._flush()

    def assign_value(self, key: str, value: Any, *params: Any) -> None:
        super().assign_value(key, value, *params)
        self._flush()

    def stop_timer(self, key: str, started: float) -> float:
        elapsed = super().stop_timer(key, started)
        self._flush()
        return elapsed


def make_recorder(config) -> MetricsRecorder:
    """Recorder from config (``metrics.recorder``: memory | log | jsonl
    | prometheus) — the reference picks its recorder class the same way
    (``SpoutConfig`` key ``metrics.class`` → Log/Storm/Dropwizard)."""
    kind = str(config.get("metrics.recorder", "memory"))
    if kind == "memory":
        return MetricsRecorder()
    if kind == "log":
        return LogRecorder()
    if kind == "jsonl":
        path = config.get("metrics.jsonl_path")
        if not path:
            raise ValueError("metrics.recorder=jsonl requires metrics.jsonl_path")
        return JsonLinesRecorder(str(path))
    if kind == "prometheus":
        path = config.get("metrics.prom_path")
        if not path:
            raise ValueError("metrics.recorder=prometheus requires metrics.prom_path")
        return PrometheusTextRecorder(str(path))
    raise ValueError(f"unknown metrics.recorder: {kind!r}")


#: The engine's emitted metric keys (``metrics/SpoutMetrics.java``
#: catalog analogue). ``{}`` placeholders interpolate via build_key;
#: f-string keys are listed with their symbolic segment. The doc
#: generator renders this table into README.md — keep entries in sync
#: with emit sites (tests assert every literal emit key is cataloged).
METRIC_CATALOG: list[tuple[str, str, str]] = [
    ("firehose.batches", "counter", "Micro-batches processed by the live firehose route"),
    ("sideline.start", "counter", "Sideline START commands accepted"),
    ("sideline.resume", "counter", "Sideline RESUME commands accepted"),
    ("sideline.resolve", "counter", "Sideline RESOLVE commands accepted"),
    ("sideline.<id>.replayed", "counter", "Rows delivered by a sideline's bounded batch replay"),
    ("sideline-<id>.batches", "counter", "Micro-batches processed by a sideline's parallel replay stream"),
    ("queries.started", "counter", "Streaming queries started (listener onQueryStarted)"),
    ("queries.completed", "counter", "Streaming queries terminated cleanly"),
    ("queries.errored", "counter", "Streaming queries terminated with an exception"),
    ("query.<name>.batches", "counter", "Progress events per query (one per micro-batch)"),
    ("query.<name>.input_rows", "counter", "Cumulative input rows across the query's batches"),
    ("query.<name>.input_rows_per_second", "gauge", "Latest inputRowsPerSecond reported by the query"),
    ("query.<name>.batch_id", "gauge", "Latest micro-batch id"),
    ("query.<name>.duration_ms.<phase>", "gauge", "Latest per-phase batch durations (addBatch, getBatch, ...)"),
    ("query.<name>.source.<i>.lag", "gauge", "Backlog of source i when the source reports latestOffset"),
    ("query.<name>.exception", "gauge", "Terminal exception text (error-report sink, S8)"),
    ("route.{}.partition.{}.lag", "gauge", "Per-partition consumer lag of a route (topic head minus committed)"),
    ("route.{}.lag.total", "gauge", "Total consumer lag of a route across partitions"),
    ("sideline.reconcile", "counter", "Periodic sideline reconciliation runs (T11 timer)"),
    ("consumer_state.flushes", "counter", "Consumer-state flushes through the O6 adapter (monitor thread)"),
    ("monitor.errors", "counter", "Monitor-thread iterations that raised (app kept running)"),
    ("rollup.batches", "counter", "Micro-batches merged into the continuous rollup (skipped replays excluded)"),
    ("retry.failed", "counter", "Firehose rows that failed the retry condition (new and due retries)"),
    ("retry.exhausted", "counter", "Failed firehose rows past the retry limit, routed to the DLQ"),
    ("retry.dlq_skipped", "counter", "Firehose batches whose DLQ append was skipped (no row could exhaust)"),
]


@dataclass(frozen=True)
class PartitionProgress:
    """Per-partition completion arithmetic
    (``SpoutPartitionProgressMonitor.java:100-123``)."""

    starting_offset: int
    current_offset: int
    ending_offset: int | None = None

    @property
    def total_processed(self) -> int:
        return max(self.current_offset - self.starting_offset, 0)

    @property
    def total_unprocessed(self) -> int | None:
        if self.ending_offset is None:
            return None
        return max(self.ending_offset - self.current_offset, 0)

    @property
    def total_messages(self) -> int | None:
        if self.ending_offset is None:
            return None
        return self.ending_offset - self.starting_offset

    @property
    def percent_complete(self) -> float | None:
        total = self.total_messages
        if total is None:
            return None
        if total <= 0:
            return 100.0
        return 100.0 * self.total_processed / total


def route_progress(
    starting: dict[int, int],
    current: dict[int, int],
    ending: dict[int, int] | None = None,
) -> dict[int, PartitionProgress]:
    """Progress per partition for one route (sideline replay progress =
    this over the control table's start/end snapshots + the replay's
    current offsets)."""
    out = {}
    for p, start in starting.items():
        out[p] = PartitionProgress(
            starting_offset=start,
            current_offset=current.get(p, start),
            ending_offset=None if ending is None else ending.get(p),
        )
    return out


def _offset_total(raw: Any) -> int | None:
    """Best-effort scalar from a source-offset JSON string: a bare int,
    ``{"logOffset": n}`` (file sources), or a ``{topic: {partition:
    offset}}`` map (Kafka-shaped — summed). None when unparseable, so
    lag is simply not reported for exotic sources."""
    if raw is None:
        return None
    import json

    v = raw
    if isinstance(raw, str):
        if raw == "None":
            return None
        try:
            v = json.loads(raw)
        except (ValueError, TypeError):
            # progress dicts sometimes carry Python-repr offsets
            # ({'logOffset': 0}) rather than JSON
            import ast

            try:
                v = ast.literal_eval(raw)
            except (ValueError, SyntaxError):
                return None
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, dict):
        total = 0
        for x in v.values():
            sub = _offset_total(x)
            if sub is None:
                return None
            total += sub
        return total
    return None


def record_route_lag(
    recorder: MetricsRecorder, route_id: str, lag_by_partition: dict[int, int]
) -> int:
    """Gauge a route's per-partition + total consumer lag (the
    reference's per-partition Kafka-lag KPI). File sources don't report
    ``latestOffset`` in StreamingQueryProgress, so for FileTopic routes
    the caller feeds ``DynamicStreamApp.lag(route_id)`` here instead —
    same key shape as the listener's source-lag gauges."""
    total = 0
    for part, lag in lag_by_partition.items():
        recorder.assign_value("route.{}.partition.{}.lag", lag, route_id, part)
        total += lag
    recorder.assign_value("route.{}.lag.total", total, route_id)
    return total


def attach_query_listener(spark, recorder: MetricsRecorder):
    """Wire a StreamingQueryListener → MetricsRecorder (O8/O9 mapping:
    onQueryStarted/Progress/Terminated ≈ the SpoutHandler lifecycle +
    per-vspout counters). Returns the listener for later removal."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Recorder(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            recorder.count("queries.started")

        def onQueryProgress(self, event) -> None:
            p = event.progress
            name = p.name or p.id
            recorder.count(f"query.{name}.batches")
            recorder.count(f"query.{name}.input_rows", p.numInputRows)
            recorder.assign_value(
                f"query.{name}.input_rows_per_second", p.inputRowsPerSecond
            )
            # per-source consumer lag (the reference's Kafka-lag KPI,
            # SpoutPartitionProgressMonitor): latestOffset - endOffset
            for i, s in enumerate(p.sources):
                latest = _offset_total(getattr(s, "latestOffset", None))
                end = _offset_total(getattr(s, "endOffset", None))
                if latest is not None and end is not None:
                    recorder.assign_value(
                        f"query.{name}.source.{i}.lag", max(latest - end, 0)
                    )
            # batch-phase timings (addBatch/getBatch/triggerExecution…)
            for phase, ms in (p.durationMs or {}).items():
                recorder.assign_value(f"query.{name}.duration_ms.{phase}", ms)
            recorder.assign_value(f"query.{name}.batch_id", p.batchId)

        def onQueryTerminated(self, event) -> None:
            # error-report sink (S8): surfaced like reportError
            if event.exception is not None:
                recorder.count("queries.errored")
                recorder.assign_value(f"query.{event.id}.exception", event.exception)
            else:
                recorder.count("queries.completed")

    listener = _Recorder()
    spark.streams.addListener(listener)
    return listener
