"""The two streaming workloads: ``live_ingest`` and ``sideline_cycle``.

Both drive one :class:`DynamicStreamApp` over a 32-partition FileTopic
with retry/DLQ on and a static chain of START sidelines.  A producer
thread appends generated records on a fixed schedule (open loop), so a
stall in the engine delays delivery but never the schedule.

Latency is read off two probes wrapped around the app's own calls: the
end time of each live ``write_sink_batch`` and the per-partition
offsets the app records for that write (``RouteHighWater.record``).  An
append counts as delivered once every partition it wrote to has been
delivered up to its last live row.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from gen import FAILURE_CONDITION_SQL, FAIL_MARKER, RecordStream, tenant_key
from spans import Tracer

#: Zipf ranks of the tenants held by the static START chain, and of the
#: tenants the sideline cycles alternate between.
STATIC_RANKS = (40, 41, 42)
HEAD_RANK, TAIL_RANK = 0, 20


@dataclass(frozen=True)
class StreamShape:
    """Sizes of one streaming run (the benchmark defaults; tests shrink
    them)."""

    backlog_appends: int = 128  # two full batches at the file cap
    backlog_rows_per_append: int = 250
    files_per_trigger: int = 64
    appends_per_s: float = 13.0
    rows_per_append: int = 203
    #: open-loop time before the measured window: the first firehose
    #: batches after the drain run slower while the JVM warms up
    warm_s: float = 10.0
    hold_s: float = 1.0  # time a cycle stays in START and in RESUME


@dataclass
class Append:
    due: float
    sent: float = 0.0
    live_req: dict[int, int] = field(default_factory=dict)  # partition -> last live offset
    rows: int = 0


class DeliveryProbe:
    """Records when each live sink write ended and what it delivered,
    and when each published sideline command took effect."""

    def __init__(self, live_route: str) -> None:
        self.live_route = live_route
        self.events: list[tuple[float, dict[int, int]]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._commands: dict[str, dict] = {}  # command path -> timings
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        from storm_dynamic_spout_spark.streaming import app as app_mod
        from storm_dynamic_spout_spark.streaming.sideline import FileWatchTrigger

        probe = self
        orig_write = app_mod.write_sink_batch
        orig_record = app_mod.RouteHighWater.record
        orig_poll = FileWatchTrigger.poll

        def write_sink_batch(df, path, route_id=None, cluster=False):
            orig_write(df, path, route_id=route_id, cluster=cluster)
            if route_id == probe.live_route:
                probe._local.t_end = time.time()
                probe._finish_commands(probe._local.t_end)

        def record(hwm, route_id, per_partition, n_rows):
            orig_record(hwm, route_id, per_partition, n_rows)
            t_end = getattr(probe._local, "t_end", None)
            if route_id == probe.live_route and t_end is not None:
                with probe._lock:
                    probe.events.append((t_end, dict(per_partition)))
                probe._local.t_end = None

        def poll(trigger):
            n = orig_poll(trigger)
            probe._mark_applied(time.time())
            return n

        for owner, attr, new in (
            (app_mod, "write_sink_batch", write_sink_batch),
            (app_mod.RouteHighWater, "record", record),
            (FileWatchTrigger, "poll", poll),
        ):
            self._patched.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- commands --

    def watch_command(self, path: str, published: float) -> None:
        with self._lock:
            self._commands[path] = {"published": published}

    def _mark_applied(self, now: float) -> None:
        with self._lock:
            pending = [p for p, c in self._commands.items() if "applied" not in c]
        for p in pending:
            with open(p) as fh:
                if json.load(fh).get("processed"):
                    with self._lock:
                        self._commands[p]["applied"] = now

    def _finish_commands(self, t_end: float) -> None:
        with self._lock:
            for c in self._commands.values():
                if "applied" in c and "effective" not in c and t_end >= c["applied"]:
                    c["effective"] = t_end

    def command(self, path: str) -> dict:
        with self._lock:
            return dict(self._commands[path])

    # -- deliveries --

    def delivered_curve(self) -> tuple[list[float], dict[int, list[int]]]:
        """Event end times and, per partition, the running maximum of
        delivered offsets at each event (both monotone)."""
        with self._lock:
            events = sorted(self.events, key=lambda e: e[0])
        times = [t for t, _ in events]
        cum: dict[int, list[int]] = {}
        best: dict[int, int] = {}
        for i, (_t, per) in enumerate(events):
            for p, o in per.items():
                best[p] = max(best.get(p, -1), o)
            for p in best:
                cum.setdefault(p, [-1] * i).append(best[p])
        return times, cum

    def delivered_at(self, req: dict[int, int], curve) -> float | None:
        """Time of the first live sink write after which every
        ``partition -> offset`` in ``req`` was delivered."""
        times, cum = curve
        idx = 0
        for p, off in req.items():
            col = cum.get(p)
            if col is None:
                return None
            i = bisect.bisect_left(col, off)
            if i == len(col):
                return None
            idx = max(idx, i)
        return times[idx] if req else None


def _wait(probe, what: str, timeout_s: float = 60.0, every_s: float = 0.02):
    """Poll ``probe()`` until it returns something other than None;
    raise if the engine takes longer than ``timeout_s``."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        got = probe()
        if got is not None:
            return got
        time.sleep(every_s)
    raise TimeoutError(f"{what} did not finish within {timeout_s:.0f} s")


class Producer:
    """Appends generated records to the app's topic; remembers, per
    append, the last offset per partition of its rows the live route
    must deliver (not failing, not held by a sideline)."""

    def __init__(self, app, stream: RecordStream, held_keys: set[str]) -> None:
        from storm_dynamic_spout_spark.streaming.file_topic import _hash_partition

        self.app = app
        self.stream = stream
        self.held_keys = held_keys
        self._part = _hash_partition
        self.appends: list[Append] = []
        self.rows_meta: list[tuple[int, int, str, bool, float]] = []  # p, off, key, fail, sent
        self.late_max_s = 0.0

    def append_now(self, n_rows: int, due: float) -> Append:
        records = self.stream.batch(n_rows)
        topic = self.app.topic
        before = topic.latest_offsets()
        sent = time.time()
        self.late_max_s = max(self.late_max_s, sent - due)
        topic.append(records)
        a = Append(due, sent, rows=n_rows)
        nxt = dict(before)
        for key, value in records:
            p = self._part(key, topic.num_partitions)
            nxt[p] += 1
            fail = value.startswith(FAIL_MARKER)
            self.rows_meta.append((p, nxt[p], key, fail, sent))
            if not fail and key not in self.held_keys:
                a.live_req[p] = nxt[p]
        self.appends.append(a)
        return a

    def run_schedule(self, start: float, stop: threading.Event, interval: float, n_rows: int) -> None:
        i = 0
        while not stop.is_set():
            due = start + i * interval
            delay = due - time.time()
            if delay > 0 and stop.wait(delay):
                break
            self.append_now(n_rows, due)
            i += 1


class StreamingRun:
    """One streaming workload run against a fresh app directory."""

    def __init__(self, spark, workdir: str, seed: int, tracer: Tracer,
                 shape: StreamShape, cycles: bool) -> None:
        from storm_dynamic_spout_spark.engine import EngineConfig
        from storm_dynamic_spout_spark.streaming.app import DynamicStreamApp

        self.spark = spark
        self.workdir = workdir
        self.tracer = tracer
        self.shape = shape
        self.cycles = cycles
        cfg = EngineConfig({
            "retry.limit": 2,
            "retry.initial_delay_ms": 200,
            "retry.delay_multiplier": 2.0,
            # stopped replay streams keep their route slot
            # (DynamicStreamApp.start_replay_stream), so allow one per cycle
            "coordinator.max_concurrent_routes": 64,
            "sideline.refresh_interval_seconds": -1,
        })
        self.app = DynamicStreamApp(
            spark, os.path.join(workdir, "topic"), os.path.join(workdir, "app"),
            num_partitions=32, failure_condition_sql=FAILURE_CONDITION_SQL, config=cfg,
        )
        self.static_keys = {tenant_key(r) for r in STATIC_RANKS}
        self.cycle_keys = {tenant_key(HEAD_RANK), tenant_key(TAIL_RANK)} if cycles else set()
        self.producer = Producer(self.app, RecordStream(seed), self.static_keys | self.cycle_keys)
        self.probe = DeliveryProbe(self.app.live_route_id)
        self.cycle_log: list[dict] = []
        self.result: dict = {}

    # -- phases --

    def run(self, seconds: float) -> dict:
        self.probe.install()
        try:
            for i, r in enumerate(STATIC_RANKS):
                self.app.sideline_start(f"static{i}", f"key = '{tenant_key(r)}'")
            if self.cycles:
                drain = None
                self.app.open(max_files_per_trigger=self.shape.files_per_trigger)
            else:
                drain = self._drain_phase()
            open_loop = self._open_loop(seconds)
            # let the firehose consume and commit everything appended, so
            # the retry table and the DLQ are settled before the app closes
            self.app.process_all_available()
        finally:
            self.app.close()
            self.probe.restore()
        self.result = {"drain": drain, "open_loop": open_loop, "cycles": self.cycle_log}
        return self.result

    def _drain_phase(self) -> dict:
        shape = self.shape
        for _ in range(shape.backlog_appends):
            self.producer.append_now(shape.backlog_rows_per_append, time.time())
        backlog = list(self.producer.appends)
        rows = sum(a.rows for a in backlog)
        req = self._merged_req(backlog)
        t0 = time.time()
        self.app.open(max_files_per_trigger=shape.files_per_trigger)
        t = _wait(lambda: self.probe.delivered_at(req, self.probe.delivered_curve()), "backlog drain")
        return {"rows": rows, "elapsed_s": t - t0, "drain_rps": rows / (t - t0)}

    @staticmethod
    def _merged_req(appends: list[Append]) -> dict[int, int]:
        req: dict[int, int] = {}
        for a in appends:
            for p, o in a.live_req.items():
                req[p] = max(req.get(p, -1), o)
        return req

    def _open_loop(self, seconds: float) -> dict:
        shape = self.shape
        stop = threading.Event()
        start = time.time() + 0.05
        measured = start + shape.warm_s
        th = threading.Thread(
            target=self.producer.run_schedule, name="producer",
            args=(start, stop, 1.0 / shape.appends_per_s, shape.rows_per_append),
        )
        th.start()
        try:
            time.sleep(max(measured - time.time(), 0))
            if self.cycles:
                self._run_cycles(measured + seconds)
            else:
                time.sleep(max(measured + seconds - time.time(), 0))
        finally:
            stop.set()
            th.join()
        appends = self.producer.appends
        first = next((i for i, a in enumerate(appends) if a.due >= measured), len(appends))
        return {"first_index": first}

    # -- sideline cycles --

    def _publish(self, kind: str, sid: str, pred: str) -> dict:
        from storm_dynamic_spout_spark.streaming.sideline import SidelineType, TriggerEvent

        published = time.time()
        path = self.app.trigger.publish(TriggerEvent(SidelineType(kind), sid, pred))
        self.probe.watch_command(path, published)

        def effective():
            c = self.probe.command(path)
            return c if "effective" in c else None

        return {**_wait(effective, f"{kind} {sid}"), "kind": kind}

    def _run_cycles(self, until: float) -> None:
        i = 0
        while time.time() < until or i == 0:
            rank = HEAD_RANK if i % 2 == 0 else TAIL_RANK
            sid, tenant = f"cycle{i}", tenant_key(rank)
            pred = f"key = '{tenant}'"
            entry = {"id": sid, "tenant": tenant, "head": rank == HEAD_RANK, "commands": []}
            self.cycle_log.append(entry)
            with self.tracer.span("cycle"):
                entry["commands"].append(self._publish("START", sid, pred))
                time.sleep(self.shape.hold_s)
                entry["commands"].append(self._publish("RESUME", sid, pred))
                query = self.app.start_replay_stream(sid)
                time.sleep(self.shape.hold_s)
                res = self._publish("RESOLVE", sid, pred)
                entry["commands"].append(res)
                # each completion check is a Spark count over the replay
                # window, so poll at an operator's cadence, not in a spin
                _wait(lambda: self.app.replay_stream_complete(sid) or None, f"replay {sid}", every_s=0.25)
                entry["replay_drain_s"] = time.time() - res["published"]
                query.stop()
                self.app.controller.complete(sid)
            i += 1

    # -- results --

    def latencies(self) -> tuple[list[float], int]:
        """Per-append delivery latency (from due time) for the open-loop
        appends, and how many were never delivered."""
        curve = self.probe.delivered_curve()
        first = self.result["open_loop"]["first_index"]
        out, missing = [], 0
        for a in self.producer.appends[first:]:
            if not a.live_req:
                continue
            t = self.probe.delivered_at(a.live_req, curve)
            if t is None:
                missing += 1
            else:
                out.append(t - a.due)
        return out, missing

    def backlog_files(self) -> float:
        """Median number of appended-but-undelivered files seen at each
        live sink write of the open loop."""
        curve = self.probe.delivered_curve()
        first = self.result["open_loop"]["first_index"]
        done = sorted(
            (self.probe.delivered_at(a.live_req, curve) or float("inf"), a.sent)
            for a in self.producer.appends[first:] if a.live_req
        )
        sent = sorted(s for _, s in done)
        delivered = [d for d, _ in done]
        samples = []
        for t in curve[0]:
            if sent and t >= sent[0]:
                samples.append(bisect.bisect_right(sent, t) - bisect.bisect_right(delivered, t))
        return statistics.median(samples) if samples else 0.0

    def account(self) -> dict:
        """Check every produced row against the output, the pending
        retry table and the DLQ."""
        import pandas as pd

        spark = self.spark
        produced = pd.DataFrame(self.producer.rows_meta, columns=["partition", "offset", "key", "fail", "sent"])
        topic = self.app.topic.read(spark).select("partition", "offset").toPandas()
        app_dir = os.path.join(self.workdir, "app")

        def read_keys(path: str, route: bool = False) -> pd.DataFrame:
            if not os.path.isdir(path):
                return pd.DataFrame(columns=["partition", "offset"] + (["route_id"] if route else []))
            df = spark.read.option("basePath", path).parquet(path)
            cols = ["partition", "offset"] + (["route_id"] if route else [])
            return df.select(*cols).toPandas()

        out = read_keys(self.app.out_dir, route=True)
        retry = read_keys(os.path.join(app_dir, "retries"))
        dlq = read_keys(self.app.dlq_dir)
        key = ["partition", "offset"]
        replay_rows = int((out["route_id"] != self.app.live_route_id).sum())
        n_out = out.groupby(key).size().rename("n_out")
        n_failed_store = pd.concat([retry[key], dlq[key]]).groupby(key).size().rename("n_fail")
        rows = produced.set_index(key).join(n_out).join(n_failed_store).fillna({"n_out": 0, "n_fail": 0})
        static = rows["key"].isin(self.static_keys)
        held_static = static & (rows["n_out"] == 0) & (rows["n_fail"] == 0)
        unknown_out = len(set(map(tuple, out[key].values)) - set(rows.index))
        topic_ok = len(topic) == len(produced)
        if not self.cycles:
            ok_row = (
                held_static
                | (~static & rows["fail"] & (rows["n_out"] == 0) & (rows["n_fail"] == 1))
                | (~static & ~rows["fail"] & (rows["n_out"] == 1) & (rows["n_fail"] == 0))
            )
            failed = int((~ok_row).sum())
            bad = rows[~ok_row].reset_index().head(5)
            return {
                "failed_sample": bad[["partition", "offset", "key", "fail", "n_out", "n_fail"]].to_dict("records"),
                "attempted": len(rows), "failed": failed,
                "correct": failed == 0 and unknown_out == 0 and topic_ok,
                "dlq_rows": len(dlq), "retry_pending_rows": len(retry),
                "replay_rows": replay_rows,
            }
        # sideline_cycle: at-least-once — a row is lost when nothing holds it
        lost = rows[~static & (rows["n_out"] == 0) & (rows["n_fail"] == 0)]
        dup_rows = int((rows["n_out"] > 1).sum())
        unexplained = 0
        per_cycle = {c["id"]: 0 for c in self.cycle_log}
        for r in lost.itertuples():
            # the defect's signature: the row was appended before its
            # tenant's START took effect (stamped as consumed, then
            # dropped), so it belongs to the first such START after it
            owners = [
                c for c in self.cycle_log
                if c["tenant"] == r.key and c["commands"] and c["commands"][0]["applied"] >= r.sent
            ]
            owner = min(owners, key=lambda c: c["commands"][0]["applied"], default=None)
            if owner is None:
                unexplained += 1
            else:
                per_cycle[owner["id"]] += 1
        for c in self.cycle_log:
            c["lost_rows"] = per_cycle[c["id"]]
        failed = sum(1 for n in per_cycle.values() if n)
        return {
            "attempted": len(self.cycle_log), "failed": failed,
            "correct": unexplained == 0 and unknown_out == 0 and topic_ok,
            "lost_rows": int(len(lost)), "duplicated_rows": dup_rows,
            "unexplained_lost_rows": unexplained,
            "lost_rows_head_cycles": sum(per_cycle[c["id"]] for c in self.cycle_log if c["head"]),
            "dlq_rows": len(dlq), "retry_pending_rows": len(retry),
            "replay_rows": replay_rows,
        }
