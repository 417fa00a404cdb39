"""Sideline state machine: START → RESUME → RESOLVE (SURVEY §2.9 T8-T12).

The reference's flagship feature: dynamically pause a filtered subset of
a multi-tenant stream, later replay exactly that subset from the
recorded start offset to a recorded end offset, in parallel with the
live stream (``README.md:320-366``).

Engine mapping (SURVEY §3.3):
- control table = one JSON file per sideline id under ``state_dir``
  (the ZK ``requests/{id}`` subtree analogue,
  ``sideline/persistence/ZookeeperPersistenceAdapter.java:262-280``);
  predicates persist as SQL strings, not serialized classes
  (vs ``FilterChainStepSerializer.java:46-95`` — SURVEY §7 hard part 5).
- START (``SidelineSpoutHandler.java:359-383``): snapshot the firehose
  ConsumerState, persist ``(id, predicate, start_offsets, START)``, add
  the drop-predicate to the firehose FilterChain.
- RESUME (``SidelineSpoutHandler.java:404-466``): keep the firehose
  filter; the replay consumes the *negated* predicate from the recorded
  start offsets with no end bound (a second, throttleable query).
- RESOLVE (``SidelineSpoutHandler.java:488-537``): remove the firehose
  filter; stamp current firehose offsets as the ending state — the
  replay becomes a *bounded batch* job and cleans up on completion
  (``SidelineVirtualSpoutHandler.java:73-92``).
- Reconciliation (``SidelineSpoutHandler.loadSidelines():227-322``): on
  engine start, re-apply filters for unresolved sidelines and re-spawn
  replays, firehose last.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from storm_dynamic_spout_spark.streaming.file_topic import FileTopic
from storm_dynamic_spout_spark.streaming.filter_chain import FilterChain


class SidelineType(str, Enum):
    """sideline/trigger/SidelineType.java:31-49."""

    START = "START"
    RESUME = "RESUME"
    RESOLVE = "RESOLVE"
    COMPLETED = "COMPLETED"


@dataclass
class SidelineRequest:
    """trigger/SidelineRequest.java:33-52 — id + the drop-predicate."""

    id: str
    predicate_sql: str  # drop-predicate (true ⇒ firehose drops the row)


@dataclass
class SidelinePayload:
    """sideline/persistence/SidelinePayload.java:35-79 — persisted state."""

    id: str
    predicate_sql: str
    type: SidelineType
    start_offsets: dict[int, int] = field(default_factory=dict)
    end_offsets: dict[int, int] | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "id": self.id,
                "predicate_sql": self.predicate_sql,
                "type": self.type.value,
                "start_offsets": self.start_offsets,
                "end_offsets": self.end_offsets,
            }
        )

    @classmethod
    def from_json(cls, payload: str) -> "SidelinePayload":
        d = json.loads(payload)
        return cls(
            id=d["id"],
            predicate_sql=d["predicate_sql"],
            type=SidelineType(d["type"]),
            start_offsets={int(k): v for k, v in d["start_offsets"].items()},
            end_offsets=(
                {int(k): v for k, v in d["end_offsets"].items()}
                if d["end_offsets"] is not None
                else None
            ),
        )


class SidelinePersistence:
    """CRUD+list of payloads, one JSON file per id (PersistenceAdapter
    SPI, ``sideline/persistence/PersistenceAdapter.java``)."""

    def __init__(self, state_dir: str) -> None:
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, sideline_id: str) -> str:
        return os.path.join(self.state_dir, f"sideline-{sideline_id}.json")

    def persist(self, payload: SidelinePayload) -> None:
        with open(self._path(payload.id), "w") as f:
            f.write(payload.to_json())

    def retrieve(self, sideline_id: str) -> SidelinePayload | None:
        p = self._path(sideline_id)
        if not os.path.exists(p):
            return None
        return SidelinePayload.from_json(open(p).read())

    def list_ids(self) -> list[str]:
        out = []
        for f in sorted(os.listdir(self.state_dir)):
            if f.startswith("sideline-") and f.endswith(".json"):
                out.append(f[len("sideline-") : -len(".json")])
        return out

    def delete(self, sideline_id: str) -> None:
        p = self._path(sideline_id)
        if os.path.exists(p):
            os.remove(p)


class InMemorySidelinePersistence:
    """Dict-backed persistence adapter, same surface as
    :class:`SidelinePersistence` (``sideline/persistence/
    InMemoryPersistenceAdapter.java:34-105`` — the embedded/test
    backend; swap in for the file adapter via the controller's
    ``persistence`` parameter, like the reference's FactoryManager
    wiring)."""

    def __init__(self) -> None:
        self._store: dict[str, str] = {}

    def persist(self, payload: SidelinePayload) -> None:
        self._store[payload.id] = payload.to_json()

    def retrieve(self, sideline_id: str) -> SidelinePayload | None:
        raw = self._store.get(sideline_id)
        return SidelinePayload.from_json(raw) if raw is not None else None

    def list_ids(self) -> list[str]:
        return sorted(self._store)

    def delete(self, sideline_id: str) -> None:
        self._store.pop(sideline_id, None)


class SidelineController:
    """SidelineController SPI (``handler/SidelineController.java:35-94``)
    over a FileTopic + FilterChain + persistence (pluggable — file JSON
    by default, :class:`InMemorySidelinePersistence` for embedded)."""

    def __init__(
        self,
        topic: FileTopic,
        chain: FilterChain,
        state_dir: str,
        persistence=None,
    ) -> None:
        self.topic = topic
        self.chain = chain
        self.persistence = persistence or SidelinePersistence(state_dir)

    # -- state machine ------------------------------------------------------

    def start(self, request: SidelineRequest) -> SidelinePayload:
        """Capture current offsets, persist, add filter to the firehose
        chain ⇒ the matching subset stops flowing next micro-batch.  An
        id with a persisted payload is rejected in every state: a START
        over a RESOLVE would overwrite the window its replay still owes."""
        if self.persistence.retrieve(request.id) is not None:
            raise ValueError(f"sideline already started: {request.id}")
        payload = SidelinePayload(
            id=request.id,
            predicate_sql=request.predicate_sql,
            type=SidelineType.START,
            start_offsets=self.topic.latest_offsets(),
        )
        self.persistence.persist(payload)
        self.chain.add_step(request.id, request.predicate_sql)
        return payload

    def resume(self, sideline_id: str) -> SidelinePayload:
        """Mark RESUME: firehose filter stays; the replay (negated
        predicate, from start offsets, unbounded) may now run."""
        payload = self._require(sideline_id, {SidelineType.START})
        payload.type = SidelineType.RESUME
        self.persistence.persist(payload)
        return payload

    def resolve(self, sideline_id: str) -> SidelinePayload:
        """Remove the firehose filter and stamp the ending state: the
        replay is now bounded and completes."""
        payload = self._require(sideline_id, {SidelineType.START, SidelineType.RESUME})
        if self.chain.has_step(sideline_id):
            self.chain.remove_step(sideline_id)
        payload.type = SidelineType.RESOLVE
        payload.end_offsets = self.topic.latest_offsets()
        self.persistence.persist(payload)
        return payload

    def complete(self, sideline_id: str) -> None:
        """Replay finished: clear persisted state
        (``SidelineVirtualSpoutHandler.java:73-92`` +
        ``kafka/Consumer.java:743-751`` removeConsumerState)."""
        self.persistence.delete(sideline_id)

    def _require(self, sideline_id: str, allowed: set[SidelineType]) -> SidelinePayload:
        payload = self.persistence.retrieve(sideline_id)
        if payload is None:
            raise KeyError(f"unknown sideline: {sideline_id}")
        if payload.type not in allowed:
            raise ValueError(
                f"sideline {sideline_id} is {payload.type.value}, expected one of "
                f"{sorted(t.value for t in allowed)}"
            )
        return payload

    # -- replay data plane --------------------------------------------------

    def replay_df(self, spark: SparkSession, sideline_id: str) -> DataFrame:
        """The sideline replay stream: NEGATED predicate over the
        recorded offset window ``(start, end]`` — exactly the rows the
        firehose dropped (``NegatingFilterChainStep.java:33-43``;
        resume builds starting state ``SidelineSpoutHandler.java:585-610``).

        RESUME (no end bound yet) reads start→latest; RESOLVE reads the
        recorded bounded window. Executes as a batch job over the offset
        range — partition-pruned parquet scan, predicate pushed down."""
        payload = self._require(
            sideline_id, {SidelineType.RESUME, SidelineType.RESOLVE}
        )
        return self.replay_rows(payload, self.topic.read(spark))

    def replay_rows(self, payload: SidelinePayload, df: DataFrame) -> DataFrame:
        """The rows of ``df`` (a topic read or a stream micro-batch) that
        the sideline owes: offset window ``(start, end]`` AND the
        predicate, through :meth:`FilterChain.drop` — a NULL-predicate
        row was kept by the firehose, so the replay never delivers it a
        second time."""
        window = df.filter(
            self.topic.offset_range_condition(payload.start_offsets, payload.end_offsets)
        )
        return FilterChain({payload.id: payload.predicate_sql}).drop(window)

    # -- reconciliation -----------------------------------------------------

    def load_sidelines(self) -> list[SidelinePayload]:
        """Rebuild the firehose chain from the persisted payloads (START
        and RESUME filter; RESOLVE does not, also when another process
        resolved it) and return the payloads whose replays must be
        (re)spawned (RESUME + RESOLVE).  The firehose calls this at the
        top of every micro-batch; startup reconciliation calls it before
        starting the firehose — the reference starts the firehose last
        for the same race-avoidance (``SidelineSpoutHandler.java:176-219``)."""
        chain = FilterChain()
        to_replay: list[SidelinePayload] = []
        for sid in self.persistence.list_ids():
            payload = self.persistence.retrieve(sid)
            if payload is None:
                continue
            if payload.type in (SidelineType.START, SidelineType.RESUME):
                chain.add_step(sid, payload.predicate_sql)
            if payload.type in (SidelineType.RESUME, SidelineType.RESOLVE):
                to_replay.append(payload)
        self.chain = chain
        return to_replay


# ---------------------------------------------------------------------------
# Trigger events (T12): the external control plane
# ---------------------------------------------------------------------------


@dataclass
class TriggerEvent:
    """sideline/recipes/trigger/TriggerEvent.java:42-96 — a control
    command written by an operator; the engine polls and dispatches."""

    type: SidelineType
    id: str
    predicate_sql: str
    created_by: str = ""
    description: str = ""
    processed: bool = False

    def to_dict(self) -> dict[str, Any]:
        return {
            "type": self.type.value,
            "id": self.id,
            "predicate_sql": self.predicate_sql,
            "created_by": self.created_by,
            "description": self.description,
            "processed": self.processed,
        }


class SidelineTrigger:
    """Trigger SPI (``sideline/trigger/SidelineTrigger.java:37-62``):
    an external control plane that opens against a controller, fires
    START/RESUME/RESOLVE commands while open, and closes. Subclass and
    override :meth:`poll` (called per micro-batch by the firehose) for
    a new backend — ZK watches, a DB outbox, an HTTP queue."""

    def open(self, controller: "SidelineController") -> None:
        self.controller = controller

    def poll(self) -> int:
        return 0

    def close(self) -> None:
        pass


class FileWatchTrigger(SidelineTrigger):
    """ZookeeperWatchTrigger analogue
    (``recipes/trigger/zookeeper/ZookeeperWatchTrigger.java:61-189``):
    watches a directory of TriggerEvent JSON files, dispatches unprocessed
    events to the controller in creation order, marks them processed
    (rewritten with ``processed: true``), replays unprocessed events on
    startup. Poll-based (called per micro-batch or timer tick) instead of
    a ZK watch — same at-least-once dispatch contract."""

    def __init__(self, events_dir: str, controller: SidelineController) -> None:
        self.events_dir = events_dir
        self.controller = controller
        os.makedirs(events_dir, exist_ok=True)

    def publish(self, event: TriggerEvent, name: str | None = None) -> str:
        """Operator-side helper (TriggerEventHelper analogue)."""
        existing = len([f for f in os.listdir(self.events_dir) if f.endswith(".json")])
        fname = name or f"event-{existing:06d}.json"
        path = os.path.join(self.events_dir, fname)
        with open(path, "w") as f:
            json.dump(event.to_dict(), f)
        return path

    def poll(self) -> int:
        """Dispatch all unprocessed events in order; returns the count
        dispatched successfully.

        A bad event (unknown id, illegal state transition, malformed
        JSON) must not kill the firehose query it polls under, and must
        not crash-loop on restart: each dispatch is isolated, and a
        failing event is marked ``processed`` with the error recorded
        (``error`` field) so it is never re-dispatched — the operator
        inspects and republishes a corrected command."""
        n = 0
        for fname in sorted(os.listdir(self.events_dir)):
            if not fname.endswith(".json"):
                continue
            path = os.path.join(self.events_dir, fname)
            try:
                d = json.load(open(path))
            except (json.JSONDecodeError, OSError):
                continue  # partially-written by the publisher; retry next poll
            if d.get("processed"):
                continue
            try:
                t = SidelineType(d["type"])
                if t == SidelineType.START:
                    self.controller.start(SidelineRequest(d["id"], d["predicate_sql"]))
                elif t == SidelineType.RESUME:
                    self.controller.resume(d["id"])
                elif t == SidelineType.RESOLVE:
                    self.controller.resolve(d["id"])
                else:
                    raise ValueError(f"undispatchable trigger type: {t.value}")
                n += 1
            except Exception as exc:  # noqa: BLE001 — quarantine, don't crash
                d["error"] = f"{type(exc).__name__}: {exc}"
            d["processed"] = True
            with open(path, "w") as f:
                json.dump(d, f)
        return n
