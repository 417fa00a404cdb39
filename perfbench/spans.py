"""Spans recorded around calls into the engine's modules.

The benchmark never edits the package: :class:`Tracer` replaces public
functions and methods with timing wrappers from outside (and puts the
originals back in :meth:`Tracer.restore`).  Spans carry name, start,
end, parent, run id and thread; they stay in memory and are written
once, when the run ends.  Spark work is attributed to spans afterwards
from the driver's status store (jobs, stages, tasks, executor CPU,
shuffle and spill), so tracing adds no Spark calls to the timed path.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float  # time.time() seconds
    end: float = 0.0
    run_id: str = ""


class Tracer:
    """Span recorder.  A disabled tracer records nothing and wraps
    nothing, so the untraced run pays no tracing cost."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- recording ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(
            next(self._ids), name, stack[-1].id if stack else None,
            threading.current_thread().name, time.time(), run_id=self.run_id,
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.spans.append(s)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def wrap(self, owner: object, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name``; ``on_call(result, args, kwargs)`` may add counts."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(out, args, kwargs)
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = (s.end - s.start) - covered
        return out

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total and self seconds."""
        selfs = self.self_times()
        agg: dict[str, dict[str, float]] = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            a = agg[s.name]
            a["n"] += 1
            a["total_s"] += s.end - s.start
            a["self_s"] += selfs[s.id]
        return dict(agg)

    def write(self, path: str, spark_by_span: dict[int, dict] | None = None) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec["self_s"] = selfs[s.id]
                if spark_by_span and s.id in spark_by_span:
                    rec["spark"] = spark_by_span[s.id]
                fh.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# Spark accounting from the status store
# ---------------------------------------------------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes")


def spark_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its stages' totals.
    Stage attempts are summed (a retried stage counts each attempt)."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS[2:], 0.0))
    seq = store.stageList(None, False, False, no_quantiles, None)
    for i in range(seq.size()):
        sd = seq.apply(i)
        st = stages[int(sd.stageId())]
        st["tasks"] += int(sd.numTasks())
        st["executor_cpu_s"] += int(sd.executorCpuTime()) / 1e9
        st["shuffle_bytes"] += int(sd.shuffleWriteBytes())
        st["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        jd = seq.apply(i)
        sub = jd.submissionTime()
        if sub.isEmpty():
            continue
        stage_ids = [int(x) for x in spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(jd.stageIds())]
        job = {"job_id": int(jd.jobId()), "submitted": sub.get().getTime() / 1000.0,
               "jobs": 1, "stages": len(stage_ids)}
        for f in SPARK_FIELDS[2:]:
            job[f] = sum(stages[s][f] for s in stage_ids if s in stages)
        jobs.append(job)
    return jobs


def attribute_jobs(tracer: Tracer, jobs: list[dict], names: tuple[str, ...]) -> dict[int, dict]:
    """Give each job to the innermost span named in ``names`` that was
    open when the job was submitted.  Exact for the closed-loop catalog
    workload; under concurrency a job goes to whichever listed span
    started last before it."""
    cands = sorted((s for s in tracer.spans if s.name.split("/")[0] in names), key=lambda s: s.start)
    out: dict[int, dict] = {}
    for job in jobs:
        owner = None
        for s in cands:
            if s.start > job["submitted"]:
                break
            if s.end >= job["submitted"]:
                owner = s
        if owner is None:
            continue
        acc = out.setdefault(owner.id, dict.fromkeys(SPARK_FIELDS, 0.0))
        for f in SPARK_FIELDS:
            acc[f] += job[f]
    return out
