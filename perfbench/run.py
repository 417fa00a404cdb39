"""Benchmark entry point.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 16 --trace 0

Builds everything it needs from the source tree it sits in, makes its
inputs from ``--seed``, measures for ``--seconds`` and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The line
before it is the full report: every workload-specific metric, the
correctness details, seed, core count, versions and session confs.
Work files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("live_ingest", "sideline_cycle", "catalog_batch")
SETUP_REPEATS = 3
#: Catalog fixture scale: sf 0.01 keeps the first, cold pass inside the
#: run budget (see perfbench/README.md).
CATALOG_SF = 0.01

#: End-to-end metrics printed with --trace 0, on every workload.  The
#: timings below swing by more than a quarter from run to run on a shared
#: 4-vCPU host (perfbench/README.md, "Measured figures"), so they are
#: reported, not gated.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
#: End-to-end metrics of the report line (the line before the result),
#: by the workloads that have them.
REPORTED = {
    "latency_p50_s": "s", "latency_p95_s": "s",
    "drain_rps": "rec/s", "command_p50_s": "s", "replay_drain_s": "s",
    "relational_s": "s", "iterative_s": "s",
}
_STREAM_LAYER = {
    "file_topic.append_s": "s", "file_topic.appends": "count", "file_topic.read_range_s": "s",
    "sideline.poll_s": "s", "sideline.polls": "count", "sideline.state_reads": "count",
    "sideline.transition_s": "s",
    "filter_chain.steps": "count", "filter_chain.keep_s": "s",
    "retry.batch_self_s": "s", "retry.pending_rows": "count", "dlq.rows": "count",
    "dirswap.swap_s": "s", "dirswap.swaps": "count",
    "sink.write_s": "s", "sink.writes": "count", "sink.files": "count", "sink.bytes": "B",
    "app.observe_wait_s": "s", "app.complete_check_s": "s", "app.complete_checks": "count",
    "app.replay_rows": "count",
    "batch.count": "count", "batch.trigger_s": "s", "batch.add_s": "s", "batch.jobs": "count",
    "batch.tasks": "count", "source.backlog_files": "count", "producer.late_max_s": "s",
}
_CATALOG_LAYER = {
    f"{g}.{m}": u
    for g in ("relational", "iterative")
    for m, u in (
        ("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("exec_jobs", "count"),
        ("stages", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
        ("shuffle_bytes", "B"), ("spill_bytes", "B"),
    )
}
#: Per-layer metrics printed with --trace 1, on every workload (0 where
#: the workload leaves the layer idle).
PER_LAYER = {
    "engine.session_s": "s", "engine.warmup_s": "s",
    **_STREAM_LAYER, **_CATALOG_LAYER,
    "trace.spans": "count", "trace.headline_s": "s",
}


def _require_tree() -> None:
    pkg = ROOT / "storm_dynamic_spout_spark"
    if not (pkg / "__init__.py").is_file():
        print(f"perfbench: engine sources not found next to {HERE.name}/", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, str(HERE))
    sys.path.insert(1, str(ROOT))


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0.0 for no values (the run is then
    reported incorrect)."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _descendants(pid: int) -> set[int]:
    """Pids of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    found, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            found.add(c)
            todo.append(c)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the SparkContext and the JVM, and wait until the JVM and every
    process below it (the PySpark worker daemon and its workers) have
    exited; whatever is left after ``grace_s`` is killed.

    The JVM only notices that its Python parent is gone some time after
    the parent exits, so the run closes its stdin itself and waits."""
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    try:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + grace_s
        left = {p for p in started | _descendants(os.getpid()) if _alive(p)}
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = {p for p in left if _alive(p)}
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(_alive(p) for p in left):
            time.sleep(0.05)


class Session:
    """The engine session with the benchmark's pinned confs."""

    def __init__(self, cores: int) -> None:
        from storm_dynamic_spout_spark.engine import EngineConfig

        self.cores = cores
        self.config = EngineConfig({
            "spark.master": f"local[{cores}]",
            "spark.shuffle_partitions": cores,
            # the engine default (48g) exceeds small hosts; pin to fit
            "spark.driver_memory": "1g",
        })
        # A heap that cannot grow keeps peak RSS repeatable.  JIT
        # thresholds at 1/20 of the defaults move the compile work to the
        # start of the run instead of spreading it over the timed window.
        java_opts = f"-Xms1g -XX:CompileThresholdScaling=0.05 -Djava.io.tmpdir={ROOT / '.perfbench' / 'tmp'}"
        self.confs = {
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.sql.ui.retainedExecutions": "200",
            "spark.local.dir": str(ROOT / ".perfbench" / "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
        }

    def build(self):
        from storm_dynamic_spout_spark.engine import build_session

        for d in ("spark-local", "tmp"):
            os.makedirs(ROOT / ".perfbench" / d, exist_ok=True)
        return build_session(self.config, **self.confs)

    def describe(self, spark) -> dict:
        import pyspark

        conf = dict(spark.sparkContext.getConf().getAll())
        keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled", "spark.sql.session.timeZone")
        return {
            "nproc": os.cpu_count(), "cores": self.cores,
            "spark_version": spark.version, "pyspark_version": pyspark.__version__,
            "python": platform.python_version(),
            "confs": {k: conf.get(k) for k in keep} | self.confs,
        }


def setup(session: Session, warmup) -> tuple[object, dict]:
    """Build the session and warm it up ``SETUP_REPEATS`` times (stopping
    the SparkContext in between; the first build also launches the
    JVM).  Returns the last session and the medians."""
    builds, warms = [], []
    spark = None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.build()
        t1 = time.perf_counter()
        warmup(spark, i)
        t2 = time.perf_counter()
        builds.append(t1 - t0)
        warms.append(t2 - t1)
    totals = [b + w for b, w in zip(builds, warms)]
    return spark, {
        "setup_s": statistics.median(totals),
        "setup_samples_s": totals,
        "engine.session_s": statistics.median(builds),
        "engine.warmup_s": statistics.median(warms),
    }


# ---------------------------------------------------------------------------
# Streaming workloads
# ---------------------------------------------------------------------------


def _stream_warmup(work: Path):
    """A tiny drain through the same app path (retry on, one START)."""

    def warm(spark, i):
        from gen import FAILURE_CONDITION_SQL, RecordStream
        from storm_dynamic_spout_spark.streaming.app import DynamicStreamApp

        d = work / f"warmup{i}"
        app = DynamicStreamApp(spark, str(d / "topic"), str(d / "app"), num_partitions=32,
                               failure_condition_sql=FAILURE_CONDITION_SQL)
        stream = RecordStream(10_000 + i)
        app.sideline_start("w", "key = 'tenant-001'")
        app.produce(stream.batch(400))
        app.open()
        app.process_all_available()
        app.close()
        shutil.rmtree(d, ignore_errors=True)

    return warm


def _install_stream_tracing(tracer) -> None:
    from storm_dynamic_spout_spark.streaming import app as app_mod
    from storm_dynamic_spout_spark.streaming import dirswap, firehose, retry
    from storm_dynamic_spout_spark.streaming.file_topic import FileTopic
    from storm_dynamic_spout_spark.streaming.filter_chain import FilterChain
    from storm_dynamic_spout_spark.streaming.sideline import (
        FileWatchTrigger,
        SidelineController,
        SidelinePersistence,
    )

    w = tracer.wrap
    w(FileTopic, "append", "file_topic.append")
    w(FileTopic, "read_range", "file_topic.read_range")
    w(FileWatchTrigger, "poll", "sideline.poll")
    w(SidelinePersistence, "retrieve", "sideline.state_read")
    for m in ("start", "resume", "resolve", "complete"):
        w(SidelineController, m, "sideline.transition")
    w(FilterChain, "keep", "filter_chain.keep",
      on_call=lambda out, a, kw: tracer.count("filter_chain.steps", len(a[0].steps)))
    w(retry.RetryTableRunner, "process_batch", "retry.batch")
    w(dirswap, "swap_publish", "dirswap.swap")
    w(firehose, "write_sink_batch", "sink.write")
    w(app_mod, "write_sink_batch", "sink.write")
    w(app_mod, "delivery_from_observation", "app.observe_wait")
    w(app_mod.DynamicStreamApp, "replay_stream_complete", "app.complete_check")


class _Progress:
    """Firehose micro-batch progress (trigger and addBatch durations)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.name == "firehose":
                    d = p.durationMs
                    rows.append((d.get("triggerExecution", 0) / 1000.0, d.get("addBatch", 0) / 1000.0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def run_streaming(args, tracer, work: Path, shape=None) -> tuple[dict, dict, dict]:
    from spans import spark_jobs
    from streaming import StreamingRun, StreamShape

    session = Session(os.cpu_count() or 1)
    spark, setup_m = setup(session, _stream_warmup(work))
    progress = None
    if tracer.enabled:
        _install_stream_tracing(tracer)
        progress = _Progress()
        spark.streams.addListener(progress.listener)
    cycles = args.workload == "sideline_cycle"
    run = StreamingRun(spark, str(work / "run"), args.seed, tracer, shape or StreamShape(), cycles)
    t_run = time.time()
    res = run.run(args.seconds)
    lat, missing = run.latencies()
    acct = run.account()
    rss = _peak_rss_mb(spark)
    out_dir = Path(run.app.out_dir)
    sink_files = list(out_dir.rglob("*.parquet"))
    report = {
        "setup_s": setup_m["setup_s"],
        "setup_samples_s": setup_m["setup_samples_s"],
        "latency_p50_s": _quantile(lat, 0.5),
        "latency_p95_s": _quantile(lat, 0.95),
        "appends_measured": len(lat),
        "appends_undelivered": missing,
        "peak_rss_mb": rss,
        "producer_late_max_s": run.producer.late_max_s,
    }
    if res["drain"]:
        report["drain_rps"] = res["drain"]["drain_rps"]
        report["drain_rows"] = res["drain"]["rows"]
    if cycles:
        cmds = [c["effective"] - c["published"] for cy in res["cycles"] for c in cy["commands"]]
        report["command_p50_s"] = _quantile(cmds, 0.5)
        report["replay_drain_s"] = statistics.median(c["replay_drain_s"] for c in res["cycles"])
        report["cycles"] = [
            {"id": c["id"], "tenant": c["tenant"], "head": c["head"], "lost_rows": c["lost_rows"],
             "replay_drain_s": c["replay_drain_s"],
             "command_s": [x["effective"] - x["published"] for x in c["commands"]]}
            for c in res["cycles"]
        ]
    report.update({k: v for k, v in acct.items() if k not in ("attempted", "failed", "correct")})

    layer = {}
    if tracer.enabled:
        tot = tracer.totals()

        def total(name, f="total_s"):
            return tot.get(name, {}).get(f, 0.0)

        jobs = [j for j in spark_jobs(spark) if j["submitted"] >= t_run]
        batches = progress.rows if progress else []
        n_batches = max(len(batches), 1)
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update({
            **{k: setup_m[k] for k in ("engine.session_s", "engine.warmup_s")},
            "file_topic.append_s": total("file_topic.append"),
            "file_topic.appends": total("file_topic.append", "n"),
            "file_topic.read_range_s": total("file_topic.read_range"),
            "sideline.poll_s": total("sideline.poll"),
            "sideline.polls": total("sideline.poll", "n"),
            "sideline.state_reads": total("sideline.state_read", "n"),
            "sideline.transition_s": total("sideline.transition"),
            "filter_chain.steps": tracer.counts.get("filter_chain.steps", 0),
            "filter_chain.keep_s": total("filter_chain.keep"),
            "retry.batch_self_s": total("retry.batch", "self_s"),
            "retry.pending_rows": acct.get("retry_pending_rows", 0),
            "dlq.rows": acct.get("dlq_rows", 0),
            "dirswap.swap_s": total("dirswap.swap"),
            "dirswap.swaps": total("dirswap.swap", "n"),
            "sink.write_s": total("sink.write"),
            "sink.writes": total("sink.write", "n"),
            "sink.files": len(sink_files),
            "sink.bytes": sum(f.stat().st_size for f in sink_files),
            "app.observe_wait_s": total("app.observe_wait"),
            "app.complete_check_s": total("app.complete_check"),
            "app.complete_checks": total("app.complete_check", "n"),
            "app.replay_rows": acct.get("replay_rows", 0),
            "batch.count": len(batches),
            "batch.trigger_s": _quantile([b[0] for b in batches], 0.5),
            "batch.add_s": _quantile([b[1] for b in batches], 0.5),
            "batch.jobs": len(jobs) / n_batches,
            "batch.tasks": sum(j["tasks"] for j in jobs) / n_batches,
            "source.backlog_files": run.backlog_files(),
            "producer.late_max_s": run.producer.late_max_s,
            "trace.headline_s": report["latency_p50_s"],
        })
        spark.streams.removeListener(progress.listener)
    report["session"] = session.describe(spark)
    spark.stop()
    metrics = {k: report[k] for k in END_TO_END}
    # an append the live route never delivered has no latency: the run
    # cannot vouch for its latency figures
    acct["correct"] = acct["correct"] and bool(lat) and missing == 0
    return metrics, layer, {**acct, "report": report}


# ---------------------------------------------------------------------------
# Catalog workload
# ---------------------------------------------------------------------------


def run_catalog(args, tracer, work: Path, sf: float = CATALOG_SF) -> tuple[dict, dict, dict]:
    import catalog
    from gen import write_catalog
    from spans import SPARK_FIELDS, attribute_jobs, spark_jobs

    t0 = time.perf_counter()
    data = write_catalog(args.seed, sf, str(work / "data"))
    gen_s = time.perf_counter() - t0

    def warm(spark, i):
        from storm_dynamic_spout_spark.queries import QUERIES

        for name in ("q1_pricing_summary", "tpch_q6"):
            QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()

    session = Session(os.cpu_count() or 1)
    with ThreadPoolExecutor(1) as pool:
        # the oracles run during the first setup, which launches the JVM
        # and is left out of the setup median
        oracles = pool.submit(catalog.oracle_results, data)
        spark, setup_m = setup(session, warm)
        expected = oracles.result()
    reps, ok = catalog.timed_reps(spark, data, expected, tracer, args.seconds)
    rss = _peak_rss_mb(spark)

    per_query = {n: statistics.median(b + e for b, e in r) for n, r in reps.items()}
    samples = [b + e for r in reps.values() for b, e in r]
    report = {
        "setup_s": setup_m["setup_s"],
        "setup_samples_s": setup_m["setup_samples_s"],
        "relational_s": sum(per_query[n] for n in catalog.RELATIONAL),
        "iterative_s": sum(per_query[n] for n in catalog.ITERATIVE),
        "latency_p50_s": _quantile(samples, 0.5),
        "latency_p95_s": _quantile(samples, 0.95),
        "peak_rss_mb": rss,
        "passes": min(len(r) for r in reps.values()),
        "per_query_median_s": per_query,
        "gen_s": gen_s, "sf": sf,
        "mismatched": sorted(n for n, good in ok.items() if not good),
    }
    layer, by_span = {}, None
    if tracer.enabled:
        jobs = spark_jobs(spark)
        by_span = attribute_jobs(tracer, jobs, ("build", "exec"))
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update({k: setup_m[k] for k in ("engine.session_s", "engine.warmup_s")})
        for s in tracer.spans:
            kind, _, group = s.name.partition("/")
            if kind not in ("build", "exec"):
                continue
            acc = by_span.get(s.id, dict.fromkeys(SPARK_FIELDS, 0.0))
            layer[f"{group}.{kind}_s"] += s.end - s.start
            layer[f"{group}.{kind}_jobs"] += acc["jobs"]
            for f in ("stages", "tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes"):
                layer[f"{group}.{f}"] += acc[f]
        layer["trace.headline_s"] = report["relational_s"] + report["iterative_s"]
    report["session"] = session.describe(spark)
    spark.stop()
    failed = len(report["mismatched"])
    metrics = {k: report[k] for k in END_TO_END}
    return metrics, layer, {"attempted": len(ok), "failed": failed, "correct": failed == 0,
                            "report": report, "spark_by_span": by_span}


def main(argv: list[str] | None = None, stream_shape=None, catalog_sf: float = CATALOG_SF) -> int:
    """CLI entry; ``stream_shape`` and ``catalog_sf`` shrink a run for
    the benchmark's own smoke tests."""
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    _require_tree()
    # keep every temporary file (Python, py4j, the JVM) inside the checkout
    tmp = ROOT / ".perfbench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(ROOT / ".perfbench" / "spark-local")

    from spans import Tracer

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = ROOT / ".perfbench" / "work" / run_id
    work.mkdir(parents=True)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    # a termination signal unwinds through the finally below, which stops
    # the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload == "catalog_batch":
            metrics, layer, result = run_catalog(args, tracer, work, catalog_sf)
        else:
            metrics, layer, result = run_streaming(args, tracer, work, stream_shape)
    finally:
        tracer.restore()
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    report = result.pop("report")
    spark_by_span = result.pop("spark_by_span", None)
    report.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
    results_dir = ROOT / ".perfbench" / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    if tracer.enabled:
        layer["trace.spans"] = len(tracer.spans)
        tracer.write(str(results_dir / f"{run_id}.spans.jsonl"), spark_by_span)
    (results_dir / f"{run_id}.json").write_text(json.dumps(report, indent=1, default=str))
    units = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else metrics
    out = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    report["units"] = {k: u for k, u in (END_TO_END | REPORTED).items() if k in report}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
