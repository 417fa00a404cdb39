"""Engine façade: SparkSession factory + string-keyed config with defaults.

Mirrors the reference's configuration system (``SpoutConfig`` — a
string-keyed map whose ``setDefaults`` fills in ~15 defaults,
``config/SpoutConfig.java:444+``) and its container entry point
(``DynamicSpout.java:58-575``: open/close + add/remove virtual spout).
Here the container is a :class:`DynamicEngine` owning a SparkSession and
a registry of routed streams/queries; the virtual-spout thread pool
(``coordinator/SpoutCoordinator.java``) maps to Spark's
StreamingQueryManager and scheduler pools.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# Config
# ---------------------------------------------------------------------------

def spark_env_defaults(environ: Mapping[str, str]) -> dict[str, Any]:
    """The Spark defaults the environment may override: master and
    shuffle partitions (``SPARK_GRAFT_MASTER`` / ``SPARK_GRAFT_CPUS``)
    and the driver heap (``SPARK_GRAFT_DRIVER_MEM``).  An empty
    ``environ`` gives the documented values."""
    cpus = environ.get("SPARK_GRAFT_CPUS", "32")
    return {
        "spark.master": environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"),
        "spark.shuffle_partitions": int(cpus),
        "spark.driver_memory": environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    }


_ENV_DEFAULTS = spark_env_defaults(os.environ)

#: Defaults mirroring the reference's SpoutConfig.setDefaults
#: (config/SpoutConfig.java:444-507) re-interpreted for Spark execution,
#: plus engine-level Spark tuning defaults for the 100 TB design point.
DEFAULTS: dict[str, Any] = {
    # --- reference-derived control-plane defaults -------------------------
    # retry policy (retry/ExponentialBackoffRetryManager.java:55-64,
    # SpoutConfig.java:490-507)
    "retry.limit": 25,
    "retry.initial_delay_ms": 1000,
    "retry.delay_multiplier": 2.0,
    "retry.max_delay_ms": 15 * 60 * 1000,
    # buffer/backpressure (buffer/RoundRobinBuffer.java:66) → rate limiting
    "buffer.max_size_per_route": 2000,
    # coordinator (SpoutCoordinator.java:564-566)
    "coordinator.max_concurrent_routes": 10,
    # graceful-shutdown bound (SpoutCoordinator max_spout_shutdown_time_ms)
    "coordinator.max_shutdown_time_ms": 10_000,
    "coordinator.state_flush_interval_ms": 30_000,
    "coordinator.monitor_interval_ms": 2_000,
    # sideline (sideline/config/SidelineConfig.java:74)
    "sideline.refresh_interval_seconds": 600,
    # output schema declaration (SpoutConfig.java:70 spout.output_fields)
    "output.fields": None,  # None → schema inferred from source/parse
    # stream ids (DynamicSpout.java:552-563, :292-293): the live route's
    # provenance tag and the DLQ directory name under the app workdir
    # (the reference's Storm defaults were "default"/"failed")
    "output.stream_id": "firehose",
    "output.failed_stream_id": "dlq",
    # metrics recorder selection (SpoutConfig metrics.class analogue:
    # Log / Storm / Dropwizard → memory / log / jsonl / prometheus)
    "metrics.recorder": "memory",
    "metrics.jsonl_path": None,  # required when metrics.recorder=jsonl
    "metrics.prom_path": None,  # required when metrics.recorder=prometheus
    # --- Spark execution defaults ----------------------------------------
    "spark.master": _ENV_DEFAULTS["spark.master"],
    "spark.app_name": "storm_dynamic_spout_spark",
    "spark.shuffle_partitions": _ENV_DEFAULTS["spark.shuffle_partitions"],
    "spark.session_timezone": "UTC",
    "spark.driver_memory": _ENV_DEFAULTS["spark.driver_memory"],
}

#: One-line documentation per config key — the annotation-driven config
#: docs of the reference (``documentation/ConfigDocumentation.java``);
#: ``documentation.py`` renders DEFAULTS + these into README.md, and a
#: test keeps key sets identical.
CONFIG_DOCS: dict[str, str] = {
    "retry.limit": "Max failures per record before the DLQ; <0 retries forever, 0 never retries",
    "retry.initial_delay_ms": "Backoff delay after the first failure",
    "retry.delay_multiplier": "Exponential backoff multiplier per additional failure",
    "retry.max_delay_ms": "Backoff ceiling",
    "buffer.max_size_per_route": "Per-route per-trigger row budget (backpressure; RoundRobinBuffer size analogue)",
    "coordinator.max_concurrent_routes": "Max live streaming queries (firehose + replays)",
    "coordinator.max_shutdown_time_ms": "Graceful-shutdown wait per streaming query (spark.sql.streaming.stopTimeout; DynamicStreamApp.close)",
    "coordinator.state_flush_interval_ms": "Consumer-state flush cadence of the monitor thread (DynamicStreamApp.start_monitor -> O6 adapter)",
    "coordinator.monitor_interval_ms": "Monitor-thread lag-gauge cadence (DynamicStreamApp.start_monitor)",
    "sideline.refresh_interval_seconds": "Periodic sideline reconciliation cadence (0 = every poll, negative disables; DynamicStreamApp.reconcile_sidelines)",
    "output.fields": "Declared output projection of DynamicStreamApp.output(); None keeps the full schema",
    "output.stream_id": "Provenance route id of the live stream",
    "output.failed_stream_id": "Directory name of the permanently-failed (DLQ) stream under the app workdir",
    "metrics.recorder": "Recorder backend: memory | log | jsonl | prometheus",
    "metrics.jsonl_path": "Target file for the jsonl recorder",
    "metrics.prom_path": "Pull file of the prometheus recorder (textfile-collector exposition format)",
    "spark.master": "Spark master URL (env SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS)",
    "spark.app_name": "Spark application name",
    "spark.shuffle_partitions": "spark.sql.shuffle.partitions for the session",
    "spark.session_timezone": "Session timezone (UTC keeps timestamp semantics engine-portable)",
    "spark.driver_memory": "Driver JVM heap (env SPARK_GRAFT_DRIVER_MEM)",
}


@dataclass
class EngineConfig:
    """String-keyed config with defaults (SpoutConfig analogue)."""

    values: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        merged = dict(DEFAULTS)
        merged.update(self.values)
        self.values = merged

    def __getitem__(self, key: str) -> Any:
        return self.values[key]

    def get(self, key: str, default: Any = None) -> Any:
        return self.values.get(key, default)

    def with_overrides(self, **kv: Any) -> "EngineConfig":
        out = dict(self.values)
        out.update(kv)
        return EngineConfig(out)


def build_session(config: EngineConfig | None = None, **spark_confs: str) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Scale-relevant defaults:
    - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
    - shuffle partitions sized to cores locally; on a real cluster this is
      overridden (AQE coalesces down from a high initial count)
    - Arrow enabled for the Pandas-UDF slow path
    - UTC session timezone so results hash-match the DuckDB oracle
    """
    cfg = config or EngineConfig()
    builder = (
        SparkSession.builder.master(cfg["spark.master"])
        .appName(cfg["spark.app_name"])
        .config("spark.sql.shuffle.partitions", str(cfg["spark.shuffle_partitions"]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", cfg["spark.session_timezone"])
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", cfg["spark.driver_memory"])
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # graceful shutdown: query.stop() waits this long for the
        # in-flight micro-batch before forcing (the reference's
        # max_spout_shutdown_time_ms, SpoutCoordinator.java:476-515)
        .config(
            "spark.sql.streaming.stopTimeout",
            str(cfg["coordinator.max_shutdown_time_ms"]),
        )
        # S4 offset-out-of-range recovery: a file listed by a plan (or a
        # streaming checkpoint) may be deleted by retention/compaction
        # before the task reads it — skip it and continue from what
        # survives, the failOnDataLoss=false / earliest-reset analogue
        # (kafka/Consumer.java:548-625 resets to earliest on
        # OffsetOutOfRangeException instead of dying)
        .config("spark.sql.files.ignoreMissingFiles", "true")
        # runtime bloom-filter pruning: selective join keys prune the
        # probe-side scan at row-group granularity — a large win on
        # 100 TB fact scans joined to filtered dims
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # streaming state at scale: RocksDB provider (SURVEY §7 hard part 6)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in spark_confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---------------------------------------------------------------------------
# Table loading
# ---------------------------------------------------------------------------

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table (columnar, pushdown-capable).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; we read it as long (legacy conf, runtime-
    settable) and floor to microseconds — exactly what DuckDB reports
    when fetching TIMESTAMP_NS to Python, so oracle comparison holds.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(path)


def register_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register fixture tables as temp views so SQL + DataFrame share plans."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# DynamicEngine façade (DynamicSpout analogue, O1 in SURVEY §2.10)
# ---------------------------------------------------------------------------


class DynamicEngine:
    """Container owning the SparkSession + a registry of named routes.

    Reference parity: ``DynamicSpout`` (DynamicSpout.java:58-575) exposes
    open/close/addVirtualSpout/removeVirtualSpout/hasVirtualSpout; here a
    "route" is a named streaming query (or bounded batch job) built from a
    source DataFrame + predicate set, and the coordinator is Spark's
    StreamingQueryManager.
    """

    def __init__(self, config: EngineConfig | None = None) -> None:
        self.config = config or EngineConfig()
        self.spark = build_session(self.config)
        self._routes: dict[str, Any] = {}

    # -- lifecycle (DynamicSpout.open/close) --
    def close(self) -> None:
        for name in list(self._routes):
            self.remove_route(name)

    # -- route registry (addVirtualSpout/removeVirtualSpout/hasVirtualSpout) --
    def add_route(self, name: str, query: Any) -> None:
        if name in self._routes:
            raise ValueError(f"route already exists: {name}")
        self._routes[name] = query

    def has_route(self, name: str) -> bool:
        return name in self._routes

    def get_route(self, name: str) -> Any:
        return self._routes[name]

    def remove_route(self, name: str) -> None:
        q = self._routes.pop(name, None)
        if q is not None and hasattr(q, "stop"):
            q.stop()
