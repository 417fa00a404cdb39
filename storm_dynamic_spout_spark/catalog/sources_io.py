"""File-format round-trip queries (SURVEY §2.1 S9): drive the CSV /
JSON / ORC batch sources through the driver's oracle gate.

Each query writes a fixture table to a temp directory in the target
format via the engine's sink path, reads it back through
``SourceRegistry`` (the S9 scan surface), and aggregates.  The oracle
runs the same aggregate over the ORIGINAL parquet — green means the
format round-trip is lossless for the exercised types (int/bigint/
string/double).  Schemas are explicit on read (never inferred: at
100 TB schema inference is a full extra scan and an availability
hazard when files arrive concurrently).

Side-effectful construction (like stream_incremental_dedup): building
the DataFrame writes a small temp dir; excluded from bench plan
snapshots by the side-effect list in bench.py.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.catalog.registry import query, t
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint
from storm_dynamic_spout_spark.sources import SourceRegistry

_REGISTRY = SourceRegistry()


def _roundtrip(
    spark: SparkSession,
    df: DataFrame,
    fmt: str,
    schema: str,
    write_opts: dict | None = None,
    read_opts: dict | None = None,
) -> DataFrame:
    path = tempfile.mkdtemp(prefix=f"sdss-io-{fmt}-")
    df.write.mode("overwrite").options(**(write_opts or {})).format(fmt).save(path)
    return _REGISTRY.read(spark, fmt, path=path, schema=schema, **(read_opts or {}))


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents,
           min(c_custkey) AS min_key, max(c_custkey) AS max_key
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan: customer written to headered CSV, read back with an
    explicit schema (doubles survive — Spark writes shortest-roundtrip
    repr), aggregated per segment.  Oracle runs on the original
    parquet, so green proves the CSV path is value-lossless."""
    c = t(spark, sf_dir, "customer")
    back = _roundtrip(
        spark,
        c,
        "csv",
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
        write_opts={"header": "true"},
        read_opts={"header": "true"},
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "source_json_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan: supplier round-tripped through the json source
    with an explicit schema, aggregated per nation."""
    s = t(spark, sf_dir, "supplier")
    back = _roundtrip(
        spark,
        s,
        "json",
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("acctbal_cents"),
        )
        .orderBy("s_nationkey")
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT n.n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n.n_name) AS first_nation
    FROM nation n GROUP BY n.n_regionkey ORDER BY n.n_regionkey
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan: nation round-tripped through the orc source (the
    columnar alternative to parquet), aggregated per region."""
    n = t(spark, sf_dir, "nation")
    back = _roundtrip(
        spark,
        n,
        "orc",
        "n_nationkey int, n_name string, n_regionkey int",
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("n_regionkey")
    )


N_JOIN_BUCKETS = 8


@query(
    "table_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def table_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the 100 TB shuffle eliminator: both
    fact tables are written ``bucketBy(N, join_key).sortBy(join_key)``
    (Hive-compatible bucketing; data lands in a fresh tempdir like the
    other side-effectful round-trip queries), and the sort-merge join
    over the bucketed scans needs NO exchange on either side — each of
    the N buckets joins its twin directly.  The oracle is the plain
    parquet join, so green proves bucketed layout is value-lossless;
    the plan guard (tests/test_bucketed_join.py) proves the exchange
    elimination actually happened (the point of paying the bucketed
    write once is that EVERY subsequent key-aligned join/aggregate
    skips its shuffle).  The ``merge`` hint pins SMJ so the tiny
    fixture doesn't broadcast away the demonstration."""
    import tempfile
    import uuid

    tok = uuid.uuid4().hex[:10]
    base = tempfile.mkdtemp(prefix="sdss-bkt-")
    li_t, o_t = f"sdss_bkt_li_{tok}", f"sdss_bkt_o_{tok}"
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    (
        li.write.bucketBy(N_JOIN_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/li")
        .mode("overwrite")
        .saveAsTable(li_t)
    )
    (
        o.write.bucketBy(N_JOIN_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/o")
        .mode("overwrite")
        .saveAsTable(o_t)
    )
    lb, ob = spark.table(li_t), spark.table(o_t)
    joined = lb.hint("merge").join(ob, lb.l_orderkey == ob.o_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


def _fk_oracle(fk: str, child: str, ckey: str, parent: str, pkey: str, pwhere: str = "") -> str:
    where = f" WHERE {pwhere}" if pwhere else ""
    return f"""
    SELECT '{fk}' AS fk,
           CAST(count(*) AS BIGINT) AS n_child_keys,
           CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_keys,
           round(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS orphan_fraction
    FROM (SELECT DISTINCT {ckey} AS k FROM {child}) c
    LEFT JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}{where}) p USING (k)
    """


@query(
    "table_fk_integrity",
    oracle=" UNION ALL ".join(
        [
            _fk_oracle("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            _fk_oracle("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
            _fk_oracle("lineitem.l_partkey -> part[p_size>10]", "lineitem", "l_partkey", "part", "p_partkey", "p_size > 10"),
            _fk_oracle("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
        ]
    )
    + " ORDER BY fk",
)
def table_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity report — the third leg of the
    data-quality family (with table_column_stats and
    table_skew_report): per declared FK, how many distinct child keys
    exist and how many are ORPHANS (no matching parent).  The fourth
    check references a FILTERED parent slice (p_size > 10) — the
    SCD-current-slice coverage pattern — so the report exercises a
    genuinely nonzero orphan path, not just all-zeros.

    Why at 100 TB: each check reduces the child side to DISTINCT keys
    FIRST (map-side combine to |keys|, never |rows|), then one
    equi-join per FK against the parent key set; the four small report
    rows union at the end.  The two l_partkey checks share ONE
    lazily-checkpointed distinct-key pass over the lineitem fact, and
    both part-parent key sets derive from ONE part scan (distinct key
    + does-any-row-pass-the-slice flag).  This is the standard
    dbt-style relationship test, expressed as one catalog query."""
    lp = local_checkpoint(
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("k"))
        .distinct()
    )
    pk = local_checkpoint(
        t(spark, sf_dir, "part")
        .groupBy(F.col("p_partkey").alias("k"))
        .agg(F.max(F.col("p_size") > 10).alias("__big"))
    )
    checks = [
        ("lineitem.l_orderkey -> orders", None, "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey -> part", (lp, pk), None, None, None, None),
        ("lineitem.l_partkey -> part[p_size>10]", (lp, pk.filter("__big")), None, None, None, None),
        ("orders.o_custkey -> customer", None, "orders", "o_custkey", "customer", "c_custkey"),
    ]
    parts = []
    for fk, shared, child, ckey, parent, pkey in checks:
        if shared is not None:
            c, p = shared
            p = p.select("k", F.lit(1).alias("__hit"))
        else:
            c = t(spark, sf_dir, child).select(F.col(ckey).alias("k")).distinct()
            p = (
                t(spark, sf_dir, parent)
                .select(F.col(pkey).alias("k"), F.lit(1).alias("__hit"))
                .distinct()
            )
        joined = c.join(p, "k", "left")
        orphan = F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
        parts.append(
            joined.agg(
                F.lit(fk).alias("fk"),
                F.count(F.lit(1)).cast("long").alias("n_child_keys"),
                orphan.cast("long").alias("n_orphan_keys"),
                F.round(orphan * 1.0 / F.count(F.lit(1)), 6).alias("orphan_fraction"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.orderBy("fk")


PRUNE_LO, PRUNE_HI = "2024-01-05", "2024-01-11"


@query(
    "table_partition_prune",
    oracle=f"""
    SELECT CAST({{ts}} AS DATE) AS event_date,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    WHERE CAST({{ts}} AS DATE) BETWEEN DATE '{PRUNE_LO}' AND DATE '{PRUNE_HI}'
    GROUP BY 1 ORDER BY 1
    """.format(ts="CAST(ts AS TIMESTAMP)"),
)
def table_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + static partition pruning — the other
    half of the layout story next to ``table_bucketed_join``: events
    are written ``partitionBy(event_date)`` (30 date partitions in the
    fixture), and the date-range read touches ONLY the 7 matching
    directories — ``PartitionFilters`` in the scan, zero data files
    opened outside the range (plan-guarded in
    tests/test_partition_prune.py via ``inputFiles()``).  The oracle
    aggregates the ORIGINAL unpartitioned parquet over the same range,
    so green also proves the partitioned rewrite is value-lossless.

    Why at 100 TB: date-partitioned event lakes are THE standard
    layout; a reader that scans all of history for a week-long window
    is the single most expensive mistake at this scale.  Pruning here
    is directory-level — list 7 dirs, not 100 TB of footers."""
    import tempfile

    e = t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = tempfile.mkdtemp(prefix="sdss-prune-")
    e.write.mode("overwrite").partitionBy("event_date").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(
            F.col("event_date").between(F.lit(PRUNE_LO), F.lit(PRUNE_HI))
        )
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy("event_date")
    )


@query(
    "table_zorder_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def table_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER round-trip — the third layout query (with
    ``table_bucketed_join`` and ``table_partition_prune``): events are
    rewritten through ``operators/layout.py write_zordered`` —
    range-partitioned and sorted by the Morton key of (user_id,
    value) — read back, and aggregated.  The oracle runs on the
    ORIGINAL parquet, so green proves the z-order rewrite is
    value-lossless (row content untouched, only placement changes);
    the multi-dimensional skipping effectiveness itself is
    property-tested in tests/test_zorder.py (min/max box tightness).

    Why at 100 TB: z-ordering is the layout answer when queries filter
    on TWO+ high-cardinality columns — a linear sort clusters only its
    first key.  Bounds for the quantizer come from table stats as
    literals here; clamping makes out-of-range stragglers land in edge
    cells rather than corrupting the interleave."""
    import tempfile

    from storm_dynamic_spout_spark.operators.layout import write_zordered

    e = t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="sdss-zorder-")
    write_zordered(
        e,
        path,
        zorder_by=["user_id", "value"],
        bounds={"user_id": (0.0, 1_000_000.0), "value": (0.0, 1_000.0)},
        target_files=8,
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy("event_type")
    )


COMPACT_TARGET_KB = 256_000  # 256 MB target output size, in KB


@query(
    "table_compaction_plan",
    oracle=f"""
    WITH f AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
             o_orderkey AS file_id,
             CAST(round(o_totalprice / 10) AS BIGINT) AS size_kb
      FROM orders
    ),
    packed AS (
      SELECT part_month, file_id, size_kb,
             CAST(floor((sum(size_kb) OVER (
                 PARTITION BY part_month ORDER BY file_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - size_kb) / {COMPACT_TARGET_KB}.0) AS BIGINT) AS grp
      FROM f
    ),
    groups AS (
      SELECT part_month, grp,
             CAST(sum(size_kb) AS BIGINT) AS grp_kb,
             CAST(count(*) AS BIGINT) AS n_files
      FROM packed GROUP BY part_month, grp
    )
    SELECT part_month,
           CAST(sum(n_files) AS BIGINT) AS n_files,
           CAST(sum(grp_kb) AS BIGINT) AS total_kb,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(max(grp_kb) AS BIGINT) AS largest_group_kb,
           round(avg(grp_kb * 1.0 / {COMPACT_TARGET_KB}), 6) AS avg_fill
    FROM groups GROUP BY part_month ORDER BY part_month
    """,
)
def table_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the table-maintenance pass
    every 100 TB lake runs nightly: within each partition, pack files
    (modeled here as order rows: id + a deterministic integer KB size)
    into sequential target-size output groups via start-offset
    bucketing — ``group = floor(prefix_sum_before / target)`` — and
    report per partition the file count, bytes, group count, largest
    group, and mean fill factor.

    This is the corpus_token_budget distributed-prefix-sum shape
    applied to storage: one partition-keyed cumulative-sum window
    (per-partition sequential greedy packing IS the deterministic
    contract — bin-packing reorderings would change file placement
    run to run), one (partition, group) aggregate, one per-partition
    rollup.  All integer arithmetic, so the plan is byte-stable across
    engines.  At 100 TB the real input is the transaction log's file
    manifest (path, partition, size), some thousands of rows per
    partition — the window never sees data-scale rows."""
    from pyspark.sql.window import Window as W

    f = t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("part_month"),
        F.col("o_orderkey").alias("file_id"),
        F.round(F.col("o_totalprice") / 10).cast("long").alias("size_kb"),
    )
    w = (
        W.partitionBy("part_month")
        .orderBy("file_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = f.withColumn(
        "__grp",
        F.floor(
            (F.sum("size_kb").over(w) - F.col("size_kb")) / COMPACT_TARGET_KB
        ).cast("long"),
    )
    groups = packed.groupBy("part_month", "__grp").agg(
        F.sum("size_kb").alias("__grp_kb"), F.count(F.lit(1)).alias("__n_files")
    )
    return (
        groups.groupBy("part_month")
        .agg(
            F.sum("__n_files").alias("n_files"),
            F.sum("__grp_kb").alias("total_kb"),
            F.count(F.lit(1)).alias("n_groups"),
            F.max("__grp_kb").alias("largest_group_kb"),
            F.round(F.avg(F.col("__grp_kb") * 1.0 / COMPACT_TARGET_KB), 6).alias(
                "avg_fill"
            ),
        )
        .orderBy("part_month")
    )
