"""Aggregation operators (SURVEY §2.4 — absent in reference, declared).

The reference has only metric counters/gauges (metrics/MetricsRecorder.java:36-150);
the engine declares the full Spark aggregate surface. All plans are
partial→final HashAggregate (map-side combine) — at 100 TB the only knob
that matters is the shuffle on the grouping key, which AQE coalesces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.catalog.registry import query, t
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                       AS sum_qty,
           sum(l_extendedprice)                                  AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity)                                       AS avg_qty,
           avg(l_extendedprice)                                  AS avg_price,
           avg(l_discount)                                       AS avg_disc,
           count(*)                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style hash aggregate (SURVEY §7 minimum slice).

    Filter + 7-column projection push to the parquet scan; one shuffle on
    the 2-col grouping key; partial aggregation map-side.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)                 AS n_customers,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           avg(c_acctbal)                           AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count + count-distinct (expand-based distinct agg, SURVEY §2.4)."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.avg("c_acctbal").alias("avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = groupBy-all-cols hash aggregate."""
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(o_totalprice)        AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (Expand node feeding one hash agg)."""
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("total_price"))
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)          AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over 2 dims = 4 grouping sets."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, sum(o_totalprice) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst Expand plan)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, sum(o_totalprice) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           min(l_extendedprice)    AS min_price,
           max(l_extendedprice)    AS max_price,
           avg(l_extendedprice)    AS avg_price,
           round(stddev(l_extendedprice), 2) AS std_price,
           round(var_samp(l_extendedprice), 0) AS var_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (single-pass moment computation)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.avg("l_extendedprice").alias("avg_price"),
            # Rounded in-query: raw stddev/var doubles differ between engines by
            # accumulation-order ULPs at ~1e8 magnitude, which survives the
            # driver's 6-dp rounding.  std ~1e4 -> 2dp is noise-proof; var ~1e8
            # -> 0dp is noise-proof (ULP noise ~1e-3).
            F.round(F.stddev("l_extendedprice"), 2).alias("std_price"),
            F.round(F.var_samp("l_extendedprice"), 0).alias("var_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT o_orderstatus,
           sum(CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0 END) AS big_total,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           max(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) AS max_urgent_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (CASE inside agg — codegen'd, no shuffle extra)."""
    o = t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") > 200000, F.col("o_totalprice")).otherwise(0.0)
            ).alias("big_total"),
            F.sum(F.when(urgent, 1).otherwise(0)).alias("n_urgent"),
            F.max(F.when(urgent, F.col("o_totalprice"))).alias("max_urgent_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_having",
    oracle="""
    SELECT l_partkey, sum(l_quantity) AS total_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_quantity) > 150
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25) * 1000000) / 1000000 AS p25,
           round(quantile_cont(l_extendedprice, 0.50) * 1000000) / 1000000 AS p50,
           round(quantile_cont(l_extendedprice, 0.75) * 1000000) / 1000000 AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (linear interpolation) — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``; rounded to 1e-6 in-query
    on both sides so FP interpolation order can't flip the hash. (The
    scale path is ``percentile_approx`` — t-digest sketch, one pass,
    mergeable across partitions — not oracle-matchable by design.)"""
    li = t(spark, sf_dir, "lineitem")

    def p(q: float):
        return (F.round(F.percentile("l_extendedprice", F.lit(q)) * 1_000_000) / 1_000_000)

    return (
        li.groupBy("l_returnflag")
        .agg(p(0.25).alias("p25"), p(0.50).alias("p50"), p(0.75).alias("p75"))
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_nd,
           true AS within_5pct
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++ sketch — the 100 TB path for
    distinct counts: one pass, fixed memory, mergeable across
    partitions). Sketch estimates differ between engines by design, so
    the oracle checks the exact count plus the sketch's documented
    error bound: |approx − exact| / exact ≤ 5% (rsd default 0.05)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("exact_nd"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("__approx"),
        )
        .select(
            "o_orderstatus",
            "exact_nd",
            (
                F.abs(F.col("__approx") - F.col("exact_nd"))
                <= 0.05 * F.col("exact_nd")
            ).alias("within_5pct"),
        )
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           CAST(count(CASE WHEN event_type = 'click'    THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error'    THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'view'     THEN 1 END) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab): event-type counts as columns per user. The
    value list is EXPLICIT — at scale an unpinned pivot triggers a
    distinct-values collect on the driver before planning; pinning it
    keeps the plan static and the oracle enumerable."""
    e = t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    for k in kinds:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(0)).cast("long"))
    return out


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity)      * 1000000) / 1000000 AS price_qty_corr,
           round(covar_pop(l_extendedprice, l_quantity) * 1000000) / 1000000 AS cov_pop,
           round(covar_samp(l_extendedprice, l_quantity)* 1000000) / 1000000 AS cov_samp,
           round(regr_slope(l_extendedprice, l_quantity)* 1000000) / 1000000 AS slope
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (corr / covar / regr_slope) —
    single-pass moment computation, partial-merged across partitions;
    rounded 1e-6 in-query so accumulation order can't flip the hash."""
    li = t(spark, sf_dir, "lineitem")

    def r6(c):
        return F.round(c * 1_000_000) / 1_000_000

    return li.groupBy("l_returnflag").agg(
        r6(F.corr("l_extendedprice", "l_quantity")).alias("price_qty_corr"),
        r6(F.covar_pop("l_extendedprice", "l_quantity")).alias("cov_pop"),
        r6(F.covar_samp("l_extendedprice", "l_quantity")).alias("cov_samp"),
        r6(F.regr_slope("l_extendedprice", "l_quantity")).alias("slope"),
    )


@query(
    "agg_string_concat",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (LISTAGG family): distinct values collected,
    sorted, and joined — sorted-on-purpose so the result is
    deterministic under any partitioning (unordered collect_list is a
    correctness trap at scale)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count("*").alias("n"),
    )


@query(
    "agg_arg_min_max",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderpriority, o_orderkey) AS last_priority,
           arg_min(o_orderpriority, o_orderkey) AS first_priority,
           max(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_arg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-min/max aggregates (max_by/min_by): the value column from the
    row holding the extreme ordering key. Ordering key is the UNIQUE
    o_orderkey — ties would make arg_max nondeterministic across
    engines and partitionings."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderpriority", "o_orderkey").alias("last_priority"),
        F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "table_column_stats",
    oracle="""
    SELECT 'l_quantity' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(l_quantity) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
           CAST(min(l_quantity) AS DOUBLE) AS min_v,
           CAST(max(l_quantity) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(count(*) AS BIGINT),
           CAST(count(l_extendedprice) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           CAST(min(l_extendedprice) AS DOUBLE),
           CAST(max(l_extendedprice) AS DOUBLE)
    FROM lineitem
    ORDER BY col
    """,
)
def table_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-style column statistics (row count, non-null
    count, NDV, min/max) — the stats that drive join reordering,
    file skipping, and partition sizing.  One pass per stat set,
    map-side combined to a single row per column; at 100 TB swap the
    exact count(DISTINCT) for approx_count_distinct (same plan shape,
    HLL merge instead of a distinct expand)."""
    li = t(spark, sf_dir, "lineitem")

    def stats(col: str) -> DataFrame:
        return li.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("ndv"),
            F.min(col).cast("double").alias("min_v"),
            F.max(col).cast("double").alias("max_v"),
        )

    return (
        stats("l_quantity").unionByName(stats("l_extendedprice")).orderBy("col")
    )


@query(
    "agg_hll_sketch_rollup",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           true AS within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL):
    build one sketch per (event_type, day), then roll the daily
    sketches up to per-type totals with ``hll_union_agg`` — the
    pre-aggregated-distinct pattern: a day's raw events are scanned
    ONCE ever; month/quarter/all-time distincts come from merging
    kilobyte sketches, never re-scanning history.  (This is what makes
    distinct counts tractable in a 100 TB rollup table, where exact
    COUNT(DISTINCT) would need a full re-shuffle of all history per
    query.)  Sketch estimates differ across engines/libraries by
    design, so — like agg_approx_count_distinct — the oracle checks
    the exact count plus the documented error bound: lgConfigK=14 ⇒
    rsd ≈ 0.81%, asserted here at 5%."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("__day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("__sk")
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(rolled, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


HIST_BINS = 128
HIST_Q = 0.95


@query(
    "agg_histogram_percentile_rollup",
    oracle=f"""
    WITH ev AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
    rng AS (SELECT min(v) AS lo, max(v) AS hi FROM ev),
    binned AS (
      SELECT event_type,
             least(CAST(floor((v - lo) / ((hi - lo) / {HIST_BINS})) AS INT),
                   {HIST_BINS - 1}) AS bin
      FROM ev CROSS JOIN rng
    ),
    merged AS (
      SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
      FROM binned GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      FROM merged
    ),
    tot AS (SELECT event_type, sum(cnt) AS total FROM merged GROUP BY 1),
    pick AS (
      SELECT c.event_type, min(bin) AS bin
      FROM cum c JOIN tot USING (event_type)
      WHERE cum >= {HIST_Q} * total GROUP BY 1
    )
    SELECT p.event_type,
           CAST(t.total AS BIGINT) AS n_events,
           round(lo + (p.bin + ({HIST_Q} * t.total - (c.cum - c.cnt)) / c.cnt)
                      * ((hi - lo) / {HIST_BINS}.0), 6) AS p95_hist
    FROM pick p
    JOIN cum c ON c.event_type = p.event_type AND c.bin = p.bin
    JOIN tot t ON t.event_type = p.event_type
    CROSS JOIN rng
    ORDER BY p.event_type
    """,
)
def agg_histogram_percentile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram percentile — the rollup-able
    percentile pattern: per-(type, day) bin counts are built with
    map-side combine off one scan, then MERGED upward by summing (the
    same mergeability as the HLL sketch rollup, but the estimate is a
    deterministic function of the histogram, so this query is
    hash-exact against the oracle, not bound-checked).  The p95 is
    interpolated inside the first bin whose cumulative count crosses
    q*total.

    Why at 100 TB: percentiles over history normally need a full
    re-sort per query; a histogram table keyed (day, type, bin) is a
    few KB per day, merges by addition to any rollup level, and the
    final interpolation touches ~128 rows per group.  Bin range comes
    from a one-row min/max broadcast (at scale: from table stats)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("double").alias("v"),
        F.to_date("ts").alias("__day"),
    )
    # rng (1 row) and merged (|type|x|bins| rows) each have multiple
    # consumers; without the checkpoints every consumer re-binned the
    # corpus (r15 plan: 7 events scans for one rollup)
    rng = local_checkpoint(e.agg(F.min("v").alias("lo"), F.max("v").alias("hi")))
    width = (F.col("hi") - F.col("lo")) / HIST_BINS
    binned = e.crossJoin(F.broadcast(rng)).withColumn(
        "bin",
        F.least(
            F.floor((F.col("v") - F.col("lo")) / width).cast("int"),
            F.lit(HIST_BINS - 1),
        ),
    )
    # daily sketch level (what a rollup table would persist) ...
    daily = binned.groupBy("event_type", "__day", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # ... merged upward by ADDITION — the mergeability demonstration
    merged = local_checkpoint(
        daily.groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cum = merged.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("event_type")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    tot = merged.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    crossing = (
        cum.join(tot, "event_type")
        .filter(F.col("cum") >= HIST_Q * F.col("total"))
        .groupBy("event_type")
        .agg(F.min_by(F.struct("bin", "cnt", "cum"), F.col("bin")).alias("__p"))
        .select("event_type", "__p.bin", "__p.cnt", "__p.cum")
    )
    return (
        crossing.join(tot, "event_type")
        .crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.col("total").alias("n_events"),
            F.round(
                F.col("lo")
                + (
                    F.col("bin")
                    + (HIST_Q * F.col("total") - (F.col("cum") - F.col("cnt")))
                    / F.col("cnt")
                )
                * ((F.col("hi") - F.col("lo")) / HIST_BINS),
                6,
            ).alias("p95_hist"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_mode",
    oracle="""
    SELECT lang, source AS modal_source, n_docs FROM (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, source) AS rn
      FROM documents GROUP BY lang, source
    ) WHERE rn = 1 ORDER BY lang
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group: the modal source per
    language, ties broken lexicographically.  Two-level aggregation —
    (lang, source) counts collapse map-side, then a per-lang argmax
    via max_by over an ordering struct (count DESC, source ASC encoded
    as (count, negated-source ordering) — max_by keeps it one
    partial-aggregable pass instead of a window sort).

    At 100 TB the first aggregate does the data reduction; the argmax
    runs over |lang|x|source| rows."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    # max_by ordering: maximize count, then minimize source lexically —
    # invert the string ordering by negating each byte is fragile, so
    # use min_by on (negated count, source) instead: minimal (-n, source)
    return (
        counts.groupBy("lang")
        .agg(
            F.min_by(
                F.struct(F.col("source"), F.col("n_docs")),
                F.struct((-F.col("n_docs")).alias("neg"), F.col("source")),
            ).alias("__m")
        )
        .select(
            "lang",
            F.col("__m.source").alias("modal_source"),
            F.col("__m.n_docs").alias("n_docs"),
        )
        .orderBy("lang")
    )


@query(
    "table_skew_report",
    oracle="""
    WITH s AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_suppkey),
         p AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey),
         o AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_orderkey)
    SELECT 'l_orderkey' AS key_col, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_rows, round(avg(c), 4) AS avg_rows,
           round(max(c) / avg(c), 4) AS skew_ratio
    FROM o
    UNION ALL
    SELECT 'l_partkey', CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT),
           round(avg(c), 4), round(max(c) / avg(c), 4) FROM p
    UNION ALL
    SELECT 'l_suppkey', CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT),
           round(avg(c), 4), round(max(c) / avg(c), 4) FROM s
    ORDER BY key_col
    """,
)
def table_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the table you read BEFORE choosing a
    mitigation (AQE skew join vs explicit salting, operators/skew.py):
    per candidate join key, the distinct-key count, the hottest key's
    row count, the mean rows per key, and the max/mean skew ratio.  A
    ratio near 1 = uniform; 100+ = a straggler-making hot key.

    Why at 100 TB: each key is one two-phase count aggregate (map-side
    partial, |keys|-sized shuffle) reduced to a single stats row — the
    same shape ANALYZE uses; nothing here scales with row count beyond
    the first partial pass."""
    li = t(spark, sf_dir, "lineitem")

    def stats(col: str) -> DataFrame:
        per_key = li.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return per_key.agg(
            F.lit(col).alias("key_col"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_rows"),
            F.round(F.avg("c"), 4).alias("avg_rows"),
            F.round(F.max("c") / F.avg("c"), 4).alias("skew_ratio"),
        )

    out = stats("l_orderkey")
    for c in ("l_partkey", "l_suppkey"):
        out = out.unionByName(stats(c))
    return out.orderBy("key_col")


K_ANON = 5


@query(
    "table_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < {K_ANON} AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def table_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment) quasi-
    identifier pair: every equivalence class with its size and an
    ``at_risk`` flag for classes smaller than k=5 — the privacy
    pre-check a training-data pipeline runs before releasing
    attribute-joined records (a class of 1 re-identifies the row).

    Why at 100 TB: a single two-phase aggregate — map-side partial
    counts collapse each scan partition to ≤ |classes| rows before the
    |classes|-keyed shuffle; the flag is computed post-aggregate in
    codegen.  Nothing scales with row count past the first pass."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") < K_ANON).alias("at_risk"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(avg(l_discount), 6) AS avg_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value
    FROM m UNPIVOT (value FOR metric IN (sum_qty, sum_price, avg_disc))
    ORDER BY l_returnflag, metric
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — the inverse of ``agg_pivot``: the wide
    per-returnflag metrics row becomes long (flag, metric, value)
    triples via ``DataFrame.unpivot`` (Spark's native melt — a
    zero-shuffle Expand projection, same operator rollup/cube use),
    the shape metric stores and plotting layers ingest.

    Why at 100 TB: unpivot multiplies ROWS map-side (|metrics|×) but
    runs after the aggregate here, so it expands 3 rows to 9; on a raw
    table it is still shuffle-free — the expansion never exchanges.
    Values are rounded before the melt so both engines unify the
    DOUBLE column identically."""
    li = t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )
    return m.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("l_returnflag", "metric")


@query(
    "agg_weighted_median",
    oracle="""
    WITH g AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY l_returnflag, cents
    ),
    c AS (
      SELECT l_returnflag, cents, w,
             CAST(sum(w) OVER (
               PARTITION BY l_returnflag ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
      FROM g
    )
    SELECT l_returnflag,
           CAST(min(tot) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT)
             AS wmedian_cents,
           CAST(min(CASE WHEN 10 * cum >= 9 * tot THEN cents END) AS BIGINT)
             AS wp90_cents
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median / weighted p90 per group — the smallest value
    whose cumulative weight reaches the quantile of total weight
    (quantity-weighted price levels: what a *unit* pays, not what a
    *line* pays).  Spark has no weighted percentile aggregate; this is
    the exact distributed form.

    Why at 100 TB: values collapse to (group, value) weight cells
    FIRST (two-phase hash aggregate, map-side combine), so the windows
    run over the distinct-value table partitioned by group — never a
    global sort, never row-level data through a window.  Quantile
    tests are integer comparisons (2·cum ≥ tot, 10·cum ≥ 9·tot) on
    BIGINT weights; the closing min() picks the boundary value with no
    rank tie-break needed."""
    from pyspark.sql.window import Window

    g = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("w"))
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wp).alias("tot"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.min("tot").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents"))
            ).alias("wmedian_cents"),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("tot"), F.col("cents"))
            ).alias("wp90_cents"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_custs,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting through 64-bit bitmap words (the
    ClickHouse/Doris ``groupBitmap`` idiom, reference parity with the
    distinct-count path of SURVEY §2 A2): each customer key sets one
    bit in word ``key div 64``; words combine with ``bit_or`` and the
    distinct count is the sum of per-word popcounts.

    Why at 100 TB: a plain count(DISTINCT) shuffles every raw key to
    its group; the bitmap form collapses keys into at most
    |keyspace|/64 words PER GROUP during the map-side partial
    ``bit_or`` — shuffle bytes drop ~64x on dense keyspaces and the
    merge stays associative/commutative (mergeable-summary shape, the
    same contract the HLL rollup exploits, but exact).  Popcount and
    the final sum are integer-only, so the oracle compare is exact."""
    o = t(spark, sf_dir, "orders")
    words = (
        o.select(
            "o_orderpriority",
            F.floor(F.col("o_custkey") / 64).alias("__word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 64 AS INT))"
            ).alias("__bit"),
        )
        .groupBy("o_orderpriority", "__word")
        .agg(
            F.expr("bit_or(__bit)").alias("__mask"),
            F.count(F.lit(1)).alias("__rows"),
        )
    )
    return (
        words.groupBy("o_orderpriority")
        .agg(
            F.sum(F.bit_count("__mask")).alias("n_distinct_custs"),
            F.sum("__rows").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


#: Count-min sketch shape (shared Spark/oracle).
CMS_DEPTH = 3
CMS_WIDTH = 1024
CMS_PROBES = 10


def _countmin_oracle() -> str:
    return f"""
    WITH hashed AS (
      SELECT t.d AS __d,
             CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
                 1 + 5 * t.d, 5)) AS BIGINT)
               % {CMS_WIDTH} AS __bucket
      FROM lineitem CROSS JOIN range(0, {CMS_DEPTH}) AS t(d)
    ),
    sketch AS (
      SELECT __d, __bucket, CAST(count(*) AS BIGINT) AS c
      FROM hashed GROUP BY __d, __bucket
    ),
    exact AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_n
      FROM lineitem GROUP BY l_partkey
    ),
    probes AS (
      SELECT l_partkey, exact_n FROM exact
      ORDER BY exact_n DESC, l_partkey LIMIT {CMS_PROBES}
    ),
    probe_cells AS (
      SELECT p.l_partkey, p.exact_n, t.d AS __d,
             CAST(('0x' || substr(md5(CAST(p.l_partkey AS VARCHAR)),
                 1 + 5 * t.d, 5)) AS BIGINT)
               % {CMS_WIDTH} AS __bucket
      FROM probes p CROSS JOIN range(0, {CMS_DEPTH}) AS t(d)
    )
    SELECT pc.l_partkey, pc.exact_n,
           CAST(min(s.c) AS BIGINT) AS cms_est,
           CAST(min(s.c) - pc.exact_n AS BIGINT) AS overshoot
    FROM probe_cells pc
    JOIN sketch s ON s.__d = pc.__d AND s.__bucket = pc.__bucket
    GROUP BY pc.l_partkey, pc.exact_n
    ORDER BY pc.exact_n DESC, pc.l_partkey
    """


@query("agg_countmin_freq", oracle=_countmin_oracle())
def agg_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan
    2005) probed at the top-{CMS_PROBES} hottest part keys: the sketch
    is a depth×width cell relation built by ``countmin_table``
    (operators/sketch.py), the point query is min-over-depths of the
    probed cells, and the output carries exact counts alongside so the
    CMS overestimate-only guarantee (overshoot >= 0) is visible in the
    driver-checked rows.

    Why at 100 TB: ONE corpus scan — the per-key exact aggregate this
    query needs anyway (map-side combinable) — feeds everything: the
    sketch cells are derived from it by hashing each DISTINCT key once
    and summing ``exact_n`` into its depth·width = {CMS_DEPTH}·{CMS_WIDTH}
    cells (bit-identical to incrementing per row — integer addition is
    associative), so the md5 work drops from per-row to per-key and the
    former second scan (countmin_table's own pass) disappears.  Cells
    from disjoint shards still merge by addition (mergeable summary —
    stream_countmin exercises that contract live).  Probing joins a
    {CMS_PROBES}-row broadcast against the tiny cell table.  The oracle
    rebuilds sketch + probes brute-force in SQL with the identical md5
    bucket hash, so cell counts, min-over-depth, and the overshoot are
    all value-checked."""
    li = t(spark, sf_dir, "lineitem")
    # shared by the sketch derivation and the probe top-k
    exact = local_checkpoint(
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    probes = exact.orderBy(F.desc("exact_n"), "l_partkey").limit(CMS_PROBES)
    from storm_dynamic_spout_spark.operators.sketch import countmin_bucket

    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("__d"),
                countmin_bucket(F.col("l_partkey"), i, CMS_WIDTH).alias("__bucket"),
            )
            for i in range(CMS_DEPTH)
        ]
    )
    probe_cells = probes.select(
        "l_partkey", "exact_n", F.explode(cells).alias("__c")
    ).select("l_partkey", "exact_n", "__c.__d", "__c.__bucket")
    sketch = (
        exact.select("exact_n", F.explode(cells).alias("__c"))
        .select(
            F.col("__c.__d").alias("__d"),
            F.col("__c.__bucket").alias("__bucket"),
            "exact_n",
        )
        .groupBy("__d", "__bucket")
        .agg(F.sum("exact_n").alias("c"))
    )
    return (
        sketch.join(F.broadcast(probe_cells), ["__d", "__bucket"])
        .groupBy("l_partkey", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "l_partkey",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overshoot"),
        )
        .orderBy(F.desc("exact_n"), "l_partkey")
    )


#: KMV sketch size (shared Spark/oracle).
KMV_K = 128
#: Hash domain: 15 hex digits = 60 bits.
KMV_DOMAIN = 1 << 60


def _kmv_oracle() -> str:
    seg = (
        "SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))"
        " AS BIGINT) AS h FROM orders WHERE o_orderpriority = '{p}'"
        " GROUP BY o_custkey"
    )
    return f"""
    WITH ha AS (SELECT DISTINCT h FROM ({seg.format(p='1-URGENT')})),
    hb AS (SELECT DISTINCT h FROM ({seg.format(p='2-HIGH')})),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {KMV_K}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {KMV_K}),
    theta AS (
      SELECT least((SELECT max(h) FROM ka), (SELECT max(h) FROM kb)) AS th
    ),
    common AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common
      FROM ka JOIN kb USING (h), theta WHERE ka.h <= theta.th
    ),
    exact AS (
      SELECT CAST(count(DISTINCT a.o_custkey) AS BIGINT) AS exact_common
      FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
      WHERE a.o_orderpriority = '1-URGENT' AND b.o_orderpriority = '2-HIGH'
    )
    SELECT CAST({KMV_K} AS BIGINT) AS k,
           theta.th AS theta,
           common.n_common,
           CAST(CAST(common.n_common AS HUGEINT) * {KMV_DOMAIN}
                // theta.th AS BIGINT) AS est_common,
           exact.exact_common
    FROM theta, common, exact
    """


@query("agg_kmv_intersect", oracle=_kmv_oracle())
def agg_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-intersection estimation from two KMV (theta) sketches
    (Beyer et al. 2007 / the DataSketches theta-sketch intersection):
    each order-priority segment keeps its {KMV_K} smallest distinct
    customer-key hashes, theta is the smaller of the two k-th minima,
    and |A ∩ B| is estimated as n_common · domain / theta over the
    hashes both sketches retain below theta.  The exact intersection
    rides along so the driver row shows the estimate bracketing it.
    All arithmetic is integer (the one division is exact floor
    division on both engines: DECIMAL(38) DIV on Spark, HUGEINT //
    in DuckDB), so the compare is exact.

    Why at 100 TB: each sketch reduces a segment to {KMV_K}
    materialized rows, and sketches for any pair of segments/days then
    intersect WITHOUT touching raw data — the same mergeable contract
    as the HLL rollup but supporting INTERSECTION, which HLL cannot
    express.  Inside the sketch build, the TakeOrdered is k-bounded
    (no global sort); the distinct's exchange carries per-partition-
    distinct hashes, whose production pre-trim is documented on
    ``kmv_sketch``."""
    from storm_dynamic_spout_spark.operators.sketch import kmv_sketch

    o = t(spark, sf_dir, "orders")
    seg = lambda p: o.filter(F.col("o_orderpriority") == p).select("o_custkey")  # noqa: E731
    # materialize each 128-row sketch once: theta and the intersection
    # both reference ka/kb, and without the checkpoint Catalyst
    # re-expands the full distinct+TakeOrdered lineage (a fresh orders
    # scan) per reference — the sketches are the thing that must NOT
    # rescan raw data
    ka = local_checkpoint(kmv_sketch(seg("1-URGENT"), "o_custkey", KMV_K))
    kb = local_checkpoint(kmv_sketch(seg("2-HIGH"), "o_custkey", KMV_K))
    theta = ka.agg(F.max("h").alias("ta")).crossJoin(
        kb.agg(F.max("h").alias("tb"))
    ).select(F.least("ta", "tb").alias("theta"))
    common = (
        ka.join(kb, "h")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") <= F.col("theta"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = (
        seg("1-URGENT").distinct()
        .join(seg("2-HIGH").distinct(), "o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_common"))
    )
    return (
        common.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).cast("long").alias("k"),
            "theta",
            "n_common",
            F.expr(
                f"CAST(CAST(n_common AS DECIMAL(38,0)) * {KMV_DOMAIN} DIV theta AS BIGINT)"
            ).alias("est_common"),
            "exact_common",
        )
    )


@query(
    "agg_moments_sketch",
    oracle="""
    WITH px AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice) AS DECIMAL(9,0)) AS x
      FROM orders
    ),
    p2 AS (SELECT o_orderpriority, x, x * x AS x2 FROM px),
    p4 AS (
      SELECT o_orderpriority, x, x2,
             CAST(x2 AS DECIMAL(19,0)) * CAST(x AS DECIMAL(9,0)) AS x3,
             CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0)) AS x4
      FROM p2
    ),
    sums AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(x3) AS DOUBLE) AS s3,
             CAST(sum(x4) AS DOUBLE) AS s4
      FROM p4 GROUP BY o_orderpriority
    ),
    cm AS (
      SELECT o_orderpriority, n,
             s1 / n AS m1, s2 / n AS m2, s3 / n AS m3, s4 / n AS m4
      FROM sums
    ),
    v AS (SELECT *, m2 - m1 * m1 AS var FROM cm)
    SELECT o_orderpriority, n,
           CAST(round(m1 * 1e6) AS BIGINT) AS mean_1e6,
           CAST(round(var * 1e6) AS BIGINT) AS var_1e6,
           CAST(round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                      / (var * sqrt(var)) * 1e6) AS BIGINT) AS skew_1e6,
           CAST(round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2
                       - 3 * m1 * m1 * m1 * m1)
                      / (var * var) * 1e6) AS BIGINT) AS kurt_1e6
    FROM v
    ORDER BY o_orderpriority
    """,
)
def agg_moments_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments sketch: per-group mean/variance/skewness/
    kurtosis from exact integer power sums (Agarwal et al. 2012's
    "mergeable summaries" frame: raw moments merge by ADDITION, so
    Spark's partial->final hash aggregate IS the sketch merge — each
    partition ships five numbers per group, never rows).

    Engine-exact by construction: prices round to integer dollars
    (DECIMAL(9,0)), powers stay exact decimals wide enough for the
    4th moment at any SF (x^4 <= 1.3e23 << 1e38), and the only
    floating-point work is the FINAL derivation — identical division/
    multiply/sqrt trees on identical exact inputs, all IEEE
    correctly-rounded ops (deliberately no pow/exp/ln, whose libm
    implementations differ across engines in the last ulp).

    Why at 100 TB: this is the one-pass distributed-statistics
    pattern — no second pass for the mean, no per-group sort, constant
    state per (group, partition); the same five sums also feed
    streaming maintenance (add a micro-batch's sums) and decommission
    (subtract a retired partition's sums)."""
    x = F.round("o_totalprice").cast("decimal(9,0)")
    base = (
        t(spark, sf_dir, "orders")
        .select("o_orderpriority", x.alias("x"))
        .withColumn("x2", F.col("x") * F.col("x"))
        .withColumn(
            "x3", F.col("x2").cast("decimal(19,0)") * F.col("x").cast("decimal(9,0)")
        )
        .withColumn(
            "x4",
            F.col("x2").cast("decimal(19,0)") * F.col("x2").cast("decimal(19,0)"),
        )
    )
    sums = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("x3").cast("double").alias("s3"),
        F.sum("x4").cast("double").alias("s4"),
    )
    n = F.col("n").cast("double")
    cm = sums.select(
        "o_orderpriority",
        "n",
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        (F.col("s3") / n).alias("m3"),
        (F.col("s4") / n).alias("m4"),
    )
    m1, m2, m3, m4 = (F.col(c) for c in ("m1", "m2", "m3", "m4"))
    v = cm.withColumn("var", m2 - m1 * m1)
    var = F.col("var")
    three, two, four, six = (F.lit(float(i)) for i in (3, 2, 4, 6))
    return v.select(
        "o_orderpriority",
        "n",
        F.round(m1 * 1e6).cast("long").alias("mean_1e6"),
        F.round(var * 1e6).cast("long").alias("var_1e6"),
        F.round(
            (m3 - three * m1 * m2 + two * m1 * m1 * m1)
            / (var * F.sqrt(var))
            * 1e6
        )
        .cast("long")
        .alias("skew_1e6"),
        F.round(
            (m4 - four * m1 * m3 + six * m1 * m1 * m2 - three * m1 * m1 * m1 * m1)
            / (var * var)
            * 1e6
        )
        .cast("long")
        .alias("kurt_1e6"),
    ).orderBy("o_orderpriority")
