"""Join operators (SURVEY §2.3 — absent in reference, declared).

The reference unions parallel streams but never joins
(SURVEY §2.7/M1-M5); the engine declares the full join surface. Scale
notes per query: genuinely-small dims (region: 5 rows, nation: 25) get an
explicit broadcast hint; everything else is left to Catalyst/AQE, which
auto-broadcasts under `spark.sql.autoBroadcastJoinThreshold` and picks
sort-merge with skew-splitting otherwise — hard-coding broadcast for
tables that grow with SF would be wrong at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from storm_dynamic_spout_spark.catalog.registry import query, t


@query(
    "join_inner",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(o.o_totalprice)      AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders⋈customer; Catalyst picks broadcast vs
    sort-merge by stats (customer scales with SF → no manual hint)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("revenue"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           coalesce(sum(o.o_totalprice), 0)    AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count=0 rows)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


@query(
    "join_right",
    oracle="""
    SELECT n.n_name,
           CAST(count(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving supplier-less nations."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY c_nationkey
    ), supp AS (
      SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(cust.nationkey, supp.nationkey) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregated frames on nationkey."""
    cust = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    joined = cust.join(supp, "nationkey", "outer")
    return joined.select(
        F.col("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with a >100k order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent order
    (unqualified "no orders at all" is vacuous on the fixtures — every
    customer has orders — so the predicate keeps the result non-empty)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two tiny dims (5×25)."""
    r = t(spark, sf_dir, "region").select("r_name")
    n = t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@query(
    "join_theta",
    oracle="""
    SELECT a.n_name AS name_a, b.n_name AS name_b
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: unordered pairs of nations within a region
    (equi part shuffles, `<` evaluated as join residual)."""
    n = t(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_name").alias("name_a"), F.col("b.n_name").alias("name_b"))


@query(
    "join_range",
    oracle="""
    SELECT p.p_size AS bucket_size,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM part p JOIN (SELECT DISTINCT p_size FROM part) b ON p.p_size >= b.p_size
    GROUP BY p.p_size
    ORDER BY p.p_size
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (non-equi) join against a small broadcast side —
    BroadcastNestedLoop is fine because the build side is tiny and
    stays tiny at scale (distinct sizes ≤ 50)."""
    p = t(spark, sf_dir, "part")
    buckets = p.select("p_size").distinct().withColumnRenamed("p_size", "b_size")
    return (
        p.join(F.broadcast(buckets), p.p_size >= buckets.b_size)
        .groupBy(F.col("p_size").alias("bucket_size"))
        .agg(F.count("*").alias("n_parts"))
        .orderBy("bucket_size")
    )


@query(
    "join_star",
    oracle="""
    SELECT n.n_name, r.r_name,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style star join: fact (lineitem) through orders→customer
    →nation→region. region/nation are broadcast (constant-size dims);
    the fact-side joins are left to Catalyst — at 100 TB they become
    sort-merge on the shuffled keys with AQE skew handling."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           max(o.o_orderdate) AS last_order_date
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (events × orders by nearest earlier order date).

    Spark has no native ASOF; the scalable pattern is union-the-sides +
    running max over a single per-key time-ordered window — ONE shuffle
    on user_id, no row-explosion (the naive range join is O(events ×
    orders-per-user)). Matches SURVEY §2.3's "as-of / interval join" row.
    """
    e = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        "user_id",
        F.lit(None).cast("timestamp").alias("od"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("o_orderdate").alias("od"),
    )
    # orders sort before events at equal t (is_event asc) → bound inclusive
    w = (
        W.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        e.unionByName(o)
        .withColumn("last_order_date", F.max("od").over(w))
        .filter(F.col("is_event") == 1)
        .select("event_id", "user_id", "ts", "last_order_date")
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           min(o.o_orderdate) AS next_order_date
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each event picks the nearest order at or
    AFTER its timestamp — the "time-to-next-treatment" direction
    (attribution lookahead, label leakage checks in training-data
    assembly) that the backward join_asof cannot express.  Same
    one-shuffle union + per-key ordered window pattern, mirrored: a
    running MIN over [current row, unbounded following], with orders
    sorting after events at equal timestamps so the bound stays
    inclusive.  Still one exchange on the key, no row explosion."""
    e = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        "user_id",
        F.lit(None).cast("timestamp").alias("od"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("o_orderdate").alias("od"),
    )
    # events sort BEFORE orders at equal t (is_event desc) -> the
    # forward window [current, following] includes the equal-t order
    w = (
        W.partitionBy("k")
        .orderBy("t", F.desc("is_event"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    return (
        e.unionByName(o)
        .withColumn("next_order_date", F.min("od").over(w))
        .filter(F.col("is_event") == 1)
        .select("event_id", "user_id", "ts", "next_order_date")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH prev AS (
      SELECT e.event_id, max(o.o_orderdate) AS prev_od
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      GROUP BY e.event_id
    ),
    nxt AS (
      SELECT e.event_id, min(o.o_orderdate) AS next_od
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
      GROUP BY e.event_id
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           CASE
             WHEN prev_od IS NULL THEN next_od
             WHEN next_od IS NULL THEN prev_od
             WHEN (e.ts - prev_od) <= (next_od - e.ts) THEN prev_od
             ELSE next_od
           END AS nearest_order_date,
           CASE
             WHEN prev_od IS NULL AND next_od IS NULL THEN NULL
             WHEN prev_od IS NULL THEN 'forward'
             WHEN next_od IS NULL THEN 'backward'
             WHEN (e.ts - prev_od) <= (next_od - e.ts) THEN 'backward'
             ELSE 'forward'
           END AS direction
    FROM events e
    JOIN prev USING (event_id) JOIN nxt USING (event_id)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: each event picks whichever order is closer
    in time — backward or forward — with ties going backward (the
    pandas ``merge_asof(direction='nearest')`` semantics), completing
    the as-of family (backward ``join_asof``, forward
    ``join_asof_forward``).  Both directional candidates come from the
    SAME unioned relation: the running-max-backward and
    running-min-forward windows share the per-key hash partitioning,
    so the whole query is still ONE exchange on the key (the second
    window re-sorts within partitions, no second shuffle) and no
    row-explosion — the naive form is two range joins.  The tie and
    NULL arbitration compares integer epoch differences, not floats.

    Why at 100 TB: identical shape to join_asof — union + windows
    scale with per-key history, never with the cross product; skewed
    keys split by AQE."""
    e = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        "user_id",
        F.lit(None).cast("timestamp").alias("od"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("o_orderdate").alias("od"),
    )
    # backward: orders sort before events at equal t (inclusive bound);
    # forward: events sort before orders at equal t (inclusive bound)
    wb = (
        W.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("k")
        .orderBy("t", F.desc("is_event"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    prev_od, next_od = F.col("__prev"), F.col("__next")
    back_closer = F.unix_micros(F.col("ts")) - F.unix_micros(prev_od) <= (
        F.unix_micros(next_od) - F.unix_micros(F.col("ts"))
    )
    return (
        e.unionByName(o)
        .withColumn("__prev", F.max("od").over(wb))
        .withColumn("__next", F.min("od").over(wf))
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(prev_od.isNull(), next_od)
            .when(next_od.isNull(), prev_od)
            .when(back_closer, prev_od)
            .otherwise(next_od)
            .alias("nearest_order_date"),
            F.when(prev_od.isNull() & next_od.isNull(), F.lit(None).cast("string"))
            .when(prev_od.isNull(), F.lit("forward"))
            .when(next_od.isNull(), F.lit("backward"))
            .when(back_closer, F.lit("backward"))
            .otherwise(F.lit("forward"))
            .alias("direction"),
        )
    )


@query(
    "join_stream_static",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(e.value)             AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def join_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static dimension-enrichment join, batch-expressed (the
    streaming variant joins the same plan against readStream; SURVEY
    §2.3 last row). Dim side broadcast-eligible via AQE."""
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    return (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .orderBy("c_mktsegment")
    )


@query(
    "sql_exists_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the engine's SQL entry
    point — Catalyst decorrelates both into left-semi + left-anti joins
    (SURVEY §4 "subquery decorrelation: built-in"). Views are registered
    via the engine's register_tables so SQL and DataFrame paths share
    the same scans."""
    from storm_dynamic_spout_spark.engine import register_tables

    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        """
    )


@query(
    "join_null_safe",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM (SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k
          FROM events WHERE event_id < 100) a
    JOIN (SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k
          FROM events WHERE event_id < 100) b
      ON a.k IS NOT DISTINCT FROM b.k AND a.event_id < b.event_id
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantic regular equi-joins silently drop.
    Declared alongside the §2.3 join family."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 100)
        .select(
            "event_id",
            F.when(F.col("event_type") == "error", None)
            .otherwise(F.col("event_type"))
            .alias("k"),
        )
    )
    a = e.select(F.col("event_id").alias("id_a"), F.col("k").alias("ka"))
    b = e.select(F.col("event_id").alias("id_b"), F.col("k").alias("kb"))
    return (
        a.join(b, a.ka.eqNullSafe(b.kb) & (a.id_a < b.id_b))
        .select("id_a", "id_b")
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(count(*) AS BIGINT) AS n_bands
    FROM lineitem l JOIN part p
      ON l.l_extendedprice >= p.p_retailprice - 50.0
     AND l.l_extendedprice <  p.p_retailprice + 50.0
    GROUP BY l.l_orderkey, l.l_linenumber
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big keyless range join via the bin optimization
    (operators/rangejoin.py): lineitem prices matched to +-50 price
    bands around every part's retail price.  Neither side is broadcast
    dimension-tiny at scale, so the naive plan is a nested loop; the
    binned plan is an equi-join on the bin id (plan-guarded non-BNLJ)
    with the exact range as residual.  Bin width = the interval length,
    so each interval explodes to at most 3 bins."""
    from storm_dynamic_spout_spark.operators.rangejoin import interval_join_binned

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    bands = t(spark, sf_dir, "part").select(
        (F.col("p_retailprice") - 50.0).alias("band_lo"),
        (F.col("p_retailprice") + 50.0).alias("band_hi"),
    )
    joined = interval_join_binned(
        li, bands, "l_extendedprice", "band_lo", "band_hi", bin_width=100.0
    )
    return joined.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("n_bands")
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT s.s_nationkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    ORDER BY s.s_nationkey
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically-salted equi-join (operators/skew.py): the fact
    side gets a salt hashed from its unique id, the dimension is
    replicated salt-ways, and the join key becomes (key, salt) — a hot
    supplier's rows spread across n_salts shuffle partitions.  The
    mitigation is a pure re-partitioning: the oracle is the UNSALTED
    join, and results are identical row-for-row.  For when AQE's
    skew-split can't help: hash-aggregate feeds, or
    small-but-unbroadcastable dims.  Money summed in integer cents
    (engine-portable)."""
    from storm_dynamic_spout_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_suppkey").alias("s_suppkey"),
        "l_extendedprice",
    )
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(
        li, sup, "s_suppkey", salt_from=["l_orderkey", "l_linenumber"], n_salts=8
    )
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_price_cents"
            ),
        )
        .orderBy("s_nationkey")
    )


#: Staleness bound sized to DISCRIMINATE on the fixtures: orders span
#: 1992-1998 and events sit in 2024, so ~26.3 years keeps matches to
#: late-epoch orders and nulls the early ones (365 days would null
#: everything and test nothing).
ASOF_TOLERANCE_DAYS = 9600


@query(
    "join_asof_tolerance",
    oracle=f"""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           CASE WHEN max(o.o_orderdate)
                     >= CAST(e.ts AS TIMESTAMP) - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
                THEN max(o.o_orderdate) END AS last_order_date
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND: the nearest earlier order,
    but only if it is within the staleness bound — otherwise NULL.
    Real as-of joins carry a tolerance (pandas merge_asof's
    ``tolerance``, kdb's windowed aj): a quote from years ago must not
    price today's trade.

    Why at 100 TB: identical plan to join_asof — union + ONE per-key
    time-ordered window, no row explosion — the tolerance is a pure
    post-window column comparison, free at any scale."""
    e = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        "user_id",
        F.lit(None).cast("timestamp").alias("od"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("o_orderdate").alias("od"),
    )
    w = (
        W.partitionBy("k")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last = F.max("od").over(w)
    return (
        e.unionByName(o)
        .withColumn("__last", last)
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(
                F.col("__last")
                >= F.col("ts") - F.expr(f"INTERVAL {ASOF_TOLERANCE_DAYS} DAY"),
                F.col("__last"),
            ).alias("last_order_date"),
        )
    )


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT c_custkey AS leaf, c_custkey AS node, 0 AS depth
      FROM customer
      UNION ALL
      SELECT leaf, node // 10, depth + 1 FROM walk WHERE node > 0
    )
    SELECT leaf AS c_custkey,
           CAST(max(depth) AS BIGINT) AS depth_to_root,
           CAST(sum(node) AS BIGINT) AS path_sum
    FROM walk GROUP BY leaf ORDER BY leaf
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the engine's SQL entry point (Spark 4
    ``WITH RECURSIVE`` — the UnionLoop iterative plan): walk a derived
    parent hierarchy (parent = custkey DIV 10, the decimal-digit tree,
    derived in-query like corpus_url_dedup's URLs) from every customer
    to the root, reporting depth and the path checksum.  DuckDB runs
    the same recursion with its ``//`` integer division.

    Why at 100 TB: recursion depth is log10(|customers|) (~12 for 1e12
    keys) — each iteration is a narrow map over the frontier, and the
    frontier SHRINKS as paths hit the root; the only shuffle is the
    final per-leaf aggregate.  Unbounded-depth graph walks belong to
    the checkpointed CC operator (operators/dedup.py) — this is the
    bounded-hierarchy shape (org charts, category trees, BOM levels)."""
    from storm_dynamic_spout_spark.engine import register_tables

    register_tables(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT c_custkey AS leaf, c_custkey AS node, 0 AS depth
          FROM customer
          UNION ALL
          SELECT leaf, node DIV 10, depth + 1 FROM walk WHERE node > 0
        )
        SELECT leaf AS c_custkey,
               CAST(max(depth) AS BIGINT) AS depth_to_root,
               CAST(sum(node) AS BIGINT) AS path_sum
        FROM walk GROUP BY leaf ORDER BY leaf
        """
    )


FUZZY_BLOCK = 3
FUZZY_MAX_DIST = 1


@query(
    "join_fuzzy_string",
    oracle=f"""
    WITH dirty AS (
      SELECT p_partkey AS dirty_id,
             substr(p_name, 1, 3 + (p_partkey % 4))
               || substr(p_name, 5 + (p_partkey % 4)) AS dirty_name
      FROM part
    ),
    cand AS (
      SELECT d.dirty_id, d.dirty_name, p.p_partkey, p.p_name
      FROM dirty d JOIN part p
        ON substr(d.dirty_name, 1, {FUZZY_BLOCK}) = substr(p.p_name, 1, {FUZZY_BLOCK})
       AND abs(length(d.dirty_name) - length(p.p_name)) <= {FUZZY_MAX_DIST}
    ),
    matches AS (
      SELECT dirty_id, p_partkey,
             levenshtein(dirty_name, p_name) AS dist
      FROM cand WHERE levenshtein(dirty_name, p_name) <= {FUZZY_MAX_DIST}
    ),
    ranked AS (
      SELECT dirty_id, p_partkey, dist,
             row_number() OVER (PARTITION BY dirty_id
                                ORDER BY dist, p_partkey) AS rn,
             count(*) OVER (PARTITION BY dirty_id) AS nm
      FROM matches
    )
    SELECT dirty_id,
           CAST(nm AS BIGINT) AS n_matches,
           CAST(dist AS BIGINT) AS best_distance,
           p_partkey AS best_match_id
    FROM ranked WHERE rn = 1 ORDER BY dirty_id
    """,
)
def join_fuzzy_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join (operators/text.py fuzzy_string_join) — the
    entity-resolution matcher: every part name gets a deterministic
    single-character-deletion typo derived in-query (the
    corpus_url_dedup fixture pattern), and the dirty records match
    back against the clean table via prefix blocking + Levenshtein ≤ 1
    verify.  Output is the per-dirty-record resolution summary (match
    count, best distance, deterministic best match) — TPC-H part names
    repeat heavily, so every dirty record resolves (2000/2000 at
    sf0.01) and the match-count column exposes exactly how ambiguous
    each resolution was.

    Why at 100 TB: see the operator docstring — block-key equi-join,
    per-block-bounded Levenshtein, WindowGroupLimit best-match."""
    from pyspark.sql import Window

    from storm_dynamic_spout_spark.operators.text import fuzzy_string_join

    part = t(spark, sf_dir, "part")
    dirty = part.select(
        F.col("p_partkey").alias("dirty_id"),
        F.concat(
            F.expr("substr(p_name, 1, 3 + p_partkey % 4)"),
            F.expr("substr(p_name, 5 + p_partkey % 4)"),
        ).alias("dirty_name"),
    )
    matches = fuzzy_string_join(
        dirty,
        part.select("p_partkey", "p_name"),
        "dirty_id",
        "dirty_name",
        "p_partkey",
        "p_name",
        block_len=FUZZY_BLOCK,
        max_dist=FUZZY_MAX_DIST,
    )
    w = Window.partitionBy("dirty_id").orderBy("edit_distance", "p_partkey")
    wn = Window.partitionBy("dirty_id")
    return (
        matches.withColumn("rn", F.row_number().over(w))
        .withColumn("n_matches", F.count(F.lit(1)).over(wn).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            "n_matches",
            F.col("edit_distance").alias("best_distance"),
            F.col("p_partkey").alias("best_match_id"),
        )
        .orderBy("dirty_id")
    )


OVERLAP_WINDOW_US = 2 * 3600 * 1_000_000  # 2-hour activity windows
_EPOCH0 = "TIMESTAMP '2024-01-01 00:00:00'"


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH a AS (
      SELECT event_id,
             date_diff('microsecond', {_EPOCH0}, CAST(ts AS TIMESTAMP)) AS lo
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT date_diff('microsecond', {_EPOCH0}, CAST(ts AS TIMESTAMP)) AS lo
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT a.event_id, a.lo
      FROM a JOIN b
        ON a.lo <= b.lo + {OVERLAP_WINDOW_US}
       AND b.lo <= a.lo + {OVERLAP_WINDOW_US}
    )
    SELECT CAST(lo // {86_400 * 1_000_000} AS BIGINT) AS click_day,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_clicks,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1 ORDER BY 1
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join — keyless, both sides large:
    every click's 2-hour activity window matched to every overlapping
    purchase window (closed-interval overlap), rolled up per click
    day.  The co-occurrence shape behind attribution windows and
    conflict detection.

    ``operators/rangejoin.py interval_overlap_binned``: both sides
    explode to covered bins (bin = window length ⇒ ≤3 bins each), the
    join is an equi-join on bin id, and each pair is emitted ONLY in
    the first shared bin — one row per overlapping pair with no
    distinct/dedup shuffle.  Plan-guarded never a nested loop
    (tests/test_interval_overlap.py).  Timestamps become exact integer
    µs offsets from a fixture epoch (tz-agnostic ``timestampdiff`` on
    NTZ), so binning arithmetic is integer-exact in both engines."""
    from storm_dynamic_spout_spark.operators.rangejoin import interval_overlap_binned

    e = t(spark, sf_dir, "events")
    off = F.expr(f"timestampdiff(MICROSECOND, {_EPOCH0}, ts)")
    a = e.filter(F.col("event_type") == "click").select(
        "event_id", off.alias("a_lo"), (off + OVERLAP_WINDOW_US).alias("a_hi")
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        off.alias("b_lo"), (off + OVERLAP_WINDOW_US).alias("b_hi")
    )
    pairs = interval_overlap_binned(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", bin_width=float(OVERLAP_WINDOW_US)
    )
    return (
        pairs.groupBy(
            F.floor(F.col("a_lo") / F.lit(86_400 * 1_000_000))
            .cast("long")
            .alias("click_day")
        )
        .agg(
            F.countDistinct("event_id").alias("n_clicks"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .orderBy("click_day")
    )


@query(
    "join_bloom_prune",
    oracle="""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    WHERE l.l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join pruning: lineitem semi-joined to the
    nation-3 suppliers THROUGH an explicit 8 KiB bloom bitmap — the
    probe side is pre-filtered map-side before any shuffle, then the
    exact semi-join removes the bloom's false positives (semantics ≡
    plain LEFT SEMI).

    Why at 100 TB: a ~4%-selective dimension predicate normally still
    shuffles the full fact table into a sort-merge semi-join.  The
    bitmap is a few KiB regardless of fact size and rides a scalar
    subquery (a Filter node Catalyst can't reorder above the join —
    the crossJoin-broadcast form gets pulled above the semi-join,
    observed), so ~96% of fact rows drop before the exchange.
    Plan-guarded in tests/test_bloom_prune.py: in the forced-SMJ
    regime the element_at membership test sits BELOW the probe-side
    hashpartitioning exchange.  Same idea as Spark's own
    `runtime.bloomFilter.enabled` injection, as an explicit,
    inspectable operator for where the heuristics decline."""
    from storm_dynamic_spout_spark.operators.bloom import bloom_prune_join

    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 3)
    pruned = bloom_prune_join(li, sup, "l_suppkey", "s_suppkey")
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


#: Spatial fixture geometry: md5-derived integer coordinates in a
#: 100k × 100k micro-unit plane, neighbor radius 1000 (~350 pairs at
#: sf0.01's 1.5k customers — dense enough to exercise corner cells).
_SPATIAL_MOD = 100_000
_SPATIAL_RADIUS = 1_000


def _spatial_coord_sql(axis: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{axis}:' || CAST(c_custkey AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {_SPATIAL_MOD}"
    )


def _spatial_coord(axis: str):
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{axis}:"), F.col("c_custkey").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_SPATIAL_MOD),
    )


@query(
    "join_spatial_grid",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.ux - b.ux) * (a.ux - b.ux)
              + (a.uy - b.uy) * (a.uy - b.uy) AS BIGINT) AS dist2
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.ux - b.ux) * (a.ux - b.ux)
        + (a.uy - b.uy) * (a.uy - b.uy) <= {_SPATIAL_RADIUS * _SPATIAL_RADIUS}
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-radius spatial self-join via grid-cell blocking
    (operators/spatial.py): points join only their 3×3 cell
    neighborhood, so the plan is an equi-join on cell ids — never the
    all-pairs cross join the ORACLE deliberately uses (the brute force
    is the independent ground truth; the grid must reproduce it
    exactly).  Coordinates are md5-derived integer micro-units and the
    predicate is integer dist² ≤ r², so there is no float near-tie.
    """
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    return grid_neighbor_pairs(pts, "id", "ux", "uy", _SPATIAL_RADIUS)
