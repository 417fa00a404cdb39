"""TPC-H-style composite queries adapted to the fixture schemas —
multi-operator "real workload" coverage on top of the per-operator
catalog (the reference ships no SQL corpus, SURVEY §5; these are the
standard analytics shapes the north star demands, each oracle-checked).

Adaptations to the trimmed fixtures: dates are TIMESTAMP columns,
``o_shippriority``/``l_commitdate`` don't exist (Q3/Q10 drop them),
otherwise the queries keep the canonical TPC-H structure so plan
shapes (selective scan → broadcast dims → partial agg → top-k) are
comparable with published engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.catalog.registry import query, t
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint

def _rev() -> F.Column:
    # built lazily: constructing Columns at import time requires an
    # active SparkContext in classic mode
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")


def _dsum(expr: F.Column) -> F.Column:
    """Exact, order-independent sum of a per-row double expression.

    Large-magnitude double sums (~1e9 over ~60k rows) accumulate enough
    FP error that the driver's 6dp value hash can flip between Spark's
    and DuckDB's summation orders. Per-row the expression is a single
    IEEE754 product — identical in both engines — so we pin it to
    DECIMAL(25,6) per row and sum decimals (exact, associative), then
    return a double. DuckDB oracle mirrors: SUM(CAST(e AS DECIMAL(25,6))).
    """
    return F.sum(expr.cast("decimal(25,6)")).cast("double")


@query(
    "tpch_q3",
    oracle="""
    SELECT l_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)) * 1000000) / 1000000 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping-priority shape: selective dim filter broadcast into
    the fact, grouped revenue, top-10. Both date filters reach the
    parquet scans (PushedFilters); customer is the broadcast side."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.round(F.sum(_rev()) * 1_000_000) / 1_000_000).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)) * 1000000) / 1000000 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier-volume: 6-way join with the classic
    same-nation (c_nationkey = s_nationkey) constraint. Dims broadcast;
    the year predicate prunes orders at the scan."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.round(F.sum(_rev()) * 1_000_000) / 1_000_000).alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


@query(
    "tpch_q6",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount) * 1000000) / 1000000 AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast-revenue: pure scan-filter-aggregate — the pushdown
    benchmark. All four predicates reach the parquet reader; no shuffle
    except the single-row final agg."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")) * 1_000_000) / 1_000_000).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


@query(
    "tpch_q10",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)) * 1000000) / 1000000 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item-reporting: quarter of orders × returned
    lineitems, revenue per customer, top-20 — the customer-facing
    troubleshooting query."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.round(F.sum(_rev()) * 1_000_000) / 1_000_000).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)       AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)  AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)      AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing-summary — the canonical scan-heavy partial-agg query.

    Full 8-aggregate variant (the decimal trick in ``_dsum`` makes the
    ~1e9-magnitude sums exactly reproducible across engines; averages
    are one deterministic division on top). Single scan, map-side
    partial aggregation into 6 groups — at 100 TB this is the shape
    whose cost is pure scan bandwidth, so nothing here shuffles more
    than 6 rows per partition.
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    qty, price, disc, tax = (F.col(c) for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(qty).alias("sum_qty"),
            _dsum(price).alias("sum_base_price"),
            _dsum(price * (1 - disc)).alias("sum_disc_price"),
            _dsum(price * (1 - disc) * (1 + tax)).alias("sum_charge"),
            (_dsum(qty) / cnt).alias("avg_qty"),
            (_dsum(price) / cnt).alias("avg_price"),
            (_dsum(disc) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-modes shape, adapted: the fixture lineitem has no
    l_shipmode/l_commitdate/l_receiptdate, so the conditional priority
    count pivots on l_returnflag with the year predicate on l_shipdate.
    Preserves the canonical shape: fact-fact join + CASE-WHEN
    conditional aggregation (integer-exact, no FP concerns).
    """
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q14",
    oracle="""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
                                 ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
           AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion-effect: one-month lineitem slice joined to part,
    promo share of revenue. part is the broadcast side; the month
    predicate reaches the scan. Decimal-pinned sums + one final double
    division keep the ratio bit-identical across engines.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = F.broadcast(t(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * _dsum(promo) / _dsum(rev)).alias("promo_revenue")
        )
    )


@query(
    "tpch_q18",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume-customer: aggregate-then-semi-join shape. The
    HAVING subquery reduces lineitem to a small key set first (threshold
    250 adapted to the fixture's ~458 max order quantity), which Spark
    plans as an aggregate feeding a join — at scale the key set is tiny
    relative to the fact, so AQE converts it to a broadcast semi-join
    instead of shuffling the full fact twice.
    """
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey")
    )
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        li.join(big.withColumnRenamed("l_orderkey", "__bigkey"), li.l_orderkey == F.col("__bigkey"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking, adapted: the fixture has no
    l_commitdate/l_receiptdate, so "late" is l_shipdate more than 60
    days after o_orderdate. The correlated EXISTS becomes a left-semi
    join with a non-equi conjunct — at scale the quarter filter prunes
    orders first, so the semi-join probe side is small.
    """
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <= TIMESTAMP '1998-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume-shipping between two nations: the self-joined dim
    (nation aliased twice, supplier side vs customer side) with the
    symmetric pair predicate. Both nation copies broadcast; the
    two-year shipdate band reaches the lineitem scan.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") <= "1998-12-31")
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    n1 = F.broadcast(nat.select(F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nat.select(F.col("n_nationkey").alias("__ck"), F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, s.s_nationkey == F.col("__sk"))
        .join(n2, c.c_nationkey == F.col("__ck"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(_rev()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q8",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
                         ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
           AS mkt_share
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA'
      AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: NATION_5's share of ECONOMY-part
    revenue sold into AMERICA, per order year. The deepest standard
    join tree (8 relations, nation twice); every dim broadcasts, the
    two fact inputs are pre-filtered at their scans. Share is a single
    double division of two exact decimal sums.
    """
    p = F.broadcast(t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY"))
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    n1 = F.broadcast(nat.select(F.col("n_nationkey").alias("__ck"), F.col("n_regionkey").alias("__crk")))
    n2 = F.broadcast(nat.select(F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("__sname")))
    r = F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat5 = F.when(F.col("__sname") == "NATION_5", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, c.c_nationkey == F.col("__ck"))
        .join(r, F.col("__crk") == r.r_regionkey)
        .join(n2, s.s_nationkey == F.col("__sk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((_dsum(nat5) / _dsum(rev)).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "tpch_q9",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit, adapted: the fixture has no partsupp /
    ps_supplycost, so profit is the discounted revenue of '%widget%'
    parts by supplier nation and order year. Keeps the canonical
    shape: LIKE-filtered part broadcast into the fact, two more joins,
    two-level rollup grouping.
    """
    p = F.broadcast(t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")))
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(_dsum(_rev()).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution, adapted: the comment
    anti-pattern filter becomes "not urgent". The canonical
    double-aggregate: left join keeps order-less customers (count of
    NULL keys = 0), then the histogram of counts. The second aggregate
    is tiny (distinct counts), so only the first one shuffles.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q15",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS total
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-10-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total = (SELECT max(total) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: the view-plus-scalar-subquery shape. Revenue
    per supplier over a quarter, then keep the max. The decimal sums
    make the max-equality exact across engines (double sums would tie-
    break on accumulation order). The single-row max broadcasts into a
    cross-join filter — no second shuffle of the revenue relation.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-10-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    # rev feeds the scalar max AND the winner filter — without it the
    # quarter's lineitem slice was scanned and aggregated twice
    rev = local_checkpoint(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(25,6)"
                )
            ).alias("__total")
        )
    )
    mx = rev.agg(F.max("__total").alias("__mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("__total") == F.col("__mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("__total").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q17",
    oracle="""
    WITH pq AS (
        SELECT l_partkey AS pk,
               SUM(CAST(l_quantity AS DECIMAL(25,6))) AS qsum,
               COUNT(*) AS qcnt
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq   ON pk = l_partkey
    WHERE p_brand = 'Brand#23' AND p_size < 10
      AND CAST(l_quantity AS DECIMAL(25,6)) * 5 * qcnt < qsum
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: the correlated scalar
    subquery (per-part average quantity) decorrelated into an
    aggregate-then-join. The threshold l_quantity < 0.2*avg(qty) is
    algebraically rearranged to 5*cnt*qty < sum — all-decimal, so the
    boundary comparison is exact in both engines (a double 0.2*avg
    could flip rows on ulp noise). The brand-filtered lineitem slice
    is checkpointed and shared by the aggregate and the probe (one
    fact scan, and the per-part aggregate runs over ~0.4% of rows);
    the tiny aggregate broadcasts back onto the probe.
    """
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        t(spark, sf_dir, "part").filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10))
    )
    # The part filter is ~0.4% selective and the average is PER PART,
    # so pruning lineitem to matching parts FIRST leaves every
    # consumed per-part aggregate unchanged; the checkpointed slice
    # then feeds both the aggregate and the probe — one lineitem scan
    # instead of two, and the aggregate shuffles the pruned slice
    # instead of the full fact
    lp = local_checkpoint(
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    pq = lp.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("__qsum"),
        F.count(F.lit(1)).alias("__qcnt"),
    )
    return (
        lp.join(F.broadcast(pq), lp.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity").cast("decimal(25,6)") * 5 * F.col("__qcnt") < F.col("__qsum"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).cast("double") / 7.0).alias("avg_yearly")
        )
    )


@query(
    "tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted-revenue: disjunction of conjunctive predicates
    spanning both join sides (no l_shipmode/p_container in the
    fixture; brand×size×quantity keeps the shape). Catalyst pushes the
    single-side residuals (brand/size to part, quantity bands to
    lineitem as a range union) below the join and keeps the cross-side
    disjunction as the join filter.
    """
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(t(spark, sf_dir, "part"))
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#24") & size.between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_dsum(_rev()).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "tpch_q21",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 365 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers-who-kept-orders-waiting, adapted ("late" =
    shipped >365 days after order date; no receipt/commit dates). The
    EXISTS + correlated NOT EXISTS pair decorrelates into ONE per-order
    aggregate: an order qualifies iff it has >1 distinct suppliers and
    exactly 1 distinct *late* supplier — then every late row in a
    qualifying order belongs to the lone late supplier. One scan of
    the joined fact computes both distinct counts; no self-join of
    lineitem three ways (the naive translation shuffles lineitem
    thrice; this shuffles it once).
    """
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem")
    fact = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "__late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
    )
    per_order = fact.groupBy(F.col("l_orderkey").alias("__ok")).agg(
        F.countDistinct("l_suppkey").alias("__ns"),
        F.countDistinct(F.when(F.col("__late"), F.col("l_suppkey"))).alias("__nls"),
    )
    qualifying = per_order.filter((F.col("__ns") > 1) & (F.col("__nls") == 1)).select("__ok")
    s = t(spark, sf_dir, "supplier")
    return (
        fact.filter(F.col("__late"))
        .join(qualifying, F.col("l_orderkey") == F.col("__ok"), "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "tpch_q22",
    oracle="""
    WITH avgbal AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS bsum, COUNT(*) AS bcnt
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
    FROM customer, avgbal
    WHERE CAST(c_acctbal AS DECIMAL(25,6)) * bcnt > bsum
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-sales-opportunity, adapted: every fixture customer
    has orders, so the anti-join target is "no URGENT orders" (and
    market segment replaces the phone country code). Shape preserved:
    uncorrelated scalar subquery (avg positive balance — rearranged to
    the exact decimal bal*cnt > sum, no double-avg boundary flips) +
    NOT EXISTS anti-join + aggregate.
    """
    # The projected customer dim feeds the balance-stats scalar AND
    # the main filter — one scan instead of two
    c = local_checkpoint(
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(25,6)")).alias("__bsum"),
        F.count(F.lit(1)).alias("__bcnt"),
    )
    urgent = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal").cast("decimal(25,6)") * F.col("__bcnt") > F.col("__bsum"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(25,6)")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the fixtures ship no partsupp.parquet, so q2/q11/q16/q20
# generate it deterministically from part × supplier with the SAME integer
# formula on both engines (COVERAGE.md "blocked on partsupp" workaround):
#   ps_suppkey   = (p_partkey + i*(S div 4 + p_partkey div S)) mod S, i ∈ 0..3
#                  (the TPC-H spec's supplier-spread shape, 0-based keys)
#   ps_availqty  = (p_partkey*7 + ps_suppkey*11) mod 9999 + 1
#   ps_supplycost = ((p_partkey*13 + ps_suppkey*17) mod 99901 + 100) / 100.0
# All integer arithmetic (+ one shared double division), so Spark and DuckDB
# produce bit-identical rows; DISTINCT collapses the rare small-S collisions
# identically on both sides.
# ---------------------------------------------------------------------------

_PARTSUPP_CTE = """
    __ps_g AS (
        SELECT p_partkey,
               (p_partkey + i * (s_cnt // 4 + p_partkey // s_cnt)) % s_cnt AS ps_suppkey
        FROM part
        CROSS JOIN (SELECT UNNEST(range(0, 4)) AS i) AS __ii
        CROSS JOIN (SELECT count(*) AS s_cnt FROM supplier) AS __sc
    ),
    partsupp AS (
        SELECT DISTINCT
            p_partkey AS ps_partkey,
            ps_suppkey,
            (p_partkey * 7 + ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
            CAST((p_partkey * 13 + ps_suppkey * 17) % 99901 + 100 AS DOUBLE) / 100.0
                AS ps_supplycost
    FROM __ps_g
    )"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _PARTSUPP_CTE (same formula, same DISTINCT)."""
    p = t(spark, sf_dir, "part").select("p_partkey")
    s_cnt = F.broadcast(
        t(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("__s_cnt"))
    )
    g = (
        p.crossJoin(s_cnt)
        .withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn(
            "ps_suppkey",
            (
                F.col("p_partkey")
                + F.col("__i")
                * (F.expr("__s_cnt div 4") + F.expr("p_partkey div __s_cnt"))
            )
            % F.col("__s_cnt"),
        )
    )
    return (
        g.select(F.col("p_partkey").alias("ps_partkey"), "ps_suppkey")
        .distinct()
        .withColumn(
            "ps_availqty",
            (F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 11) % 9999 + 1,
        )
        .withColumn(
            "ps_supplycost",
            ((F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 17) % 99901 + 100).cast(
                "double"
            )
            / 100.0,
        )
    )


@query(
    "tpch_q2",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    eu AS (
        SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
        FROM partsupp
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN region   ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
    ),
    minc AS (SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost
             FROM eu GROUP BY ps_partkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
    FROM eu
    JOIN part ON p_partkey = ps_partkey AND p_size <= 15 AND p_type = 'LARGE'
    JOIN minc ON mk = ps_partkey AND ps_supplycost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: correlated MIN subquery decorrelated
    into a per-part MIN window over the already-part-filtered probe
    (p_mfgr → p_brand; single-word p_type so LIKE '%BRASS' → equality).
    The min-cost equality is exact: MIN selects an existing double, no
    accumulation.  Supplier/nation/region broadcast; the part filter
    prunes BEFORE the min, and the window replaces the old
    aggregate-then-rejoin (which evaluated the partsupp⋈supplier
    subtree twice) — partsupp is scanned once and shuffled once, on
    the part key.  Reference for shape: public TPC-H spec Q2."""
    from pyspark.sql.window import Window as W

    ps = _partsupp(spark, sf_dir)
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = t(spark, sf_dir, "supplier")
    sn = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).join(
            r, n.n_regionkey == r.r_regionkey
        )
    )
    eu = ps.join(sn, ps.ps_suppkey == sn.s_suppkey)
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(
            (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
        )
    )
    return (
        eu.join(p, eu.ps_partkey == p.p_partkey)
        .withColumn(
            "__min_cost",
            F.min("ps_supplycost").over(W.partitionBy("ps_partkey")),
        )
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q11",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    de AS (
        SELECT ps_partkey,
               CAST(round(ps_supplycost * 100) AS BIGINT) * ps_availqty AS val_cents
        FROM partsupp
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation   ON n_nationkey = s_nationkey AND n_name = 'NATION_7'
    ),
    grouped AS (SELECT ps_partkey, sum(val_cents) AS part_cents FROM de GROUP BY ps_partkey)
    SELECT ps_partkey, CAST(part_cents AS DOUBLE) / 100.0 AS total_value
    FROM grouped
    WHERE part_cents * 1000 > (SELECT sum(part_cents) FROM grouped)
    ORDER BY total_value DESC, ps_partkey
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important-stock identification: per-part inventory value for
    one nation's suppliers, kept where it exceeds 0.1% of the total
    (fraction adapted to fixture scale). All value arithmetic is in
    integer cents — supplycost is cents/100 by construction, so
    round(cost*100) recovers the exact integer — making the HAVING
    threshold comparison exact on both engines (sum*1000 > total).
    The total is a one-row broadcast into the filter, not a re-shuffle.
    Reference for shape: public TPC-H spec Q11."""
    ps = _partsupp(spark, sf_dir)
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    s = t(spark, sf_dir, "supplier")
    sn = F.broadcast(s.join(n, s.s_nationkey == n.n_nationkey))
    de = ps.join(sn, ps.ps_suppkey == sn.s_suppkey).withColumn(
        "__val_cents",
        F.round(F.col("ps_supplycost") * 100).cast("long") * F.col("ps_availqty"),
    )
    # grouped feeds both the total and the filter probe — without it
    # the partsupp derivation and its supplier join ran twice
    grouped = local_checkpoint(
        de.groupBy("ps_partkey")
        .agg(F.sum("__val_cents").alias("__part_cents"))
    )
    total = F.broadcast(grouped.agg(F.sum("__part_cents").alias("__total_cents")))
    return (
        grouped.crossJoin(total)
        .filter(F.col("__part_cents") * 1000 > F.col("__total_cents"))
        .select(
            "ps_partkey",
            (F.col("__part_cents").cast("double") / 100.0).alias("total_value"),
        )
        .orderBy(F.desc("total_value"), "ps_partkey")
    )


@query(
    "tpch_q16",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#21'
      AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 14, 19, 23, 28, 33, 36)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 supplier-count by part attributes: negated dim filters, a
    NOT-IN supplier exclusion (the spec's complaints filter adapted to
    s_acctbal < 0 — the fixtures carry no s_comment), then per-group
    COUNT DISTINCT. The exclusion list is a broadcast anti-join (never
    a shuffled NOT IN); part is the broadcast side of the fact join.
    Reference for shape: public TPC-H spec Q16."""
    ps = _partsupp(spark, sf_dir)
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#21")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 28, 33, 36)
        )
    )
    bad = F.broadcast(
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("__bad_supp"))
    )
    return (
        ps.join(p, ps.ps_partkey == p.p_partkey)
        .join(bad, ps.ps_suppkey == F.col("__bad_supp"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q20",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    shipped AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(25,6))) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_partkey IN (SELECT p_partkey FROM red)
        GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM partsupp
    JOIN shipped  ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey AND r_name = 'ASIA'
    WHERE ps_partkey IN (SELECT p_partkey FROM red)
      AND ps_availqty * 2 > qty
    ORDER BY s_name, s_suppkey
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential-part-promotion: suppliers in one region holding
    excess stock (availqty > half the quantity they shipped in 1997)
    of 'red%' parts (region instead of the spec's single nation — the
    fixtures' lineitem assigns suppliers independently of partsupp, so
    a 3-supplier nation has no aligned pairs). The spec's nested
    IN-chain decorrelates to semi-joins + one (part,supp) aggregate;
    the half-of-sum threshold is rearranged to 2*availqty > sum(qty)
    so the comparison is bigint-vs-exact-decimal on both engines. The
    red-part list and the region's suppliers broadcast; only lineitem
    and partsupp shuffle. Reference for shape: public TPC-H spec Q20."""
    ps = _partsupp(spark, sf_dir)
    # The red-part key list feeds two semi-joins (lineitem and
    # partsupp) — each broadcast build re-scanned part without it
    red = F.broadcast(
        local_checkpoint(
            t(spark, sf_dir, "part")
            .filter(F.col("p_name").like("red%"))
            .select("p_partkey")
        )
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(red, F.col("l_partkey") == red.p_partkey, "left_semi")
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("__qty")
    )
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = t(spark, sf_dir, "supplier")
    sn = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).join(
            r, n.n_regionkey == r.r_regionkey
        )
    )
    return (
        ps.join(red, ps.ps_partkey == red.p_partkey, "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("__qty"))
        .join(sn, F.col("ps_suppkey") == sn.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_name", "s_suppkey")
    )
