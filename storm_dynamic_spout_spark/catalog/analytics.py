"""Event-analytics operators: funnel, retention, histogram, paths.

The reference feeds exactly this class of consumer (its Storm topologies
sit in front of event-analytics backends; the engine owns the whole
query). All are classic warehouse shapes expressed so Catalyst keeps
each to the minimum shuffle count (plan-guarded in
``tests/test_plan_guards.py``):

- **funnel**: chained conditional window-mins over ONE
  ``partitionBy(user_id)`` exchange — each stage's "first event at or
  after the previous stage" is a window expression over the same
  partitioning, so the four stages add zero extra shuffles, and the
  closing per-user aggregate reuses the partitioning again.
- **retention**: one events scan — per-user ``min(week)`` +
  ``collect_set(week)`` in a single user_id aggregate, exploded to
  (cohort, offset) cells for a tiny closing aggregate.
- **histogram**: fixed-width buckets from *integer cents* arithmetic so
  Spark and the oracle bucket identically (DOUBLE cents would truncate
  vs round differently at boundaries); pure map-side + one tiny agg.
- **transitions**: per-user lag over one shuffle+sort, then a
  |event types|² aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.catalog.registry import query, t
from storm_dynamic_spout_spark.operators.checkpoint import local_checkpoint

_TS = "CAST(ts AS TIMESTAMP)"  # DuckDB: TIMESTAMP_NS → µs precision

_FUNNEL_STAGES = ["signup", "view", "click", "purchase"]


@query(
    "events_funnel",
    oracle=f"""
    WITH w1 AS (
      SELECT user_id, {_TS} AS ts, event_type,
             min(CASE WHEN event_type = 'signup' THEN {_TS} END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ), w2 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts >= t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM w1
    ), w3 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3 FROM w2
    ), w4 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t3 THEN ts END)
                  OVER (PARTITION BY user_id) AS t4 FROM w3
    )
    SELECT user_id,
           min(t1) AS signup_ts,
           min(t2) AS view_ts,
           min(t3) AS click_ts,
           min(t4) AS purchase_ts,
           CAST(CASE WHEN min(t4) IS NOT NULL THEN 4
                     WHEN min(t3) IS NOT NULL THEN 3
                     WHEN min(t2) IS NOT NULL THEN 2
                     WHEN min(t1) IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stages_completed
    FROM w4
    GROUP BY user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → click → purchase: per user, the
    first event of each stage *at or after* the previous stage's first
    event (a later-stage event before the earlier stage does not count —
    the strict-sequence funnel, not min-per-type). One user_id shuffle
    total: every stage is a conditional min over the same unordered
    ``Window.partitionBy(user_id)``, and the final per-user rollup reuses
    that partitioning."""
    w = Window.partitionBy("user_id")
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    ts, typ = F.col("ts"), F.col("event_type")
    out = e.withColumn(
        "t1", F.min(F.when(typ == _FUNNEL_STAGES[0], ts)).over(w)
    )
    for i, stage in enumerate(_FUNNEL_STAGES[1:], start=2):
        prev = F.col(f"t{i - 1}")
        out = out.withColumn(
            f"t{i}", F.min(F.when((typ == stage) & (ts >= prev), ts)).over(w)
        )
    stages = (
        F.when(F.min("t4").isNotNull(), 4)
        .when(F.min("t3").isNotNull(), 3)
        .when(F.min("t2").isNotNull(), 2)
        .when(F.min("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
    )
    return out.groupBy("user_id").agg(
        F.min("t1").alias("signup_ts"),
        F.min("t2").alias("view_ts"),
        F.min("t3").alias("click_ts"),
        F.min("t4").alias("purchase_ts"),
        stages.alias("stages_completed"),
    )


@query(
    "events_retention",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min({_TS})) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', {_TS}) AS active_week
      FROM events
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week,
           CAST(datediff('day', cohort_week, active_week) // 7 AS BIGINT)
             AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen ISO week,
    counted in each later week they were active. ONE pass over events:
    per-user ``min(week)`` + ``collect_set(week)`` in a single user_id
    aggregate (the set is bounded by timeline weeks, not event count,
    and partial-aggregates map-side), exploded to (cohort, offset)
    cells for a tiny closing aggregate — two exchanges and one scan
    vs the naive first-seen ⋈ activity plan's four and two."""
    e = t(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts")
    per_user = e.groupBy("user_id").agg(
        F.min(wk).alias("cohort_week"),
        F.collect_set(wk).alias("weeks"),
    )
    return (
        per_user.select("cohort_week", F.explode("weeks").alias("active_week"))
        .groupBy(
            F.to_date("cohort_week").alias("cohort_week"),
            F.expr("CAST(datediff(active_week, cohort_week) div 7 AS BIGINT)").alias(
                "week_offset"
            ),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(CAST(round(l_extendedprice * 100) AS BIGINT) // 500000
                AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_items,
           min(l_extendedprice) AS lo_price,
           max(l_extendedprice) AS hi_price
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width price histogram ($5,000 buckets). Bucketing runs in
    integer cents — ``round(price*100)`` then integer-divide — because
    DOUBLE division at bucket boundaries truncates in Spark's cast but
    rounds in DuckDB's; cents arithmetic is exact in both. Map-side
    partial agg collapses 100 TB to ~20 rows before the shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.expr("CAST(CAST(round(l_extendedprice * 100) AS BIGINT) div 500000 AS BIGINT)")
        .alias("bucket")
    ).agg(
        F.count("*").alias("n_items"),
        F.min("l_extendedprice").alias("lo_price"),
        F.max("l_extendedprice").alias("hi_price"),
    )


#: Session gap threshold. Fixture inter-event gaps: median ~7.4 h,
#: p90 ~25 h — 24 h splits real pauses without atomizing the timeline.
SESSION_GAP_US = 86_400 * 1_000_000


@query(
    "events_sessionize",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, value, {_TS} AS ts,
             lag({_TS}) OVER (PARTITION BY user_id
                              ORDER BY {_TS}, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS is_new
      FROM seq
    ), sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_index
      FROM flagged
    )
    SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
             AS duration_sec,
           round(sum(value), 6) AS total_value
    FROM sess GROUP BY user_id, session_index
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (24 h inactivity closes a session): the
    lag/flag/running-sum idiom — one user_id shuffle + local sort covers
    the lag AND the running session counter, then a per-session rollup.
    Gap comparison runs in *microseconds* on both engines (Spark's
    timestamp→long cast truncates sub-second parts; DuckDB's epoch()
    keeps them — µs integers are exact in both)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Parquet ts is timestamp[us] without tz → Spark 4 reads TIMESTAMP_NTZ,
    # and unix_micros requires TIMESTAMP; the cast is deterministic because
    # the session TZ is pinned to UTC (engine.py session builder).
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    is_new = F.when(
        prev_us.isNull() | (us - prev_us > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = e.select("user_id", "event_id", "value", "ts").withColumn(
        "session_index",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_index").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        ((F.unix_micros(F.max("ts").cast("timestamp"))
          - F.unix_micros(F.min("ts").cast("timestamp")))
         / F.lit(1_000_000)).cast("long").alias("duration_sec"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@query(
    "events_gap_fill",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST({_TS} AS DATE) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT min(day) AS lo, max(day) AS hi FROM daily
    ), days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    ), types AS (
      SELECT DISTINCT event_type FROM daily
    )
    SELECT t.event_type, d.day, CAST(coalesce(n, 0) AS BIGINT) AS n_events
    FROM types t CROSS JOIN days d
    LEFT JOIN daily ON daily.event_type = t.event_type AND daily.day = d.day
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: the dense (event_type × day) grid with explicit
    zero rows for silent days — what alerting and time-series models
    need downstream of sparse event streams. Every grid input derives
    from the *daily aggregate itself* (types and date span); the daily
    table is lazily checkpointed so its three consumers share one
    events scan (Catalyst does not reuse the exchange across the
    differently-shaped branches); the closing left join broadcasts the
    tiny daily counts against the driver-free grid."""
    e = t(spark, sf_dir, "events")
    # daily feeds span, types and the closing join — the executed plan
    # re-scanned events per consumer (the ReusedExchange the docstring
    # hoped for never fired)
    daily = local_checkpoint(
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    span = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = span.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    types = daily.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(days))
    return grid.join(F.broadcast(daily), ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


@query(
    "events_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY {_TS}, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the event-type transition matrix — for every
    consecutive pair in each user's timeline (event_id tiebreak for
    equal timestamps, so the sequence is deterministic across engines),
    count (prev → next) globally. One user_id shuffle + local sort for
    the lag, then a tiny |types|² aggregate."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


@query(
    "stream_continuous_rollup",
    oracle=f"""
    SELECT event_type,
           date_trunc('hour', {_TS}) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained hourly rollup (streaming/rollup.py),
    driven in two micro-batches over events (even event_ids first, odd
    second) plus one REDELIVERED batch that must be a no-op (the
    batch_id watermark makes maintenance exactly-once on at-least-once
    delivery).  The final table must equal the one-pass GROUP BY over
    the whole history — the merge functions are decomposable and the
    measure is integer cents, so partial sums merge exactly."""
    import tempfile

    from storm_dynamic_spout_spark.streaming.rollup import ContinuousRollup

    e = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    r = ContinuousRollup(
        tempfile.mkdtemp(prefix="sdss-ru-"), ["event_type"], "cents"
    )
    r.process_batch(e.filter(F.col("event_id") % 2 == 0), batch_id=0)
    r.process_batch(e.filter(F.col("event_id") % 2 == 1), batch_id=1)
    r.process_batch(e.filter(F.col("event_id") % 2 == 1), batch_id=1)  # no-op
    return (
        r.table(spark)
        .select(
            "event_type",
            "bucket_start",
            F.col("n").alias("n_events"),
            F.col("sum_m").alias("sum_cents"),
            F.col("min_m").alias("min_cents"),
            F.col("max_m").alias("max_cents"),
        )
        .orderBy("event_type", "bucket_start")
    )


@query(
    "events_anomaly",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round((e.value - s.mu) / s.sd, 6) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE abs(e.value - s.mu) > 3 * s.sd
    ORDER BY e.event_id
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 3-sigma outlier flags: per-event_type mean/stddev (a
    ~|event types|-row aggregate) broadcast back over the scan, flag
    |value − μ| > 3σ.  Two scans of events but only one shuffle — the
    stats side reduces map-side to a handful of rows.  Cross-engine
    float note: partition-order summation makes μ/σ differ from the
    oracle's at ~1e-12 relative; the fixture's nearest |z| to the cut
    is 2e-4 away (checked at sf0.001/0.01/0.1), so the flag set is
    deterministic, and z is rounded to 1e-6 in-query for the value
    hash."""
    e = t(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("__mu"), F.stddev_samp("value").alias("__sd")
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("__mu")) > 3 * F.col("__sd"))
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("__mu")) / F.col("__sd"), 6).alias("z"),
        )
        .orderBy("event_id")
    )


PATH_LEN = 5
TOP_PATHS = 10


@query(
    "events_top_paths",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY {_TS}, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {PATH_LEN} GROUP BY user_id
    ),
    counted AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_users,
             row_number() OVER (ORDER BY count(*) DESC, path) AS prank
      FROM paths GROUP BY path
    )
    SELECT path, n_users, CAST(prank AS BIGINT) AS prank
    FROM counted WHERE prank <= {TOP_PATHS}
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path analysis: each user's first 5 events (by time,
    event_id tie-break) joined into a path string, then the 10 most
    common paths — the onboarding-funnel discovery query.

    Why at 100 TB: the per-user window is partitioned by user_id (no
    global sort); WindowGroupLimit prunes past rank 5 before the
    string_agg; path cardinality after aggregation is tiny (bounded by
    |event_types|^5 but Zipf-concentrated in practice), so the final
    top-k is a TakeOrdered over an already-small set."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    ranked = e.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("rn") <= PATH_LEN)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    ranked_paths = counted.withColumn(
        "prank",
        F.row_number().over(Window.orderBy(F.desc("n_users"), "path")).cast("long"),
    )
    return ranked_paths.filter(F.col("prank") <= TOP_PATHS).select(
        "path", "n_users", "prank"
    )


@query(
    "events_attribution",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, event_type, {_TS} AS ts,
             max(CASE WHEN event_type = 'click' THEN {_TS} END)
               OVER (PARTITION BY user_id ORDER BY {_TS}, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click_ts
      FROM events
    )
    SELECT event_id, user_id, last_click_ts,
           CAST(date_diff('second', last_click_ts, ts) AS BIGINT) AS gap_seconds
    FROM seq WHERE event_type = 'purchase'
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase is attributed
    to the user's most recent preceding click (running conditional max
    over a user-partitioned window) with the click→purchase gap — the
    marketing-attribution shape.

    Why at 100 TB: one shuffle on user_id, one ordered window pass; no
    self-join of purchases against clicks (the naive formulation is a
    range join that explodes on active users)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        e.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "last_click_ts",
            (
                F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
            ).cast("long").alias("gap_seconds"),
        )
    )


@query(
    "events_interpolate",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST({_TS} AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ), span AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day,
             lo FROM span
    ),
    observed AS (
      -- deterministic thinning: keep every 3rd day as the "sensor sample"
      SELECT d.event_type, d.day, d.n
      FROM daily d JOIN span s ON true
      WHERE date_diff('day', s.lo, d.day) % 3 = 0
    ),
    grid AS (
      SELECT t.event_type, d.day, d.lo, o.n
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN days d
      LEFT JOIN observed o ON o.event_type = t.event_type AND o.day = d.day
    ),
    walls AS (
      SELECT event_type, day, n,
             last_value(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS prev_day,
             last_value(n IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS prev_n,
             first_value(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day,
             first_value(n IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_n
      FROM grid
    )
    SELECT event_type, day,
           round(CASE
             WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
             WHEN prev_n IS NOT NULL AND next_n IS NOT NULL THEN
               prev_n + (next_n - prev_n)
                 * CAST(date_diff('day', prev_day, day) AS DOUBLE)
                 / CAST(date_diff('day', prev_day, next_day) AS DOUBLE)
             ELSE CAST(coalesce(prev_n, next_n) AS DOUBLE)
           END, 6) AS n_interp,
           (n IS NOT NULL) AS observed
    FROM walls
    """,
)
def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation: thin the daily per-type counts
    to every 3rd day (the deterministic "sensor sample"), then rebuild
    the dense series — observed days pass through, interior gaps
    interpolate linearly between the bracketing observations, edges
    extend the nearest observation.  The standard telemetry/feature
    backfill shape.

    Why at 100 TB: two ignore-null window passes over the per-type
    series (forward for the previous wall, backward for the next) —
    one shuffle on the series key, no self-join of every gap against
    every observation (the naive as-of formulation)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    # daily feeds four consumers (span, observed, types, the grid
    # reattach) — each re-ran the events scan + the daily aggregate
    # without it (4 events scans)
    daily = local_checkpoint(
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = span.select(F.explode(F.sequence("lo", "hi")).alias("day"), "lo")
    observed = (
        daily.crossJoin(F.broadcast(span.select("lo")))
        .filter(F.datediff("day", "lo") % 3 == 0)
        .select("event_type", "day", "n")
    )
    types = daily.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(days)).join(
        F.broadcast(observed), ["event_type", "day"], "left"
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    day_if_obs = F.when(F.col("n").isNotNull(), F.col("day"))
    walls = (
        grid.withColumn("prev_day", F.last(day_if_obs, ignorenulls=True).over(fwd))
        .withColumn("prev_n", F.last("n", ignorenulls=True).over(fwd))
        .withColumn("next_day", F.first(day_if_obs, ignorenulls=True).over(bwd))
        .withColumn("next_n", F.first("n", ignorenulls=True).over(bwd))
    )
    interp = (
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(
            F.col("prev_n").isNotNull() & F.col("next_n").isNotNull(),
            F.col("prev_n")
            + (F.col("next_n") - F.col("prev_n"))
            * F.datediff("day", "prev_day").cast("double")
            / F.datediff("next_day", "prev_day").cast("double"),
        )
        .otherwise(F.coalesce("prev_n", "next_n").cast("double"))
    )
    return walls.select(
        "event_type",
        "day",
        F.round(interp, 6).alias("n_interp"),
        F.col("n").isNotNull().alias("observed"),
    )


@query(
    "events_dau_wau_mau",
    oracle=f"""
    WITH e AS (SELECT user_id, CAST({_TS} AS DATE) AS day FROM events)
    SELECT 'dau' AS granularity, CAST(day AS VARCHAR) AS bucket,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM e GROUP BY day
    UNION ALL
    SELECT 'wau', CAST(date_trunc('week', day) AS VARCHAR),
           CAST(count(DISTINCT user_id) AS BIGINT)
    FROM e GROUP BY date_trunc('week', day)
    UNION ALL
    SELECT 'mau', CAST(date_trunc('month', day) AS VARCHAR),
           CAST(count(DISTINCT user_id) AS BIGINT)
    FROM e GROUP BY date_trunc('month', day)
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU: distinct active users per day, ISO week, and
    month in one result — THE product-health metric family.

    Why at 100 TB: ONE events scan builds the distinct (user, day)
    table (checkpointed — the grouping keys nest, day ⊂ week ⊂ month,
    so that table is a shared sufficient statistic), and the three
    levels are distinct-aggregations over it instead of three raw
    scans; with the HLL sketch rollup (agg_hll_sketch_rollup) the
    week/month levels become sketch merges of the daily level —
    this exact query is why that rollup exists."""
    e = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    # The distinct (user, day) table is the shared sufficient
    # statistic for all three granularities — without it each level
    # re-scanned raw events (3 scans); countDistinct per level is
    # unchanged because (user, day) dedup never merges users within
    # any coarser bucket
    ud = local_checkpoint(e.distinct())

    def level(label: str, bucket: F.Column) -> DataFrame:
        return (
            ud.groupBy(bucket.alias("__b"))
            .agg(F.countDistinct("user_id").alias("n_users"))
            .select(
                F.lit(label).alias("granularity"),
                F.col("__b").cast("string").alias("bucket"),
                "n_users",
            )
        )

    return (
        level("dau", F.col("day"))
        .unionByName(level("wau", F.date_trunc("week", "day").cast("date")))
        .unionByName(level("mau", F.date_trunc("month", "day").cast("date")))
    )


@query(
    "events_growth_accounting",
    oracle=f"""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST({_TS} AS DATE) AS day FROM events
    ),
    firsts AS (SELECT user_id, min(day) AS first_day FROM activity GROUP BY user_id)
    SELECT day,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity JOIN firsts USING (user_id)
    GROUP BY day ORDER BY day
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, active users split into NEW (first
    ever activity that day) vs RETURNING — the standard top-of-funnel
    growth report.

    Why at 100 TB: one distinct-activity aggregate, the per-user
    first-day broadcast back over it (the first-day table is |users|
    rows of two narrow columns — and at scale it is an incrementally
    maintained dimension, not recomputed), one final day rollup."""
    e = t(spark, sf_dir, "events")
    activity = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    firsts = activity.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        activity.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).cast("long").alias("n_new"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            ).cast("long").alias("n_returning"),
            F.count(F.lit(1)).alias("n_active"),
        )
        .orderBy("day")
    )


@query(
    "events_heatmap",
    oracle=f"""
    SELECT CAST(isodow({_TS}) AS BIGINT) AS day_of_week,
           CAST(hour({_TS}) AS BIGINT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event and distinct-user counts per (ISO
    day-of-week, hour-of-day) cell — the capacity-planning /
    anomaly-baseline grid every ops dashboard starts with.  One scan,
    one shuffle onto at most 168 cells (map-side combine does nearly
    all the reduction)."""
    e = t(spark, sf_dir, "events")
    # Spark dayofweek: 1=Sunday; ISO wants 1=Monday
    iso_dow = ((F.dayofweek("ts") + 5) % 7) + 1
    return (
        e.groupBy(
            iso_dow.cast("long").alias("day_of_week"),
            F.hour("ts").cast("long").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("day_of_week", "hour_of_day")
    )


RFM_BUCKETS = 4


@query(
    "orders_rfm",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate),
                  (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT quantile_cont(recency_days, 0.25) AS r25,
             quantile_cont(recency_days, 0.50) AS r50,
             quantile_cont(recency_days, 0.75) AS r75,
             quantile_cont(frequency, 0.25) AS f25,
             quantile_cont(frequency, 0.50) AS f50,
             quantile_cont(frequency, 0.75) AS f75,
             quantile_cont(monetary, 0.25) AS m25,
             quantile_cont(monetary, 0.50) AS m50,
             quantile_cont(monetary, 0.75) AS m75
      FROM per_cust
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(1 + CAST(recency_days > r25 AS INT)
                  + CAST(recency_days > r50 AS INT)
                  + CAST(recency_days > r75 AS INT) AS BIGINT) AS r_score,
           CAST(1 + CAST(frequency < f75 AS INT)
                  + CAST(frequency < f50 AS INT)
                  + CAST(frequency < f25 AS INT) AS BIGINT) AS f_score,
           CAST(1 + CAST(monetary < m75 AS INT)
                  + CAST(monetary < m50 AS INT)
                  + CAST(monetary < m25 AS INT) AS BIGINT) AS m_score
    FROM per_cust, cuts
    """,
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer — days since last order
    (recency vs the corpus max date), order count (frequency), total
    spend (monetary) — each scored 1..4 against the corpus quartile
    CUT VALUES (score 1 on every axis = the best customers; equal
    values always get equal scores).

    Why at 100 TB: one orders aggregate to |customers| rows, the
    global max date and the nine quartile cuts each a one-row
    broadcast, scoring is a CASE expression — ZERO global sorts (the
    former ntile form moved the whole customer table through three
    single-partition windows).  Exact ``percentile`` keeps the DuckDB
    quantile_cont oracle bit-identical on the fixture; at extreme
    scale swap in ``approx_percentile`` — same plan shape.  Monetary
    is rounded to cents BEFORE the cuts so both engines score
    identical doubles.  The per-customer aggregate has TWO consumers
    (cuts pass + scoring pass) and is lazily checkpointed once — the
    r15 executed plan showed AQE does NOT reuse the subtree here (the
    broadcast-scalar cross join defeats exchange canonicalization; 4
    orders scans, the max-date scalar computed twice), so per_cust is
    persisted explicitly, the guide-§2 shared-subtree rule."""
    o = t(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate").alias("__mx"))
    # exact aggregate + scalar broadcast, shared by the cuts and
    # scoring consumers
    per_cust = local_checkpoint(
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("__mon"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff("__mx", "__last").cast("long").alias("recency_days"),
            "frequency",
            F.round("__mon", 2).alias("monetary"),
        )
    )
    cuts = per_cust.agg(
        *[
            F.percentile(col, F.lit(p)).alias(f"{al}{int(p * 100)}")
            for col, al in (("recency_days", "r"), ("frequency", "f"), ("monetary", "m"))
            for p in (0.25, 0.50, 0.75)
        ]
    )

    def _score(col: str, cuts_prefix: str, ascending_better: bool) -> F.Column:
        op = (lambda c, q: F.col(c) > F.col(q)) if ascending_better else (
            lambda c, q: F.col(c) < F.col(q)
        )
        qs = (
            [f"{cuts_prefix}25", f"{cuts_prefix}50", f"{cuts_prefix}75"]
            if ascending_better
            else [f"{cuts_prefix}75", f"{cuts_prefix}50", f"{cuts_prefix}25"]
        )
        s = F.lit(1)
        for q in qs:
            s = s + op(col, q).cast("int")
        return s.cast("long")

    return per_cust.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _score("recency_days", "r", True).alias("r_score"),
        _score("frequency", "f", False).alias("f_score"),
        _score("monetary", "m", False).alias("m_score"),
    )


BASKET_TOP = 50


@query(
    "orders_market_basket",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    top AS (
      SELECT part_a, part_b, n_orders FROM pairs
      ORDER BY n_orders DESC, part_a, part_b LIMIT {BASKET_TOP}
    ),
    marg AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part FROM items GROUP BY 1
    )
    SELECT t.part_a, t.part_b, t.n_orders,
           round(t.n_orders * 1.0 / tot.n, 6) AS support,
           round((t.n_orders * 1.0 * tot.n) / (ma.n_part * 1.0 * mb.n_part), 6)
             AS lift
    FROM top t
    CROSS JOIN tot
    JOIN marg ma ON ma.l_partkey = t.part_a
    JOIN marg mb ON mb.l_partkey = t.part_b
    ORDER BY t.n_orders DESC, t.part_a, t.part_b
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-50 part pairs bought
    together in one order, with support and lift — the
    frequent-itemset / recommender seed query.

    Why at 100 TB: ONE exchange keyed on l_orderkey builds the
    per-order sorted part set; pairs expand as an array expression
    with a bounded fan-out (TPC-H orders hold ≤ 7 distinct parts, so
    the quadratic blow-up is ≤ C(7,2) = 21 rows per order — never
    all-pairs across parts, and never a two-sided self-join shuffle);
    partial aggregation shrinks the pair shuffle to |distinct pairs|.
    The part marginals and the order count derive from the same
    per-order aggregate, which is checkpointed so its exchange is
    paid once across the three consumers (pairs, marginals, total) —
    previously each branch re-ran the lineitem scan + orderkey
    aggregate (4 scans in the executed plan); the marginal table is
    checkpointed too (its a/b sides share one evaluation).  The top-k
    is ``orderBy().limit()`` →
    TakeOrderedAndProject, and support/lift marginals join AFTER the
    cut: the 50-row side broadcasts into the |parts|-sized marginal
    table, so no shuffle is keyed on the full pair set twice.  Ties at
    the count threshold break deterministically on (part_a, part_b)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = local_checkpoint(
        li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("l_partkey")).alias("__parts")
        )
    )
    tot = items.select(F.count(F.lit(1)).cast("long").alias("__tot"))
    pair_arr = F.flatten(
        F.transform(
            "__parts",
            lambda x, i: F.transform(
                F.slice("__parts", i + 2, F.size("__parts")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        items.select(F.explode(pair_arr).alias("__p"))
        .select("__p.part_a", "__p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    top = pairs.orderBy(F.desc("n_orders"), "part_a", "part_b").limit(BASKET_TOP)
    marg = local_checkpoint(
        items.select(F.explode("__parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_part"))
    )
    ma = marg.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("__na"))
    mb = marg.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("__nb"))
    enriched = ma.join(F.broadcast(top.crossJoin(tot)), "part_a")
    enriched = mb.join(F.broadcast(enriched), "part_b")
    return enriched.select(
        "part_a",
        "part_b",
        "n_orders",
        F.round(F.col("n_orders") * 1.0 / F.col("__tot"), 6).alias("support"),
        F.round(
            (F.col("n_orders") * 1.0 * F.col("__tot"))
            / (F.col("__na") * 1.0 * F.col("__nb")),
            6,
        ).alias("lift"),
    ).orderBy(F.desc("n_orders"), "part_a", "part_b")


DECAY_LAMBDA = 0.1  # per day


@query(
    "events_decayed_counts",
    oracle=f"""
    WITH ref AS (SELECT max(ts) AS ref_ts FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * exp(-{DECAY_LAMBDA} *
                 (CAST(epoch_us(ref.ref_ts) - epoch_us({_TS}) AS DOUBLE)
                  / 86400000000.0))), 6) AS decayed_value
    FROM events, ref
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user —
    ``sum(value · e^(−λ·age_days))`` anchored at the corpus max
    timestamp, the standard recency-weighted counter behind trending /
    engagement rankers.

    Why at 100 TB: the anchor is a one-row ``max(ts)`` aggregate
    broadcast over the scan; the decay weight is computed map-side in
    whole-stage codegen (integer µs subtraction then one exp()), so
    the only shuffle is the |users|-keyed partial+final sum.  Ages are
    exact integer µs differences divided by a double constant — both
    engines perform the identical IEEE division; only exp() is libm-
    dependent, and the 1e-6 rounding absorbs its ulp (same discipline
    as ``text_tfidf_top_term``'s ln())."""
    e = t(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("__ref"))
    # ts is TIMESTAMP_NTZ: timestampdiff is tz-agnostic (unix_micros
    # would force a session-tz cast)
    age_days = (
        F.expr("timestampdiff(MICROSECOND, ts, __ref)").cast("double") / 86400000000.0
    )
    return (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value") * F.exp(F.lit(-DECAY_LAMBDA) * age_days)), 6
            ).alias("decayed_value"),
        )
        .orderBy("user_id")
    )


PR_ITERATIONS = 3
PR_DAMPING = 0.85


def _pagerank_oracle() -> str:
    """Unrolled power-method CTE chain — same float choices as the
    operator: edge weights are whole-number DOUBLEs (exact sums), the
    teleport constant is the EXPRESSION (1 - 0.85) so both engines
    compute the identical IEEE value, ranks round to 1e-6 only at the
    end."""
    step = """
    r{i} AS (
      SELECT nd.node,
             (1 - {d})/nn.n + {d} * coalesce(s.s, 0.0) AS rank
      FROM nodes nd CROSS JOIN n nn LEFT JOIN (
        SELECT m.dst AS node, sum(r.rank * m.p) AS s
        FROM norm m JOIN r{prev} r ON r.node = m.src
        GROUP BY m.dst
      ) s ON s.node = nd.node
    )"""
    chain = ",".join(
        step.format(i=i, prev=i - 1, d=PR_DAMPING)
        for i in range(1, PR_ITERATIONS + 1)
    )
    return f"""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY {_TS}, event_id) AS prev_type
      FROM events
    ),
    edges AS (
      SELECT prev_type AS src, event_type AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS o FROM edges GROUP BY src),
    norm AS (
      SELECT e.src, e.dst, e.w / o.o AS p FROM edges e JOIN outw o USING (src)
    ),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, n nn),
    {chain}
    SELECT node, round(rank, 6) AS pr FROM r{PR_ITERATIONS} ORDER BY node
    """


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (edges = the
    ``events_transitions`` matrix, weights = transition counts): which
    states attract probability mass after 3 power-method steps — the
    link-graph centrality prior a crawl-corpus curation pipeline
    attaches to domains.

    Why at 100 TB: the edge build is one user-keyed window + a
    |types|²-row aggregate; each power step in ``operators/graph.py
    pagerank`` is a src-keyed join of the |V|-row rank vector against
    the edge table plus a dst-keyed partial+final sum — linear in |E|
    per step, never materializing anything driver-side (N itself is a
    broadcast one-row aggregate).  Dangling-mass simplification
    documented on the operator; the fixture graph is strongly
    connected (every event type follows every other)."""
    from storm_dynamic_spout_spark.operators.graph import pagerank

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    ranks = pagerank(
        edges, weight="w", iterations=PR_ITERATIONS, damping=PR_DAMPING
    )
    return ranks.select("node", F.round("rank", 6).alias("pr")).orderBy("node")


WINSOR_LO, WINSOR_HI = 0.05, 0.95


@query(
    "events_winsorize",
    oracle=f"""
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, {WINSOR_LO}) AS lo,
             quantile_cont(value, {WINSOR_HI}) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(min(c.lo), 6) AS p05,
           round(min(c.hi), 6) AS p95,
           CAST(sum(CASE WHEN e.value < c.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN e.value > c.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           round(avg(e.value), 6) AS mean_raw,
           round(avg(CASE WHEN e.value < c.lo THEN c.lo
                          WHEN e.value > c.hi THEN c.hi
                          ELSE e.value END), 6) AS mean_winsorized
    FROM events e JOIN cuts c USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — clip values to the group's [p05, p95]
    band and report the clip counts plus the mean before/after: the
    outlier-robust preprocessing step for reward/quality signals
    before they feed a sampler (a single 1e9 outlier otherwise owns
    the mixture weights).

    Why at 100 TB: the cuts are a |types|-row exact-percentile
    aggregate broadcast back over the scan (same shape as
    ``orders_rfm``'s quartile cuts — swap ``approx_percentile`` in at
    extreme scale, identical plan); clipping is a codegen CASE, and
    the closing rollup partial-aggregates map-side.  Exact
    ``F.percentile`` interpolation matches DuckDB ``quantile_cont``
    bit-for-bit on the fixture; means round to 1e-6 to absorb
    summation-order ulp."""
    e = t(spark, sf_dir, "events")
    cuts = e.groupBy("event_type").agg(
        F.percentile("value", WINSOR_LO).alias("__lo"),
        F.percentile("value", WINSOR_HI).alias("__hi"),
    )
    v, lo, hi = F.col("value"), F.col("__lo"), F.col("__hi")
    clipped = F.when(v < lo, lo).when(v > hi, hi).otherwise(v)
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("__lo"), 6).alias("p05"),
            F.round(F.min("__hi"), 6).alias("p95"),
            F.sum((v < lo).cast("long")).alias("n_clipped_lo"),
            F.sum((v > hi).cast("long")).alias("n_clipped_hi"),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg(clipped), 6).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


@query(
    "events_cumulative_users",
    oracle=f"""
    WITH first_day AS (
      SELECT user_id, CAST(min({_TS}) AS DATE) AS d
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n_new FROM first_day GROUP BY d
    )
    SELECT d AS day, n_new AS n_new_users,
           CAST(sum(n_new) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_cumulative_users
    FROM daily ORDER BY day
    """,
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique users by day — the growth curve: each user
    counted once on their FIRST active day, then a running total over
    the daily new-user series.

    Why at 100 TB: the user dedup is a |users|-keyed min aggregate and
    the running sum executes over the POST-AGGREGATION daily table —
    bounded by calendar days (30 fixture rows, ~thousands in
    production), never by event or user count.  That bounded global
    window is the same audited class as ``corpus_token_budget``'s
    bucket-offset prefix sum (whitelisted in
    tests/test_plan_inventory.py); the naive alternative — a global
    ``count(DISTINCT user) OVER (ORDER BY day)`` across raw events —
    is the scale-killer this plan avoids."""
    e = t(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("day"))
    daily = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("n_new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.withColumn(
            "n_cumulative_users", F.sum("n_new_users").over(w).cast("long")
        )
        .select("day", "n_new_users", "n_cumulative_users")
        .orderBy("day")
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(min(d.med) * 1000000) AS BIGINT) AS med_micro,
           CAST(round(min(a.mad) * 1000000) AS BIGINT) AS mad_micro,
           CAST(sum(CASE WHEN round(d.dev * 1000000) >
                              round(3 * a.mad * 1000000)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(max(round(d.dev * 1000000)) AS BIGINT) AS max_dev_micro
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier report via median absolute deviation:
    a row is an outlier when |value − median| > 3·MAD — the
    breakdown-resistant alternative to z-scores (one 1e9 spike shifts
    a mean+stddev gate to uselessness but leaves median/MAD intact).

    Why at 100 TB: two |types|-row exact-percentile aggregates (median
    pass, then MAD over deviations), each broadcast back over the scan
    — the ``events_winsorize`` cut-broadcast shape twice, because MAD
    is inherently two-pass; swap ``approx_percentile`` at extreme
    scale, identical plan.  The outlier predicate compares
    integer micro-units (round(dev·1e6) vs round(3·MAD·1e6)) so no
    float near-tie can flip a count across engines."""
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("__med")
    )
    # dev feeds the MAD aggregate AND the final outlier pass — without
    # it both consumers re-ran the events scan and the median
    # aggregate (4 events scans for a two-pass MAD)
    dev = local_checkpoint(
        e.join(F.broadcast(med), "event_type")
        .withColumn("__dev", F.abs(F.col("value") - F.col("__med")))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("__dev", 0.5).alias("__mad")
    )
    dev_i = F.round(F.col("__dev") * 1000000)
    cut_i = F.round(F.lit(3) * F.col("__mad") * 1000000)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("__med") * 1000000).cast("long").alias("med_micro"),
            F.round(F.min("__mad") * 1000000).cast("long").alias("mad_micro"),
            F.sum((dev_i > cut_i).cast("long")).alias("n_outliers"),
            F.max(dev_i).cast("long").alias("max_dev_micro"),
        )
        .orderBy("event_type")
    )


def pareto_cum_revenue(lineitem: DataFrame) -> DataFrame:
    """Per-part revenue cents with the banded distributed prefix sum
    attached — the shared core of ``parts_abc_pareto`` and the
    ``abc_pareto`` scale smoke: (l_partkey, cents, __run, __off,
    __tot) where global cumulative = __off + __run under the
    (cents DESC, l_partkey) total order.  Log-scale revenue bands are
    a monotone pure function of the sort key, so band order == global
    order; within-band running sums are parallel windows; the ~40-row
    band-total prefix sum broadcasts back as each band's offset."""
    from pyspark.sql.window import Window

    pr = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
        .withColumn("__b", F.floor(F.log10(F.col("cents") + 1) * 4).cast("int"))
    )
    within = F.sum("cents").over(
        Window.partitionBy("__b")
        .orderBy(F.desc("cents"), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        pr.groupBy("__b")
        .agg(F.sum("cents").alias("__bt"))
        .select(
            "__b",
            (
                F.sum("__bt").over(
                    Window.orderBy(F.desc("__b")).rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("__bt")
            ).alias("__off"),
        )
    )
    total = pr.agg(F.sum("cents").alias("__tot"))
    return (
        pr.withColumn("__run", within)
        .join(F.broadcast(offsets), "__b")
        .crossJoin(F.broadcast(total))
    )


#: Triangle-graph radius: wider than the spatial join's so the
#: proximity graph is dense enough to close wedges (157 triangles at
#: sf0.01 vs ~0 at the join's radius).
_TRI_RADIUS = 1_500


def _triangle_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    edges AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.a = e1.b
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    """


@query("graph_triangle_count", oracle=_triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting with DEGREE-ORDERED edge
    orientation (the compact-forward / arboricity algorithm; Chiba &
    Nishizeki '85, Latapy '08) over the spatial proximity graph.

    Every edge is oriented from its lower-(degree, id) endpoint to the
    higher one, so every triangle has exactly one apex with two
    out-edges and is counted exactly once by the wedge-close — no 6×
    overcount, no post-dedup.  Why this orientation at 100 TB: wedge
    fan-out per apex is its OUT-degree, which degree-ordering bounds by
    O(sqrt(m)) on any graph (arboricity bound) — a celebrity node with
    10^7 neighbors contributes ZERO wedges as apex because all its
    edges point inward, where the naive id-order would explode its
    wedge bucket quadratically.  tests/test_graph_orientation.py pins
    both the count equality vs id-orientation and the wedge-volume
    reduction on a skewed graph.

    Plan: degree aggregate (node-sized) → two equi-joins to attach
    endpoint degrees → oriented wedge self-join on the apex → closing
    equi-join on the (v, w) edge key.  The ORACLE builds its edge set
    by brute-force all-pairs; the Spark side goes through the
    grid-blocked spatial join, so the oracle independently checks both
    the graph derivation and the count."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.graph import (
        degree_oriented_triangles,
    )
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    # referenced by both the triangle close and the n_edges branch:
    # materialize the spatial join once (the common_neighbors/kcore
    # checkpoint rationale) instead of deriving it per alias
    edges = local_checkpoint(
        grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS).select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
    )
    tri = degree_oriented_triangles(edges).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tri)


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS ym,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    first AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey),
    cohorts AS (
      SELECT cohort_ym, CAST(count(*) AS BIGINT) AS cohort_size
      FROM first GROUP BY cohort_ym
    ),
    per AS (
      SELECT f.cohort_ym, o.ym - f.cohort_ym AS month_offset,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS active_customers,
             CAST(sum(o.cents) AS BIGINT) AS revenue_cents
      FROM o JOIN first f USING (o_custkey)
      GROUP BY f.cohort_ym, month_offset
    )
    SELECT CAST(p.cohort_ym AS BIGINT) AS cohort_ym,
           CAST(p.month_offset AS BIGINT) AS month_offset,
           c.cohort_size, p.active_customers, p.revenue_cents,
           CAST(sum(p.revenue_cents) OVER (
             PARTITION BY p.cohort_ym ORDER BY p.month_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_revenue_cents
    FROM per p JOIN cohorts c USING (cohort_ym)
    ORDER BY cohort_ym, month_offset
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, revenue tracked per months-since-acquisition with the
    running cumulative — the standard retention/LTV matrix every
    growth team reads.

    Why at 100 TB: the per-customer first-order aggregate and the fact
    join share the o_custkey key (one shuffle each); the cumulative
    window partitions by cohort month over an offsets-sized table
    (months², tiny post-agg), and the cohort-size join is a broadcast.
    Month arithmetic is pure integers (year·12+month), so no
    engine-specific month-diff semantics are in play."""
    from pyspark.sql.window import Window

    # o feeds the first-order aggregate AND the fact probe; first
    # feeds the cohort sizes AND the probe join — without them orders
    # was scanned three times
    o = local_checkpoint(
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    first = local_checkpoint(
        o.groupBy("o_custkey")
        .agg(F.min("ym").alias("cohort_ym"))
    )
    cohorts = first.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    per = (
        o.join(first, "o_custkey")
        .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("month_offset"))
        .agg(
            F.count_distinct("o_custkey").alias("active_customers"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_ym")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per.join(F.broadcast(cohorts), "cohort_ym")
        .select(
            F.col("cohort_ym").cast("long"),
            F.col("month_offset").cast("long"),
            "cohort_size",
            "active_customers",
            "revenue_cents",
            F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
        )
        .orderBy("cohort_ym", "month_offset")
    )


@query(
    "events_changepoint",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS iv,
             row_number() OVER w AS k,
             sum(CAST(round(value * 100) AS BIGINT)) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) OVER
               (PARTITION BY event_type) AS s_n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    d AS (
      SELECT event_type, n, k,
             abs(s_k * n - k * CAST(s_n AS BIGINT)) AS dk
      FROM seq
    )
    SELECT event_type, n AS n_events,
           CAST(k AS BIGINT) AS change_k,
           CAST(dk AS BIGINT) AS max_d
    FROM d
    QUALIFY row_number() OVER (
      PARTITION BY event_type ORDER BY dk DESC, k ASC) = 1
    ORDER BY event_type
    """,
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection per series (offline CUSUM): the
    split index k maximizing |S_k·n − k·S_n| — the integer-scaled form
    of "where does the prefix mean depart most from the global mean",
    which is the classic mean-shift changepoint statistic.

    Why at 100 TB: one exchange per series (every window partitions by
    event_type; the argmax is a WindowGroupLimit rank-1, so only one
    row per series survives the final sort).  The statistic stays in
    BIGINT (centi-units · counts) so there is no float near-tie at the
    argmax; ties break to the earliest k deterministically.  At
    extreme per-series lengths the same statistic computes from a
    bucketed prefix-sum (the corpus_token_budget shape) instead of a
    row window."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wp = Window.partitionBy("event_type")
    seq = e.select(
        "event_type",
        F.row_number().over(w).alias("k"),
        F.sum("iv")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s_k"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("iv").over(wp).alias("s_n"),
    )
    d = seq.withColumn(
        "dk", F.abs(F.col("s_k") * F.col("n") - F.col("k") * F.col("s_n"))
    )
    pick = Window.partitionBy("event_type").orderBy(F.desc("dk"), F.asc("k"))
    return (
        d.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.col("k").cast("long").alias("change_k"),
            F.col("dk").cast("long").alias("max_d"),
        )
        .orderBy("event_type")
    )


@query(
    "parts_abc_pareto",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM pr),
    c AS (
      SELECT cents,
             CAST(sum(cents) OVER (
               ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM pr
    )
    SELECT CASE WHEN 5 * cum <= 4 * t.tot THEN 'A'
                WHEN 20 * cum <= 19 * t.tot THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM c, tot t
    GROUP BY 1 ORDER BY 1
    """,
)
def parts_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A = the head covering 80% of cumulative revenue, B to 95%,
    C the tail — the 80/20 curve over a revenue-ranked dimension.

    The oracle states the GLOBAL running sum (one ORDER BY over every
    part); the Spark side decomposes it into the distributed prefix
    sum that survives 100 TB (the ``corpus_token_budget`` shape):
    log-scale revenue bands are a monotone pure function of the sort
    key, so band order == global order; within-band running sums are
    parallel windows; the ~40-row band-total prefix sum broadcasts
    back as each band's offset.  Class cuts are integer comparisons
    (5·cum ≤ 4·total, 20·cum ≤ 19·total) — no float share
    thresholds."""
    cum = F.col("__off") + F.col("__run")
    cls = (
        F.when(5 * cum <= 4 * F.col("__tot"), "A")
        .when(20 * cum <= 19 * F.col("__tot"), "B")
        .otherwise("C")
    )
    return (
        pareto_cum_revenue(t(spark, sf_dir, "lineitem"))
        .withColumn("abc_class", cls)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("abc_class")
    )


@query(
    "events_rolling_7d",
    oracle="""
    SELECT event_id,
           event_type,
           CAST(count(*) OVER w AS BIGINT) AS n_7d,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS cents_7d
    FROM events
    WINDOW w AS (
      PARTITION BY event_type
      ORDER BY epoch_us(ts)
      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling metrics per series — a TIME-interval
    RANGE frame (every row within 604 800 s before the current row's
    timestamp), the moving-aggregate shape behind rate limits, rolling
    DAU, and trailing-spend features.  RANGE (not ROWS) semantics make
    same-timestamp ties deterministic: all peers enter the frame
    together, so intra-tie order can't change any value.

    Why at 100 TB: one exchange per series (window partitioned by
    event_type, ordered by exact epoch microseconds — a numeric range frame Spark
    evaluates with a sliding two-pointer over the sorted partition,
    O(n) per partition, no per-row rescan); the value stays in integer
    cents."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-604_800_000_000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.sum(cents).over(w).alias("cents_7d"),
    )


#: Top-k non-adjacent pairs reported by the link predictor.
_CN_TOP = 20


def _common_neighbors_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    edges AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    ),
    sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    cn AS (
      SELECT s1.u AS a, s2.u AS c, CAST(count(*) AS BIGINT) AS common_neighbors
      FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.a = s1.u AND e.b = s2.u
      )
      GROUP BY s1.u, s2.u
    )
    SELECT a AS id_a, c AS id_b, common_neighbors FROM (
      SELECT cn.*, row_number() OVER (
        ORDER BY common_neighbors DESC, a, c
      ) AS rn FROM cn
    ) WHERE rn <= {_CN_TOP}
    ORDER BY common_neighbors DESC, id_a, id_b
    """


@query("graph_common_neighbors", oracle=_common_neighbors_oracle())
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over the spatial proximity
    graph: for every NON-adjacent node pair, count shared neighbors
    (the classic link-prediction score, Liben-Nowell & Kleinberg
    2003) and report the top-20 candidate links.  Tie-break is fully
    deterministic (count desc, then the pair ids), and each pair is
    produced once via the u < v wedge orientation.

    Why at 100 TB: the wedge join is a plain equi-join on the shared
    middle node (same shape as the triangle close), the
    already-an-edge rejection is a broadcast-able LEFT ANTI join on
    the canonical (a<b) edge key, and the top-k is orderBy().limit()
    → TakeOrderedAndProject, never a global sort.  The web-scale
    refinement — orient wedges from the low-degree endpoint to bound
    fan-out by arboricity — changes the orientation rule, not the
    plan shape.  The ORACLE rebuilds the graph by brute-force
    all-pairs, so the grid-blocked spatial derivation is checked
    independently too."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    # the spatial self-join is referenced five times downstream (both
    # wedge sides embed sym = 2x edges each, plus the anti-join);
    # checkpoint it once or Catalyst re-derives the whole grid join
    # per reference (the kcore/minhash materialize rationale)
    edges = local_checkpoint(
        grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS).select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    wedges = s1.join(
        s2,
        (F.col("s1.v") == F.col("s2.v")) & (F.col("s1.u") < F.col("s2.u")),
    ).select(F.col("s1.u").alias("id_a"), F.col("s2.u").alias("id_b"))
    cn = (
        wedges.join(
            edges,
            (F.col("id_a") == F.col("a")) & (F.col("id_b") == F.col("b")),
            "left_anti",
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return (
        cn.orderBy(F.desc("common_neighbors"), "id_a", "id_b")
        .limit(_CN_TOP)
        .select("id_a", "id_b", "common_neighbors")
    )


def _adamic_adar_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    edges AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    ),
    sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    deg AS (SELECT u AS z, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
    wedge AS (
      SELECT s1.u AS a, s2.u AS c, s1.v AS z
      FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.a = s1.u AND e.b = s2.u
      )
    ),
    aa AS (
      SELECT a, c, CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(CAST(round(1000000.0 / ln(d)) AS BIGINT)) AS BIGINT)
               AS aa_score_1e6
      FROM wedge JOIN deg USING (z)
      GROUP BY a, c
    )
    SELECT a AS id_a, c AS id_b, common_neighbors, aa_score_1e6 FROM (
      SELECT aa.*, row_number() OVER (
        ORDER BY aa_score_1e6 DESC, a, c
      ) AS rn FROM aa
    ) WHERE rn <= {_CN_TOP}
    ORDER BY aa_score_1e6 DESC, id_a, id_b
    """


@query("graph_adamic_adar", oracle=_adamic_adar_oracle())
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the spatial proximity graph:
    each shared neighbor z of a non-adjacent pair contributes
    1/ln(deg(z)) — rare mutual friends count more than hubs (Adamic &
    Adar 2003).  Same wedge plan as graph_common_neighbors with the
    middle node KEPT through the wedge join so its degree weight can
    attach by one more equi-join.  Engine-stable: each term is rounded
    to integer 1e-6 units FIRST (a middle node always has degree ≥ 2,
    so ln > 0) and the pair score is an exact int64 sum; ranking is on
    (integer score, pair ids).

    Why at 100 TB: two equi-joins (wedge close on the middle, degree
    attach on the middle) + a broadcast-able LEFT ANTI edge rejection +
    TakeOrderedAndProject top-k — no global sort, no float near-ties.
    As in graph_common_neighbors, the web-scale refinement — orient
    wedges from the low-degree endpoint to bound fan-out by arboricity
    — changes the orientation rule, not this plan shape."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    # referenced by both wedge sides, the degree table and the
    # anti-join — checkpoint once (the graph_common_neighbors rationale)
    edges = local_checkpoint(
        grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS).select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    wedges = s1.join(
        s2,
        (F.col("s1.v") == F.col("s2.v")) & (F.col("s1.u") < F.col("s2.u")),
    ).select(
        F.col("s1.u").alias("id_a"),
        F.col("s2.u").alias("id_b"),
        F.col("s1.v").alias("z"),
    )
    aa = (
        wedges.join(
            edges,
            (F.col("id_a") == F.col("a")) & (F.col("id_b") == F.col("b")),
            "left_anti",
        )
        .join(deg, "z")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(F.round(F.lit(1000000.0) / F.log("d")).cast("long"))
            .cast("long")
            .alias("aa_score_1e6"),
        )
    )
    return (
        aa.orderBy(F.desc("aa_score_1e6"), "id_a", "id_b")
        .limit(_CN_TOP)
        .select("id_a", "id_b", "common_neighbors", "aa_score_1e6")
    )


def _spatial_cc_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    return f"""
    WITH RECURSIVE pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    e0 AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    ),
    edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (SELECT a AS id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT p.id, COALESCE(comp.cluster_id, p.id) AS cluster_id
    FROM pts p LEFT JOIN comp USING (id)
    ORDER BY p.id
    """


@query("graph_connected_components", oracle=_spatial_cc_oracle())
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the spatial proximity graph via the
    alternating large-star/small-star contraction (Kiveris et al.,
    MapReduce CC) — ``method="star"``, the O(log n)-round 100 TB path
    of operators/dedup.py connected_components.  This gives the star
    contraction its own DRIVER oracle row (a recursive-CTE transitive
    closure): until now only the label-propagation method was
    oracle-checked (dedup_cluster_assignment); the two methods'
    fixpoint equivalence was property-tested but never
    engine-compared.  Every node is labeled with the minimum reachable
    id; isolated nodes keep their own id.

    Why at 100 TB: each star round is two equi-join + min-aggregate
    passes whose state is one row per EDGE (never paths), and the
    round count is O(log n) regardless of component diameter — the
    right choice when duplicate chains / contact graphs are deep,
    where label propagation needs diameter rounds."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.dedup import connected_components
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    edges = grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS)
    return connected_components(
        edges, pts, "id", method="star"
    ).orderBy("id")


#: k-core parameters: minimum in-core degree and fixed peel rounds.
_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    peel = []
    prev = "sym"
    for i in range(1, _KCORE_ROUNDS + 1):
        peel.append(
            f"s{i} AS (SELECT u FROM {prev} GROUP BY u"
            f" HAVING count(*) >= {_KCORE_K})"
        )
        peel.append(
            f"e{i} AS (SELECT u, v FROM {prev}"
            f" WHERE u IN (SELECT u FROM s{i}) AND v IN (SELECT u FROM s{i}))"
        )
        prev = f"e{i}"
    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    edges AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    ),
    sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    {', '.join(peel)}
    SELECT u AS id, CAST(count(*) AS BIGINT) AS core_degree
    FROM {prev} GROUP BY u ORDER BY id
    """


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k={_KCORE_K}) of the spatial proximity
    graph by iterative peeling: each round drops vertices whose degree
    within the surviving subgraph is below k, and the surviving
    vertices' in-core degrees are reported.  {_KCORE_ROUNDS} fixed
    rounds reach the true fixpoint on this graph (round 3 = round 4 —
    asserted by the oracle, which peels the same fixed rounds in
    chained CTEs over a brute-force edge set, independently checking
    the grid-blocked spatial derivation too).

    Why at 100 TB: each peel round is one degree aggregate plus two
    semi-joins of the edge list against the (shrinking) survivor set —
    all equi-joins on node id, no all-pairs anywhere; survivor sets
    shrink monotonically so later rounds broadcast.  Production runs
    to convergence with a driver-side emptiness check per round and
    checkpoint every few rounds to truncate lineage (the
    connected-components pattern, operators/dedup.py); the
    fixed-round form keeps the query a single deterministic Catalyst
    DAG for the oracle gate."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    edges = grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    for _ in range(_KCORE_ROUNDS):
        # each round references sym three times (degree agg + two
        # semi-join sides); without a checkpoint the spatial-join
        # subtree duplicates ~3^rounds across the unrolled plan (the
        # minhash materialize= rationale, operators/dedup.py:148)
        sym = local_checkpoint(sym)
        surv = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= _KCORE_K)
            .select("u")
        )
        sym = sym.join(F.broadcast(surv), "u").join(
            F.broadcast(surv.withColumnRenamed("u", "v")), "v"
        ).select("u", "v")
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("u").alias("id"), "core_degree")
        .orderBy("id")
    )


#: Streaming heavy-hitter summary size: 127 counters ⇒ exact recall of
#: every user above a 1/128 share of the event stream.
_SHH_K = 127


@query(
    "stream_heavy_hitters",
    oracle=f"""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           (SELECT n FROM tot) AS n_total
    FROM events
    GROUP BY user_id
    HAVING count(*) * {_SHH_K + 1} > (SELECT n FROM tot)
    ORDER BY n_occurrences DESC, user_id
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: the event stream arrives in two
    micro-batches (even event_ids, then odd); each batch contributes
    per-partition Misra-Gries summaries (operators/sketch.py) that
    fold into ONE ≤k-counter state RELATION via the mergeable-MG merge
    (sum counters, subtract the (k+1)-st largest — Agarwal et al.
    2012), so candidate recall survives arbitrary merge trees.  The
    fold is fully relational (r8 verdict item 2): per batch a groupBy
    sums the partition summaries and ``mg_truncate`` cuts the merged
    state back to ≤k rows, so NOTHING partition-scaled ever reaches
    the driver — no ``.collect()``, no driver-held dict.  A final
    exact verify pass counts only candidate-matching rows and filters
    on the true n/(k+1) threshold.  The ORACLE is the brute-force
    GROUP BY HAVING over the whole history, so it checks the
    cross-batch completeness of the merged sketch AND the verify pass.

    Why at 100 TB: per batch, only ≤(k+1)·partitions summary rows
    leave the executors (the raw stream never shuffles), the
    cross-batch state is a ≤k-row relation regardless of history
    length — the same O(k) bound transformWithState would hold per key
    group — and the verify pass semi-joins a broadcast candidate set
    before its aggregate, shuffling ≤k distinct keys."""
    from storm_dynamic_spout_spark.operators.sketch import (
        mg_truncate,
        partition_mg_summaries,
    )

    e = t(spark, sf_dir, "events").select("event_id", "user_id")
    state = None  # ≤k-row (user_id, est) relation after each fold
    batch_totals = []
    for parity in (0, 1):
        batch = e.filter(F.col("event_id") % 2 == parity).select("user_id")
        # two consumers below (counters + totals) — checkpoint so the
        # Arrow sketch pass runs once per batch, not per consumer
        summ = local_checkpoint(partition_mg_summaries(batch, "user_id", _SHH_K))
        batch_totals.append(
            summ.filter(F.col("user_id").isNull()).agg(
                F.coalesce(F.sum("part_rows"), F.lit(0)).alias("n")
            )
        )
        counters = (
            summ.filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(F.sum("est").alias("est"))
        )
        merged = (
            counters
            if state is None
            else state.unionAll(counters)
            .groupBy("user_id")
            .agg(F.sum("est").alias("est"))
        )
        state = mg_truncate(merged, "user_id", _SHH_K)
    n_total = (
        batch_totals[0]
        .unionAll(batch_totals[1])
        .agg(F.sum("n").cast("long").alias("n_total"))
    )
    return (
        e.join(F.broadcast(state.select("user_id")), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("n_occurrences") * (_SHH_K + 1) > F.col("n_total"))
        .select("user_id", "n_occurrences", "n_total")
        .orderBy(F.desc("n_occurrences"), "user_id")
    )


def _assortativity_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    edges AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    ),
    sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
    moments AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(du.d) AS BIGINT) AS sx,
             CAST(sum(du.d * dv.d) AS BIGINT) AS sxy,
             CAST(sum(du.d * du.d) AS BIGINT) AS sxx
      FROM sym JOIN deg du ON du.u = sym.u JOIN deg dv ON dv.u = sym.v
    )
    SELECT n, sx, sxy, sxx,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(round(
                  (CAST(n * sxy - sx * sx AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000000
                ) AS BIGINT) END AS assortativity_1e6
    FROM moments
    """


@query("graph_degree_assortativity", oracle=_assortativity_oracle())
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the spatial proximity
    graph: the Pearson correlation of endpoint degrees over directed
    edge instances.  Computed from EXACT integer moment sums (n, Σd_u,
    Σd_u·d_v, Σd_u² — symmetric, so Sy=Sx and Syy=Sxx); the only
    float step is one division of exact int64s, rounded to 1e-6, so
    the compare is engine-stable without trusting corr()'s
    accumulation order.

    Why at 100 TB: the degree table is a groupBy on node id, the two
    degree lookups are equi-joins (broadcast once degrees aggregate
    below the threshold; sort-merge otherwise), and the moments are
    one partial→final aggregate — no correlation UDAF state, no
    global sort, and the integer moments merge associatively across
    any sharding."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    edges = grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    sym = local_checkpoint(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("__u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("__v"), F.col("d").alias("dv"))
    moments = (
        sym.join(F.broadcast(du), F.col("u") == F.col("__u"))
        .join(F.broadcast(dv), F.col("v") == F.col("__v"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("du").alias("sx"),
            F.sum(F.col("du") * F.col("dv")).alias("sxy"),
            F.sum(F.col("du") * F.col("du")).alias("sxx"),
        )
    )
    # a graph whose endpoint degrees have zero variance (e.g. the tiny
    # sf0.001 fixture: isolated pairs only) has no defined
    # assortativity — NULL on both engines, and the guard keeps ANSI
    # mode's divide-by-zero from aborting the job
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return moments.select(
        "n",
        "sx",
        "sxy",
        "sxx",
        F.when(
            den != 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                / den
                * 1000000
            ).cast("long"),
        ).alias("assortativity_1e6"),
    )


@query(
    "events_daily_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(day_x) AS BIGINT) AS sx,
             CAST(sum(cents) AS BIGINT) AS sy,
             CAST(sum(day_x * cents) AS BIGINT) AS sxy,
             CAST(sum(day_x * day_x) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, sy AS cents_total,
           CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(round(
                  (CAST(n_days * sxy - sx * sy AS DOUBLE)
                   / CAST(n_days * sxx - sx * sx AS DOUBLE)) * 1000000
                ) AS BIGINT) END AS slope_cents_per_day_1e6
    FROM m ORDER BY event_type
    """,
)
def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear trend (ordinary least squares slope of daily
    revenue over the day index) from EXACT integer moment sums — the
    assortativity recipe applied to time series: n, Σx, Σy, Σxy, Σx²
    are exact int64 aggregates, and the only float step is one
    division of exact integers rounded to 1e-6, so the compare never
    depends on regr_slope's accumulation order.  The forecasting
    primitive behind growth dashboards ("is purchase revenue trending
    up, and how fast").

    Why at 100 TB: two chained partial→final aggregates (day rollup,
    then 5 integer moments per group — both map-side combinable,
    both shuffles carry only grouped rows), no window, no sort except
    the final group-count-sized orderBy.  Moments merge associatively
    across shards/days, so the trend updates incrementally from
    per-day increments without rescanning history."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day_x"),
            F.round(F.col("value") * 100).cast("long").alias("__c"),
        )
        .groupBy("event_type", "day_x")
        .agg(F.sum("__c").alias("cents"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("day_x").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("day_x") * F.col("cents")).alias("sxy"),
        F.sum(F.col("day_x") * F.col("day_x")).alias("sxx"),
    )
    # a single-day group has no defined slope — NULL on both engines
    # (and the guard keeps ANSI divide-by-zero from aborting the job)
    den = (
        F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return m.select(
        "event_type",
        "n_days",
        F.col("sy").alias("cents_total"),
        F.when(
            den != 0,
            F.round(
                (
                    F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
                ).cast("double")
                / den
                * 1000000
            ).cast("long"),
        ).alias("slope_cents_per_day_1e6"),
    ).orderBy("event_type")


#: Streaming count-min shape (shared Spark/oracle): 20-bit md5 chunks.
_SCM_DEPTH = 3
_SCM_WIDTH = 256
_SCM_PROBES = 8


@query(
    "stream_countmin",
    oracle=f"""
    WITH hashed AS (
      SELECT t.d AS __d,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                 1 + 5 * t.d, 5)) AS BIGINT) % {_SCM_WIDTH} AS __bucket
      FROM events CROSS JOIN range(0, {_SCM_DEPTH}) AS t(d)
    ),
    sketch AS (
      SELECT __d, __bucket, CAST(count(*) AS BIGINT) AS c
      FROM hashed GROUP BY __d, __bucket
    ),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
    ),
    probes AS (
      SELECT user_id, exact_n FROM exact
      ORDER BY exact_n DESC, user_id LIMIT {_SCM_PROBES}
    ),
    probe_cells AS (
      SELECT p.user_id, p.exact_n, t.d AS __d,
             CAST(('0x' || substr(md5(CAST(p.user_id AS VARCHAR)),
                 1 + 5 * t.d, 5)) AS BIGINT) % {_SCM_WIDTH} AS __bucket
      FROM probes p CROSS JOIN range(0, {_SCM_DEPTH}) AS t(d)
    )
    SELECT pc.user_id, pc.exact_n,
           CAST(min(s.c) AS BIGINT) AS cms_est,
           CAST(min(s.c) - pc.exact_n AS BIGINT) AS overshoot
    FROM probe_cells pc
    JOIN sketch s ON s.__d = pc.__d AND s.__bucket = pc.__bucket
    GROUP BY pc.user_id, pc.exact_n
    ORDER BY pc.exact_n DESC, pc.user_id
    """,
)
def stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min maintenance: the event stream arrives in
    two micro-batches (even / odd event_ids), each batch builds its
    own depth×width cell sketch, and the stored sketch is maintained
    by UNION + re-aggregate — cells ADD, so the merged sketch is
    bit-identical to the one-pass sketch over the full history (the
    mergeable-summary contract, exercised live rather than claimed).
    The ORACLE is the one-pass sketch + brute-force probe in SQL, so
    any drift in the per-batch build or the merge reds the row.

    Why at 100 TB: per batch only ≤ depth·width cells leave the
    executors; merging historical state is a groupBy over 2·depth·
    width rows regardless of history length — the same O(state)
    bound as the streaming heavy-hitter fold but purely relational
    (no driver-held dict), and per-day sketches roll up to
    week/month by the same union."""
    from storm_dynamic_spout_spark.operators.sketch import (
        countmin_bucket,
        countmin_table,
    )

    e = t(spark, sf_dir, "events").select("event_id", "user_id")
    batches = [
        countmin_table(
            e.filter(F.col("event_id") % 2 == p).select("user_id"),
            "user_id",
            _SCM_DEPTH,
            _SCM_WIDTH,
        )
        for p in (0, 1)
    ]
    merged = (
        batches[0].unionAll(batches[1])
        .groupBy("__d", "__bucket")
        .agg(F.sum("c").alias("c"))
    )
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.orderBy(F.desc("exact_n"), "user_id").limit(_SCM_PROBES)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("__d"),
                countmin_bucket(F.col("user_id"), i, _SCM_WIDTH).alias("__bucket"),
            )
            for i in range(_SCM_DEPTH)
        ]
    )
    probe_cells = probes.select(
        "user_id", "exact_n", F.explode(cells).alias("__c")
    ).select("user_id", "exact_n", "__c.__d", "__c.__bucket")
    return (
        merged.join(F.broadcast(probe_cells), ["__d", "__bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overshoot"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


#: Kaplan-Meier observation window: users are followed for this many
#: hours from the stream start; first purchases after it are CENSORED.
_KM_WINDOW_HOURS = 240
_KM_US_PER_HOUR = 3_600_000_000


@query(
    "events_survival_km",
    oracle=f"""
    WITH b AS (
      SELECT min(ts) AS t_min,
             min(ts) + INTERVAL {_KM_WINDOW_HOURS} HOUR AS cutoff
      FROM events
    ),
    f AS (
      SELECT user_id, min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY user_id
    ),
    u AS (
      SELECT f.user_id,
             CASE WHEN f.tp IS NOT NULL AND f.tp <= b.cutoff
                  THEN (epoch_us(f.tp) - epoch_us(f.t0)) // {_KM_US_PER_HOUR}
                  ELSE (epoch_us(b.cutoff) - epoch_us(f.t0))
                       // {_KM_US_PER_HOUR} END AS dur,
             CASE WHEN f.tp IS NOT NULL AND f.tp <= b.cutoff
                  THEN 1 ELSE 0 END AS ev
      FROM f CROSS JOIN b
      WHERE f.t0 <= b.cutoff
    ),
    hist AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n, CAST(sum(ev) AS BIGINT) AS d
      FROM u GROUP BY dur
    ),
    risk AS (
      SELECT dur, d,
             CAST(sum(n) OVER (ORDER BY dur
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_at_risk
      FROM hist
    ),
    ev AS (
      SELECT dur, d, n_at_risk,
             CASE WHEN d < n_at_risk
                  THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                                  * 1000000) AS BIGINT) END AS lnf
      FROM risk WHERE d > 0
    )
    SELECT dur AS t_hours, n_at_risk, d AS d_events,
           CAST(sum(lnf) OVER (ORDER BY dur
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS km_log_1e6
    FROM ev ORDER BY t_hours
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over time-to-first-purchase with
    right-censoring at a fixed observation window: per event-hour t,
    the risk set size, the event count, and the cumulative log survival
    ln S(t) = Σ ln(1 − d_s/n_s) in exact 1e-6 integer units (each ln is
    rounded FIRST, then summed exactly — the text_zipf_fit convention;
    reporting the LOG curve keeps the cross-engine comparison an
    integer sum instead of a float cumulative product).  A d = n_at_risk
    final drop (survival hits zero) yields a NULL ln factor by
    definition and is excluded from later sums rather than producing
    −inf.

    Why at 100 TB: the raw event stream is reduced per user (two
    min-aggregates), then per DURATION (one aggregate) before any
    window runs — the two prefix-sum windows order the duration
    HISTOGRAM, bounded by the observation window in hours (≤ ~240
    rows regardless of corpus size), the same post-aggregation
    tiny-window class as events_cumulative_users / parts_abc_pareto;
    the cutoff and user total ride one-row broadcasts."""
    e = t(spark, sf_dir, "events")
    # one conditional aggregate per user instead of a second filtered
    # scan + join: min(ts) and min(purchase ts) come out of the same
    # partial->final pass over the stream.  f is |users|-sized with two
    # consumers (the stream-start scalar below + the duration pass), so
    # the corpus is scanned ONCE (the r15 plan showed a second ts-only
    # events scan just for min(ts))
    f = local_checkpoint(
        e.groupBy("user_id").agg(
            F.min("ts").alias("t0"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
        )
    )
    # global stream start == min over the per-user minima — derived
    # from f, not from a separate corpus scan
    b = f.agg(F.min("t0").alias("t_min")).select(
        "t_min",
        (F.col("t_min") + F.expr(f"INTERVAL {_KM_WINDOW_HOURS} HOURS")).alias(
            "cutoff"
        ),
    )
    observed = F.col("tp").isNotNull() & (F.col("tp") <= F.col("cutoff"))
    def hours(a, b_):
        # fixture timestamps are NTZ; unix_micros needs TIMESTAMP — the
        # UTC-session cast cancels out in the difference
        us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
        return (us(a) - us(b_)) / F.lit(_KM_US_PER_HOUR)
    u = (
        f.crossJoin(F.broadcast(b))
        .filter(F.col("t0") <= F.col("cutoff"))
        .select(
            F.when(observed, F.floor(hours(F.col("tp"), F.col("t0"))))
            .otherwise(F.floor(hours(F.col("cutoff"), F.col("t0"))))
            .cast("long")
            .alias("dur"),
            F.when(observed, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
        )
    )
    hist = u.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ev").cast("long").alias("d"),
    )
    # at-risk at t = users with dur >= t: a SUFFIX sum over the tiny
    # duration histogram — no separate total (which would re-derive
    # the per-user aggregate) and no broadcast join
    w_from = Window.orderBy("dur").rowsBetween(0, Window.unboundedFollowing)
    risk = hist.select(
        "dur",
        "d",
        F.sum("n").over(w_from).cast("long").alias("n_at_risk"),
    ).filter(F.col("d") > 0)
    lnf = F.when(
        F.col("d") < F.col("n_at_risk"),
        F.round(
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk"))
            * 1000000
        ).cast("long"),
    )
    w_run = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.withColumn("__lnf", lnf)
        .select(
            F.col("dur").alias("t_hours"),
            "n_at_risk",
            F.col("d").alias("d_events"),
            F.sum("__lnf").over(w_run).cast("long").alias("km_log_1e6"),
        )
        .orderBy("t_hours")
    )


#: stream_moments micro-batch count (event_id mod); batch 1 is also
#: REDELIVERED to exercise the exactly-once guard.
_SM_BATCHES = 3


@query(
    "stream_moments",
    oracle="""
    WITH px AS (
      SELECT event_type,
             CAST(round(value * 100) AS DECIMAL(9,0)) AS x
      FROM events
    ),
    p2 AS (SELECT event_type, x, x * x AS x2 FROM px),
    p4 AS (
      SELECT event_type, x, x2,
             CAST(x2 AS DECIMAL(19,0)) * CAST(x AS DECIMAL(9,0)) AS x3,
             CAST(x2 AS DECIMAL(19,0)) * CAST(x2 AS DECIMAL(19,0)) AS x4
      FROM p2
    ),
    sums AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(x3) AS DOUBLE) AS s3,
             CAST(sum(x4) AS DOUBLE) AS s4
      FROM p4 GROUP BY event_type
    ),
    cm AS (
      SELECT event_type, n,
             s1 / n AS m1, s2 / n AS m2, s3 / n AS m3, s4 / n AS m4
      FROM sums
    ),
    v AS (SELECT *, m2 - m1 * m1 AS var FROM cm)
    SELECT event_type, n,
           CAST(round(m1 * 1e6) AS BIGINT) AS mean_cents_1e6,
           CAST(round(var * 1e6) AS BIGINT) AS var_1e6,
           CAST(round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                      / (var * sqrt(var)) * 1e6) AS BIGINT) AS skew_1e6,
           CAST(round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2
                       - 3 * m1 * m1 * m1 * m1)
                      / (var * var) * 1e6) AS BIGINT) AS kurt_1e6
    FROM v
    ORDER BY event_type
    """,
)
def stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the mergeable moments sketch
    (agg_moments_sketch's five power sums) under at-least-once
    delivery: the revenue stream arrives in three micro-batches (by
    event_id mod), each contributing one (batch_id, event_type, n,
    s1..s4) row set; batch 1 is then REDELIVERED and an anti-join on
    the already-folded batch_id set drops it relationally — the
    ContinuousRollup batch-watermark pattern (SEMANTICS.md row 12)
    applied to sketch state.  Because raw moments merge by ADDITION
    over exact DECIMAL sums, the maintained state re-aggregated per
    group is BIT-identical to the one-pass sketch — which is exactly
    what the oracle computes, so the fold, the merge, and the
    exactly-once guard are all under the gate.

    Why at 100 TB: per batch, five numbers per (event_type, partition)
    leave the executors; historical state is groups×6 values
    regardless of history length; retiring a day = subtracting its
    batch rows (moments are also subtractable)."""
    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def batch_sums(batch: DataFrame, batch_id: int) -> DataFrame:
        x = F.round(F.col("value") * 100).cast("decimal(9,0)")
        base = (
            batch.select("event_type", x.alias("x"))
            .withColumn("x2", F.col("x") * F.col("x"))
            .withColumn(
                "x3",
                F.col("x2").cast("decimal(19,0)") * F.col("x").cast("decimal(9,0)"),
            )
            .withColumn(
                "x4",
                F.col("x2").cast("decimal(19,0)") * F.col("x2").cast("decimal(19,0)"),
            )
        )
        return base.groupBy("event_type").agg(
            F.lit(batch_id).alias("batch_id"),
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s1"),
            F.sum("x2").alias("s2"),
            F.sum("x3").alias("s3"),
            F.sum("x4").alias("s4"),
        )

    state = None
    for b in range(_SM_BATCHES):
        rows = batch_sums(e.filter(F.col("event_id") % _SM_BATCHES == b), b)
        state = rows if state is None else state.unionByName(rows)
    # state feeds the seen-watermark derivation AND the final fold —
    # without it every per-batch aggregate (and its events scan)
    # re-ran for the watermark
    state = local_checkpoint(state)
    # redelivery: batch 1 arrives again; the batch_id watermark
    # (anti-join on already-folded ids) must drop it entirely
    redelivered = batch_sums(e.filter(F.col("event_id") % _SM_BATCHES == 1), 1)
    seen = state.select("batch_id").distinct()
    state = state.unionByName(redelivered.join(seen, "batch_id", "left_anti"))
    sums = state.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s1").cast("double").alias("s1"),
        F.sum("s2").cast("double").alias("s2"),
        F.sum("s3").cast("double").alias("s3"),
        F.sum("s4").cast("double").alias("s4"),
    )
    n = F.col("n").cast("double")
    cm = sums.select(
        "event_type",
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
        "event_type",
        "n",
        F.round(m1 * 1e6).cast("long").alias("mean_cents_1e6"),
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
    ).orderBy("event_type")


#: Synchronous label-propagation rounds for the community query —
#: fixed so the whole computation is one deterministic Catalyst DAG
#: the chained-CTE oracle replays (the graph_kcore convention).
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    n{r} AS (
      SELECT s.u, l.lbl, CAST(count(*) AS BIGINT) AS c
      FROM sym s JOIN {prev} l ON l.node = s.v
      GROUP BY s.u, l.lbl
    ),
    l{r} AS (
      SELECT u AS node, lbl FROM (
        SELECT u, lbl,
               row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
        FROM n{r}
      ) WHERE rn = 1
    )""")
        prev = f"l{r}"
    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    edges AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    ),
    base AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    -- self-preference: each node's own label votes (see lpa_labels)
    sym AS (
      SELECT u, v FROM base
      UNION ALL SELECT DISTINCT u, u AS v FROM base
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),{",".join(rounds)}
    SELECT node AS id, CAST(lbl AS BIGINT) AS community
    FROM {prev} ORDER BY id
    """


@query("graph_lpa_communities", oracle=_lpa_oracle())
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    spatial proximity graph: each round every node adopts the MOST
    FREQUENT label among its neighbors (ties -> smallest label), from
    labels = node ids.  Fixed rounds + deterministic tie-break make
    the classic LPA instability a non-issue under the oracle gate (the
    oracle replays the identical rounds as chained CTEs over a
    brute-force edge set, independently checking the grid-blocked
    spatial derivation too).  Communities differ from connected
    components (operators/dedup.py): LPA splits dense regions joined
    by thin bridges — the semantic-cluster granularity a near-dup
    pipeline actually wants.

    Why at 100 TB: each round is one equi-join of the (checkpointed)
    symmetric edge list against the current label table plus a
    per-node mode — a (node, label)-keyed aggregate and a node-keyed
    WindowGroupLimit, never all-pairs; rounds are O(diameter)-bounded
    like the CC loop and checkpoint the same way."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    from storm_dynamic_spout_spark.operators.graph import lpa_labels

    edges = grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    labels = lpa_labels(edges, "a", "b", rounds=_LPA_ROUNDS)
    return labels.select(
        F.col("node").alias("id"), F.col("lbl").cast("long").alias("community")
    ).orderBy("id")


@query(
    "events_ab_test",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
             sum(value) AS val
      FROM events GROUP BY user_id, event_type
    ),
    u AS (SELECT DISTINCT user_id FROM per),
    ty AS (SELECT DISTINCT event_type FROM per),
    frame AS (
      SELECT u.user_id, ty.event_type, u.user_id % 2 AS arm,
             coalesce(per.cnt, 0) AS cnt, coalesce(per.val, 0.0) AS val
      FROM u CROSS JOIN ty
      LEFT JOIN per ON per.user_id = u.user_id
                   AND per.event_type = ty.event_type
    ),
    tavg AS (SELECT event_type, avg(cnt) AS avg_cnt FROM frame GROUP BY 1),
    conv AS (
      SELECT f.*, CASE WHEN f.cnt > t.avg_cnt THEN 1 ELSE 0 END AS is_conv
      FROM frame f JOIN tavg t USING (event_type)
    ),
    g AS (
      SELECT event_type,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN arm = 0 THEN is_conv ELSE 0 END) AS BIGINT) AS conv_c,
             CAST(sum(CASE WHEN arm = 1 THEN is_conv ELSE 0 END) AS BIGINT) AS conv_t,
             avg(CASE WHEN arm = 0 THEN val END) AS mean_c,
             avg(CASE WHEN arm = 1 THEN val END) AS mean_t,
             var_samp(CASE WHEN arm = 0 THEN val END) AS var_c,
             var_samp(CASE WHEN arm = 1 THEN val END) AS var_t
      FROM conv GROUP BY event_type
    )
    SELECT event_type, n_c, n_t, conv_c, conv_t,
           round(conv_c * 1.0 / n_c, 6) AS rate_c,
           round(conv_t * 1.0 / n_t, 6) AS rate_t,
           round(CASE WHEN (conv_c + conv_t) > 0
                       AND (conv_c + conv_t) < (n_c + n_t)
                 THEN (conv_t * 1.0 / n_t - conv_c * 1.0 / n_c)
                      / sqrt((conv_c + conv_t) * 1.0 / (n_c + n_t)
                             * (1 - (conv_c + conv_t) * 1.0 / (n_c + n_t))
                             * (1.0 / n_c + 1.0 / n_t))
                 ELSE 0 END, 6) AS z_conv,
           round(mean_c, 6) AS mean_c,
           round(mean_t, 6) AS mean_t,
           round(CASE WHEN var_c / n_c + var_t / n_t > 0
                 THEN (mean_t - mean_c) / sqrt(var_c / n_c + var_t / n_t)
                 ELSE 0 END, 6) AS t_welch
    FROM g ORDER BY event_type
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-experiment readout — the hypothesis-testing shape every
    event pipeline eventually feeds: deterministic hash-of-identity
    arm assignment (here ``user_id % 2``: control/treatment), then per
    event_type a two-proportion pooled z statistic on a conversion
    flag plus Welch's t on the per-user continuous metric.

    Conversion is "this user's count of the event type exceeds the
    corpus-wide per-user average for that type" — integer-vs-exact-
    ratio comparison, so both engines flag identically (a >=1-event
    rule would be degenerate: every fixture user emits every type).
    The user x type frame is completed with zero rows so absent users
    count in means and variances, exactly like a real exposure table.

    Why at 100 TB: ONE (user, type) aggregate over the event scan
    (map-side partial), lazily checkpointed so its four downstream
    references (user dim, type dim, per-type totals, exposure frame)
    share a single computation instead of re-deriving the scan per
    branch.  The exposure frame is users x |types| built from a
    broadcast of the tiny type dim; per-type averages come back as a
    broadcast of |types| rows (computed CLOSED-FORM from the totals —
    the zero-completed frame's avg(cnt) is exactly
    ``sum(cnt) / n_users``, so no second pass over the frame); the
    closing aggregate is |types| x 2 cells.  The z/t math is
    closed-form codegen on that tiny result — no window over the full
    frame, no driver math."""
    per = local_checkpoint(
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("val"))
    )
    users = per.select("user_id").distinct()
    types = per.select("event_type").distinct()
    nu = users.agg(F.count(F.lit(1)).alias("__n_users"))
    # avg(cnt) over the zero-completed exposure frame == the exact
    # integer ratio sum(cnt)/n_users: both engines divide the same two
    # exact integers, so the conversion threshold is bit-identical
    tavg = (
        per.groupBy("event_type")
        .agg(F.sum("cnt").alias("__tot"))
        .crossJoin(F.broadcast(nu))
        .select(
            "event_type",
            (F.col("__tot") * 1.0 / F.col("__n_users")).alias("__avg_cnt"),
        )
    )
    frame = (
        users.crossJoin(F.broadcast(types))
        .join(per, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            (F.col("user_id") % 2).alias("__arm"),
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("val", F.lit(0.0)).alias("val"),
        )
    )
    conv = frame.join(F.broadcast(tavg), "event_type").withColumn(
        "__is_conv", (F.col("cnt") > F.col("__avg_cnt")).cast("int")
    )
    c = F.col("__arm") == 0
    tr = F.col("__arm") == 1
    g = conv.groupBy("event_type").agg(
        F.sum(c.cast("long")).alias("n_c"),
        F.sum(tr.cast("long")).alias("n_t"),
        F.sum(F.when(c, F.col("__is_conv")).otherwise(0)).cast("long").alias("conv_c"),
        F.sum(F.when(tr, F.col("__is_conv")).otherwise(0)).cast("long").alias("conv_t"),
        F.avg(F.when(c, F.col("val"))).alias("__mean_c"),
        F.avg(F.when(tr, F.col("val"))).alias("__mean_t"),
        F.var_samp(F.when(c, F.col("val"))).alias("__var_c"),
        F.var_samp(F.when(tr, F.col("val"))).alias("__var_t"),
    )
    n_c, n_t = F.col("n_c"), F.col("n_t")
    conv_c, conv_t = F.col("conv_c"), F.col("conv_t")
    p_pool = (conv_c + conv_t) * 1.0 / (n_c + n_t)
    z = (conv_t * 1.0 / n_t - conv_c * 1.0 / n_c) / F.sqrt(
        p_pool * (1 - p_pool) * (1.0 / n_c + 1.0 / n_t)
    )
    w_denom = F.col("__var_c") / n_c + F.col("__var_t") / n_t
    t_welch = (F.col("__mean_t") - F.col("__mean_c")) / F.sqrt(w_denom)
    return g.select(
        "event_type",
        "n_c",
        "n_t",
        "conv_c",
        "conv_t",
        F.round(conv_c * 1.0 / n_c, 6).alias("rate_c"),
        F.round(conv_t * 1.0 / n_t, 6).alias("rate_t"),
        F.round(
            F.when(
                ((conv_c + conv_t) > 0) & ((conv_c + conv_t) < (n_c + n_t)), z
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("z_conv"),
        F.round("__mean_c", 6).alias("mean_c"),
        F.round("__mean_t", 6).alias("mean_t"),
        F.round(F.when(w_denom > 0, t_welch).otherwise(F.lit(0.0)), 6).alias(
            "t_welch"
        ),
    ).orderBy("event_type")


@query(
    "events_ab_cuped",
    oracle="""
    WITH per AS (
      SELECT user_id,
             sum(CASE WHEN event_id % 2 = 0 THEN value ELSE 0 END) AS x,
             sum(CASE WHEN event_id % 2 = 1 THEN value ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    st AS (
      SELECT covar_pop(y, x) AS cv, var_pop(x) AS vx, avg(x) AS mx FROM per
    ),
    adj AS (
      SELECT p.user_id, p.user_id % 2 AS arm, p.y,
             p.y - (CASE WHEN st.vx > 0 THEN st.cv / st.vx ELSE 0 END)
                 * (p.x - st.mx) AS y_cv
      FROM per p, st
    )
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_units,
           round(avg(y), 6) AS mean_y,
           round(avg(y_cv), 6) AS mean_cv,
           round(var_samp(y), 4) AS var_y,
           round(var_samp(y_cv), 4) AS var_cv
    FROM adj GROUP BY arm ORDER BY arm
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (Deng, Xu, Kohavi & Walker, WSDM'13
    — operators/experiment.py cuped_adjust): per user, the metric is
    the value sum over odd event_ids and the pre-period covariate the
    value sum over even event_ids (a deterministic split both engines
    compute identically; the two halves correlate through per-user
    activity level, which is exactly the leverage CUPED exploits).
    Reports per arm the unit count, raw and adjusted means, and raw
    and adjusted sample variances — the adjusted variance shrink is
    the whole point of the operator.

    Variances round to 1e-4 (not 1e-6): var_samp composes two
    accumulation-order-sensitive passes (theta, then the moment over
    the adjusted values), so the ulp noise is ~100x a single
    aggregate's.

    Why at 100 TB: one (user) aggregate over the event scan (map-side
    partial), ONE corpus-level moment row broadcast back on a one-row
    cross join, codegen adjustment, then a 2-row closing aggregate —
    the cuped_adjust plan shape with the arm rollup fused on top."""
    from storm_dynamic_spout_spark.operators.experiment import cuped_adjust

    per = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_id") % 2 == 0, F.col("value")).otherwise(0.0)
            ).alias("x"),
            F.sum(
                F.when(F.col("event_id") % 2 == 1, F.col("value")).otherwise(0.0)
            ).alias("y"),
        )
    )
    adj = cuped_adjust(per, "y", "x", out_col="y_cv").withColumn(
        "arm", F.col("user_id") % 2
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.round(F.avg("y"), 6).alias("mean_y"),
            F.round(F.avg("y_cv"), 6).alias("mean_cv"),
            F.round(F.var_samp("y"), 4).alias("var_y"),
            F.round(F.var_samp("y_cv"), 4).alias("var_cv"),
        )
        .orderBy("arm")
    )


@query(
    "events_ab_srm",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT 'modulo' AS method, CAST(user_id % 2 AS INT) AS arm FROM u
      UNION ALL
      SELECT 'md5' AS method,
             CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                       AS BIGINT) % 2 AS INT) AS arm
      FROM u
    ),
    g AS (
      SELECT method,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t
      FROM arms GROUP BY method
    )
    SELECT method, n_c + n_t AS n_units, n_c, n_t,
           round((n_c - n_t) * (n_c - n_t) * 1.0 / (n_c + n_t), 6) AS chi2,
           (n_c - n_t) * (n_c - n_t) * 1.0 / (n_c + n_t) > 3.841 AS srm_flag
    FROM g ORDER BY method
    """,
)
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the sanity check every
    experimentation platform runs before reading a result (a biased
    assignment invalidates the whole experiment): for each assignment
    method (identity modulo and an md5-byte parity split), the
    chi-square statistic for a 50/50 design simplifies to
    ``(n_c - n_t)^2 / n``; flag when it exceeds the 95% critical value
    (3.841, 1 dof).

    Why at 100 TB: one distinct-users aggregate, a 2-way map-side arm
    count, closed-form codegen math on a 2-row result — the guardrail
    costs one pass regardless of corpus size."""
    u = t(spark, sf_dir, "events").select("user_id").distinct()
    modulo = u.select(
        F.lit("modulo").alias("method"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )
    md5arm = u.select(
        F.lit("md5").alias("method"),
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 2),
                16,
                10,
            ).cast("int")
            % 2
        ).alias("arm"),
    )
    g = (
        modulo.unionByName(md5arm)
        .groupBy("method")
        .agg(
            F.sum((F.col("arm") == 0).cast("long")).alias("n_c"),
            F.sum((F.col("arm") == 1).cast("long")).alias("n_t"),
        )
    )
    n_c, n_t = F.col("n_c"), F.col("n_t")
    chi2 = (n_c - n_t) * (n_c - n_t) * 1.0 / (n_c + n_t)
    return g.select(
        "method",
        (n_c + n_t).alias("n_units"),
        "n_c",
        "n_t",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_flag"),
    ).orderBy("method")


@query(
    "events_regression_trend",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2020-01-01',
                            CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x,
             value AS y
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             covar_pop(x, y) AS cxy, var_pop(x) AS vx,
             avg(x) AS mx, avg(y) AS my,
             corr(x, y) AS r
      FROM d GROUP BY event_type
    )
    SELECT event_type, n,
           round(CASE WHEN vx > 0 THEN cxy / vx ELSE 0 END, 6) AS slope,
           round(my - (CASE WHEN vx > 0 THEN cxy / vx ELSE 0 END) * mx, 6)
             AS intercept,
           round(CASE WHEN r IS NULL THEN 0 ELSE r * r END, 6) AS r2
    FROM g ORDER BY event_type
    """,
)
def events_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric OLS trend line — the "is this KPI drifting"
    readout: slope/intercept of value vs day index (days since a fixed
    epoch, so x is small and the moments stay well-conditioned — raw
    unix seconds would put 1e9-scale x into the covariance) plus r²,
    all from the explicit moment primitives (covar_pop / var_pop /
    corr) rather than engine-specific regr_* aggregates, so both
    engines evaluate the identical expression tree.  Zero-variance x
    (all events on one day) degrades to slope 0 / intercept mean(y).

    Why at 100 TB: one grouped aggregate with map-side partial
    moments — the same single-exchange shape as agg_corr_covar; the
    closed-form algebra is codegen on a |types|-row result."""
    d = t(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.col("ts"), F.lit("2020-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("value").alias("y"),
    )
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_pop("x", "y").alias("__cxy"),
        F.var_pop("x").alias("__vx"),
        F.avg("x").alias("__mx"),
        F.avg("y").alias("__my"),
        F.corr("x", "y").alias("__r"),
    )
    slope = F.when(F.col("__vx") > 0, F.col("__cxy") / F.col("__vx")).otherwise(
        F.lit(0.0)
    )
    return g.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("__my") - slope * F.col("__mx"), 6).alias("intercept"),
        F.round(
            F.when(F.col("__r").isNull(), F.lit(0.0)).otherwise(
                F.col("__r") * F.col("__r")
            ),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


#: Sequential-testing parameters for events_ab_sequential.  K looks of
#: equal size by event arrival order; the O'Brien-Fleming boundary
#: keeps the z-shape C*sqrt(K/k) with a conservative default constant
#: (2.7965 dominates the exact OBF critical value for alpha=0.05 at
#: K=10, so a flag here is also a flag under the exact bound); the
#: mSPRT mixture variance tau^2 and rejection level ln(1/alpha) follow
#: Johari et al., "Peeking at A/B Tests" (KDD'17).
_SEQ_LOOKS = 10
_SEQ_OBF_C = 2.7965
_SEQ_TAU2 = 100.0
_SEQ_ALPHA = 0.05


@query(
    "events_ab_sequential",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_ev FROM events),
    e AS (
      SELECT CAST(user_id % 2 AS INT) AS arm,
             CAST(1 + floor(event_id * {_SEQ_LOOKS}.0 / n.n_ev) AS INT) AS look,
             value
      FROM events, n
    ),
    g AS (
      SELECT arm, look, CAST(count(*) AS BIGINT) AS n,
             sum(value) AS s, sum(value * value) AS ss
      FROM e GROUP BY arm, look
    ),
    c AS (
      SELECT arm, look,
             sum(n)  OVER w AS cn,
             sum(s)  OVER w AS cs,
             sum(ss) OVER w AS css
      FROM g
      WINDOW w AS (PARTITION BY arm ORDER BY look ROWS UNBOUNDED PRECEDING)
    ),
    p AS (
      SELECT look,
             max(CASE WHEN arm = 0 THEN cn END) AS n_c,
             max(CASE WHEN arm = 1 THEN cn END) AS n_t,
             max(CASE WHEN arm = 0 THEN cs END) AS s_c,
             max(CASE WHEN arm = 1 THEN cs END) AS s_t,
             max(CASE WHEN arm = 0 THEN css END) AS ss_c,
             max(CASE WHEN arm = 1 THEN css END) AS ss_t
      FROM c GROUP BY look
    ),
    st AS (
      SELECT look, n_c, n_t,
             s_c / n_c AS mean_c, s_t / n_t AS mean_t,
             (ss_c - s_c * s_c / n_c) / (n_c - 1) AS var_c,
             (ss_t - s_t * s_t / n_t) / (n_t - 1) AS var_t
      FROM p
    ),
    z AS (
      SELECT look, n_c, n_t, mean_c, mean_t,
             mean_t - mean_c AS delta,
             var_c / n_c + var_t / n_t AS v
      FROM st
    )
    SELECT look, CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
           round(mean_c, 6) AS mean_c, round(mean_t, 6) AS mean_t,
           round(delta, 6) AS delta,
           round(delta / sqrt(v), 4) AS z_stat,
           round({_SEQ_OBF_C} * sqrt({_SEQ_LOOKS}.0 / look), 4) AS obf_bound,
           abs(delta / sqrt(v)) > {_SEQ_OBF_C} * sqrt({_SEQ_LOOKS}.0 / look)
             AS obf_reject,
           round(0.5 * ln(v / (v + {_SEQ_TAU2}))
                 + delta * delta * {_SEQ_TAU2} / (2 * v * (v + {_SEQ_TAU2})), 4)
             AS msprt_llr,
           0.5 * ln(v / (v + {_SEQ_TAU2}))
                 + delta * delta * {_SEQ_TAU2} / (2 * v * (v + {_SEQ_TAU2}))
             >= ln(1.0 / {_SEQ_ALPHA}) AS msprt_reject
    FROM z ORDER BY look
    """,
)
def events_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential A/B monitoring readout — the "can I peek" table every
    experimentation platform needs: the experiment is cut into K
    equal-size looks by arrival order, and each look reports the
    CUMULATIVE two-sample z statistic against BOTH sequential
    boundaries: the O'Brien-Fleming group-sequential bound (z-shape
    C*sqrt(K/k): very conservative early, nominal at the horizon) and
    the always-valid mixture-SPRT log-likelihood ratio (Johari et al.,
    KDD'17 — reject when llr >= ln(1/alpha)), so a dashboard can stop
    early without inflating false positives.

    Variances come from explicit moment primitives (n, sum, sum of
    squares) cumulated per arm, so both engines evaluate the identical
    expression tree; z/llr round to 1e-4 (two subtraction-sensitive
    passes — the ab_cuped precedent).

    Why at 100 TB: one (arm, look) grouped aggregate over the event
    scan (map-side partial, 2K result rows), a 2-partition cumulative
    window over K rows each, a K-row pivot, and closed-form codegen
    math — boundary evaluation costs nothing at any corpus size.  The
    look assignment needs the total event count: one scalar aggregate
    broadcast back on a one-row cross join (the corpus_composition
    pattern)."""
    ev = t(spark, sf_dir, "events")
    n_ev = ev.agg(F.count(F.lit(1)).alias("__n_ev"))
    e = ev.crossJoin(F.broadcast(n_ev)).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (
            1
            + F.floor(
                F.col("event_id") * float(_SEQ_LOOKS) / F.col("__n_ev")
            )
        )
        .cast("int")
        .alias("look"),
        "value",
    )
    g = e.groupBy("arm", "look").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("value").alias("__s"),
        F.sum(F.col("value") * F.col("value")).alias("__ss"),
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("look")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "arm",
        "look",
        F.sum("__n").over(w).alias("__cn"),
        F.sum("__s").over(w).alias("__cs"),
        F.sum("__ss").over(w).alias("__css"),
    )
    arm = lambda a, col: F.max(F.when(F.col("arm") == a, F.col(col)))  # noqa: E731
    p = c.groupBy("look").agg(
        arm(0, "__cn").alias("n_c"),
        arm(1, "__cn").alias("n_t"),
        arm(0, "__cs").alias("__s_c"),
        arm(1, "__cs").alias("__s_t"),
        arm(0, "__css").alias("__ss_c"),
        arm(1, "__css").alias("__ss_t"),
    )
    mean_c = F.col("__s_c") / F.col("n_c")
    mean_t = F.col("__s_t") / F.col("n_t")
    var_c = (F.col("__ss_c") - F.col("__s_c") * F.col("__s_c") / F.col("n_c")) / (
        F.col("n_c") - 1
    )
    var_t = (F.col("__ss_t") - F.col("__s_t") * F.col("__s_t") / F.col("n_t")) / (
        F.col("n_t") - 1
    )
    st = p.select(
        "look",
        F.col("n_c").cast("bigint").alias("n_c"),
        F.col("n_t").cast("bigint").alias("n_t"),
        mean_c.alias("__mean_c"),
        mean_t.alias("__mean_t"),
        (mean_t - mean_c).alias("__delta"),
        (var_c / F.col("n_c") + var_t / F.col("n_t")).alias("__v"),
    )
    z = F.col("__delta") / F.sqrt(F.col("__v"))
    obf = F.lit(_SEQ_OBF_C) * F.sqrt(F.lit(float(_SEQ_LOOKS)) / F.col("look"))
    llr = 0.5 * F.log(F.col("__v") / (F.col("__v") + _SEQ_TAU2)) + (
        F.col("__delta") * F.col("__delta") * _SEQ_TAU2
    ) / (2 * F.col("__v") * (F.col("__v") + _SEQ_TAU2))
    import math

    return st.select(
        "look",
        "n_c",
        "n_t",
        F.round("__mean_c", 6).alias("mean_c"),
        F.round("__mean_t", 6).alias("mean_t"),
        F.round("__delta", 6).alias("delta"),
        F.round(z, 4).alias("z_stat"),
        F.round(obf, 4).alias("obf_bound"),
        (F.abs(z) > obf).alias("obf_reject"),
        F.round(llr, 4).alias("msprt_llr"),
        (llr >= math.log(1.0 / _SEQ_ALPHA)).alias("msprt_reject"),
    ).orderBy("look")


@query(
    "events_ab_stratified",
    oracle="""
    WITH e AS (
      SELECT event_type AS stratum, CAST(user_id % 2 AS INT) AS arm, value
      FROM events
    ),
    g AS (
      SELECT stratum,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             sum(CASE WHEN arm = 0 THEN value ELSE 0 END) AS s_c,
             sum(CASE WHEN arm = 1 THEN value ELSE 0 END) AS s_t,
             sum(CASE WHEN arm = 0 THEN value * value ELSE 0 END) AS ss_c,
             sum(CASE WHEN arm = 1 THEN value * value ELSE 0 END) AS ss_t
      FROM e GROUP BY stratum
    ),
    st AS (
      SELECT stratum, n_c, n_t,
             s_t / n_t - s_c / n_c AS delta,
             (ss_c - s_c * s_c / n_c) / (n_c - 1) / n_c
               + (ss_t - s_t * s_t / n_t) / (n_t - 1) / n_t AS v,
             (n_c + n_t) * 1.0 / (SELECT sum(n_c + n_t) FROM g) AS w
      FROM g
    ),
    rows_ AS (
      SELECT stratum, n_c, n_t, w, delta,
             delta - 1.96 * sqrt(v) AS lo, delta + 1.96 * sqrt(v) AS hi
      FROM st
      UNION ALL
      SELECT 'OVERALL', CAST(sum(n_c) AS BIGINT), CAST(sum(n_t) AS BIGINT),
             sum(w), sum(w * delta),
             sum(w * delta) - 1.96 * sqrt(sum(w * w * v)),
             sum(w * delta) + 1.96 * sqrt(sum(w * w * v))
      FROM st
    )
    SELECT stratum, n_c, n_t, round(w, 6) AS weight,
           round(delta, 6) AS delta,
           round(lo, 4) AS ci_lo, round(hi, 4) AS ci_hi
    FROM rows_ ORDER BY stratum
    """,
)
def events_ab_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/B readout (the CUPED-sibling variance
    reduction: stratify on a pre-treatment categorical — here
    event_type — and weight per-stratum effects by stratum share):
    one row per stratum with its arm counts, weight, effect and 95%
    CI, plus the OVERALL row carrying the stratified ATE
    sum(w_s * delta_s) and its variance sum(w_s^2 * v_s) — tighter
    than the pooled CI whenever the metric differs across strata.

    Moments are explicit (n, sum, sum of squares per arm per stratum)
    so both engines evaluate the identical expression tree; CI bounds
    round to 1e-4 (variance-derived — the ab_cuped precedent), means
    and weights to 1e-6.

    Why at 100 TB: ONE grouped aggregate over the event scan with
    map-side partials (conditional sums per arm fused into the same
    pass — the events_ab_srm shape), a |strata|-row closed-form
    select, and a |strata|-row closing aggregate for the OVERALL line.
    No second scan, no window, nothing driver-side."""
    e = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
        "value",
    )
    is_c = F.col("arm") == 0
    is_t = F.col("arm") == 1
    # g feeds the total, the per-stratum rows and the OVERALL aggregate —
    # each re-scanned events without it (4 scans for one grouped
    # aggregate)
    g = local_checkpoint(
        e.groupBy("stratum").agg(
            F.sum(F.when(is_c, 1).otherwise(0)).cast("bigint").alias("n_c"),
            F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n_t"),
            F.sum(F.when(is_c, F.col("value")).otherwise(0.0)).alias("__s_c"),
            F.sum(F.when(is_t, F.col("value")).otherwise(0.0)).alias("__s_t"),
            F.sum(
                F.when(is_c, F.col("value") * F.col("value")).otherwise(0.0)
            ).alias("__ss_c"),
            F.sum(
                F.when(is_t, F.col("value") * F.col("value")).otherwise(0.0)
            ).alias("__ss_t"),
        )
    )
    tot = g.agg(F.sum(F.col("n_c") + F.col("n_t")).alias("__tot"))
    st = g.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_c",
        "n_t",
        (F.col("__s_t") / F.col("n_t") - F.col("__s_c") / F.col("n_c")).alias(
            "__delta"
        ),
        (
            (F.col("__ss_c") - F.col("__s_c") * F.col("__s_c") / F.col("n_c"))
            / (F.col("n_c") - 1)
            / F.col("n_c")
            + (F.col("__ss_t") - F.col("__s_t") * F.col("__s_t") / F.col("n_t"))
            / (F.col("n_t") - 1)
            / F.col("n_t")
        ).alias("__v"),
        ((F.col("n_c") + F.col("n_t")).cast("double") / F.col("__tot")).alias(
            "__w"
        ),
    )
    per = st.select(
        "stratum",
        "n_c",
        "n_t",
        F.col("__w").alias("__weight"),
        F.col("__delta").alias("__d"),
        (F.col("__delta") - 1.96 * F.sqrt("__v")).alias("__lo"),
        (F.col("__delta") + 1.96 * F.sqrt("__v")).alias("__hi"),
    )
    overall = st.agg(
        F.lit("OVERALL").alias("stratum"),
        F.sum("n_c").cast("bigint").alias("n_c"),
        F.sum("n_t").cast("bigint").alias("n_t"),
        F.sum("__w").alias("__weight"),
        F.sum(F.col("__w") * F.col("__delta")).alias("__d"),
        (
            F.sum(F.col("__w") * F.col("__delta"))
            - 1.96 * F.sqrt(F.sum(F.col("__w") * F.col("__w") * F.col("__v")))
        ).alias("__lo"),
        (
            F.sum(F.col("__w") * F.col("__delta"))
            + 1.96 * F.sqrt(F.sum(F.col("__w") * F.col("__w") * F.col("__v")))
        ).alias("__hi"),
    )
    return (
        per.unionByName(overall)
        .select(
            "stratum",
            "n_c",
            "n_t",
            F.round("__weight", 6).alias("weight"),
            F.round("__d", 6).alias("delta"),
            F.round("__lo", 4).alias("ci_lo"),
            F.round("__hi", 4).alias("ci_hi"),
        )
        .orderBy("stratum")
    )


def _clustering_oracle() -> str:
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord_sql

    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_spatial_coord_sql('x')} AS ux,
             {_spatial_coord_sql('y')} AS uy
      FROM customer
    ),
    edges AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.ux - b.ux) * (a.ux - b.ux)
          + (a.uy - b.uy) * (a.uy - b.uy) <= {_TRI_RADIUS * _TRI_RADIUS}
    ),
    sym AS (SELECT a AS u FROM edges UNION ALL SELECT b FROM edges),
    deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY u),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    troles AS (
      SELECT x AS id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
             FROM troles GROUP BY id)
    SELECT d.id, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           round(2.0 * COALESCE(t.n_triangles, 0)
                 / (d.degree * (d.degree - 1)) * 1000000) / 1000000
             AS clustering_coeff
    FROM deg d LEFT JOIN tcnt t USING (id)
    WHERE d.degree >= 2
    ORDER BY d.id
    """


@query("graph_clustering_coefficient", oracle=_clustering_oracle())
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient — 2*triangles(v) /
    (deg(v)*(deg(v)-1)) over the spatial proximity graph — the
    community-density feature every graph-quality report carries
    (Watts & Strogatz '98).

    Triangles come from the SAME degree-oriented wedge-close that
    backs graph_triangle_count (each (apex, v, w) row credits all
    three corners via one 3-element explode — still exactly once per
    triangle, no 6x overcount), so the arboricity-bounded wedge
    fan-out carries over: a celebrity node's coefficient is computed
    without ever materializing its quadratic wedge bucket.  Degrees
    are one node-sized aggregate on the symmetrized edge list; the
    close is a left join (nodes in no triangle keep coefficient 0).
    The coefficient is exact small-rational double math rounded to
    1e-6 — bit-stable across engines."""
    from storm_dynamic_spout_spark.catalog.joins import _spatial_coord
    from storm_dynamic_spout_spark.operators.graph import (
        degree_oriented_triangles,
    )
    from storm_dynamic_spout_spark.operators.spatial import grid_neighbor_pairs

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        _spatial_coord("x").alias("ux"),
        _spatial_coord("y").alias("uy"),
    )
    # shared by the degree agg and the triangle close
    edges = local_checkpoint(
        grid_neighbor_pairs(pts, "id", "ux", "uy", _TRI_RADIUS).select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
    )
    deg = (
        edges.select(F.col("a").alias("id"))
        .unionByName(edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tcnt = (
        degree_oriented_triangles(edges)
        .select(F.explode(F.array("apex", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    coeff = F.round(
        2.0
        * F.col("n_triangles")
        / (F.col("degree") * (F.col("degree") - 1))
        * 1000000
    ) / 1000000
    return (
        deg.join(tcnt, "id", "left")
        .na.fill({"n_triangles": 0})
        .filter(F.col("degree") >= 2)
        .select("id", "degree", "n_triangles", coeff.alias("clustering_coeff"))
        .orderBy("id")
    )


#: SES smoothing constant (shared Spark/oracle so the fold is the
#: identical double expression on both engines).
_SES_ALPHA = 0.3


@query(
    "events_forecast_ses",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(sum(value) * 100) AS BIGINT) AS cents
      FROM events GROUP BY event_type, day
    ),
    series AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             list(CAST(cents AS DOUBLE) ORDER BY day) AS ys,
             max_by(cents, day) AS last_cents
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, last_cents,
           round(list_reduce(ys, (acc, x) ->
                 {_SES_ALPHA} * x + {1 - _SES_ALPHA} * acc) * 1000000)
             / 1000000 AS ses_forecast
    FROM series ORDER BY event_type
    """,
)
def events_forecast_ses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-exponential-smoothing forecast per event_type — the
    one-step-ahead baseline every metrics dashboard draws: daily
    revenue-cents totals folded through ``s := alpha*y + (1-alpha)*s``
    in day order (s0 = first day), forecast = final level.

    The recursion runs as an ``F.aggregate`` fold over the per-type
    day-ordered array — and that is exactly why it is safe at 100 TB:
    the DAILY aggregate is the only data-scale pass (map-side partial,
    |types x days| result rows), and the array a fold sees is bounded
    by the calendar (~365 doubles/type/year), not by the corpus.  Both
    engines fold the identical double expression over identical
    integer-cents inputs in the same order, so the result is
    bit-identical before the 1e-6 rounding."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("__ys"),
        F.max_by("cents", "day").alias("last_cents"),
    )
    fold = F.aggregate(
        F.slice(F.col("__ys"), 2, F.greatest(F.size("__ys") - 1, F.lit(0))),
        F.col("__ys")[0],
        lambda acc, x: F.lit(_SES_ALPHA) * x + F.lit(1 - _SES_ALPHA) * acc,
    )
    return series.select(
        "event_type",
        "n_days",
        "last_cents",
        (F.round(fold * 1000000) / 1000000).alias("ses_forecast"),
    ).orderBy("event_type")


#: Bootstrap resample count.  81 is deliberate: the percentile
#: positions 0.025*(B-1), 0.5*(B-1), 0.975*(B-1) land on (near-)exact
#: integer ranks 2 / 40 / 78, so neither engine's linear interpolation
#: ever mixes two distinct order statistics — the CI bounds are exact
#: elements of the integer-micros delta list.
_BOOT_B = 81
#: Cumulative Poisson(1) thresholds on a 16-bit hash: P(0)=P(1)=e^-1,
#: P(2)=e^-1/2, remainder -> weight 3.
_BOOT_T0, _BOOT_T1, _BOOT_T2 = 24110, 48220, 60276


@query(
    "events_bootstrap_ci",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, CAST(user_id % 2 AS INT) AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    e AS (
      SELECT ev.*, b.b,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                                   || CAST(b.b AS VARCHAR)), 1, 4)) AS INT)
               AS h
      FROM ev, range(1, {_BOOT_B + 1}) AS b(b)
    ),
    w AS (
      SELECT b, arm,
             CASE WHEN h < {_BOOT_T0} THEN 0
                  WHEN h < {_BOOT_T1} THEN 1
                  WHEN h < {_BOOT_T2} THEN 2
                  ELSE 3 END AS wt,
             cents
      FROM e
    ),
    g AS (
      SELECT b, arm, CAST(sum(wt) AS BIGINT) AS n,
             CAST(sum(wt * cents) AS BIGINT) AS s
      FROM w GROUP BY b, arm
    ),
    d AS (
      -- a resample whose arm weight-sum degenerates to 0 has no
      -- defined delta: NULL on both engines (the guard keeps Spark
      -- NULL-on-/0 and duckdb double /0 from diverging); both
      -- percentile implementations then skip the NULL identically
      SELECT b,
             CASE WHEN max(CASE WHEN arm = 1 THEN n END) > 0
                   AND max(CASE WHEN arm = 0 THEN n END) > 0
                  THEN
             CAST(round((max(CASE WHEN arm = 1 THEN s END)
                           / CAST(max(CASE WHEN arm = 1 THEN n END) AS DOUBLE)
                         - max(CASE WHEN arm = 0 THEN s END)
                           / CAST(max(CASE WHEN arm = 0 THEN n END) AS DOUBLE))
                        * 10000) AS BIGINT) END AS delta_micents
      FROM g GROUP BY b
    ),
    point AS (
      SELECT round((sum(CASE WHEN arm = 1 THEN cents END)
                      / CAST(count(CASE WHEN arm = 1 THEN 1 END) AS DOUBLE)
                    - sum(CASE WHEN arm = 0 THEN cents END)
                      / CAST(count(CASE WHEN arm = 0 THEN 1 END) AS DOUBLE))
                   / 100 * 1000000) / 1000000 AS delta_hat
      FROM ev
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_boot,
           p.delta_hat,
           round(quantile_cont(delta_micents, 0.025) / 10000) / 100 AS boot_lo,
           round(quantile_cont(delta_micents, 0.5) / 10000) / 100 AS boot_med,
           round(quantile_cont(delta_micents, 0.975) / 10000) / 100 AS boot_hi
    FROM d, point p
    GROUP BY p.delta_hat
    """,
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI for the A/B treatment effect
    (Chamandy et al., Google 2012 — "Estimating uncertainty for
    massive data streams"): each of B resamples reweights every event
    by an iid-approximate Poisson(1) draw derived from
    md5(event_id:b), so the resample is REPRODUCIBLE across runs and
    engines (no RNG state), and the 2.5/50/97.5 percentiles of the B
    reweighted deltas give the CI the z-formula cannot give for
    ratio/heavy-tail metrics.

    Engine determinism: values go to integer cents up front, so every
    per-(b, arm) sum is an exact integer (order-independent); each
    delta becomes integer hundredths-of-cents; B=81 puts all three
    percentile ranks on exact order statistics (no interpolation
    mixing).

    Why at 100 TB: the explode is B x scan but shuffles only 2B
    partial-aggregated rows; for very large B fold the B weights per
    row into one array column instead (element-wise-sum aggregate) to
    keep the scan single-pass — same math, documented alternative."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    e = ev.withColumn(
        "b", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B)))
    ).withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("event_id"), F.col("b")).cast("binary")),
                1,
                4,
            ),
            16,
            10,
        ).cast("long"),
    )
    wt = (
        F.when(F.col("h") < _BOOT_T0, 0)
        .when(F.col("h") < _BOOT_T1, 1)
        .when(F.col("h") < _BOOT_T2, 2)
        .otherwise(3)
    )
    g = e.select("b", "arm", wt.alias("wt"), "cents").groupBy("b", "arm").agg(
        F.sum("wt").cast("bigint").alias("n"),
        F.sum(F.col("wt") * F.col("cents")).cast("bigint").alias("s"),
    )
    arm = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    # degenerate resample (arm weight-sum 0) has no defined delta:
    # NULL on both engines, skipped identically by both percentiles
    d = g.groupBy("b").agg(
        F.when(
            (arm(1, "n") > 0) & (arm(0, "n") > 0),
            F.round(
                (
                    arm(1, "s") / arm(1, "n").cast("double")
                    - arm(0, "s") / arm(0, "n").cast("double")
                )
                * 10000
            ).cast("long"),
        ).alias("delta_micents")
    )
    point = ev.agg(
        (
            F.round(
                (
                    F.sum(F.when(F.col("arm") == 1, F.col("cents")))
                    / F.count(F.when(F.col("arm") == 1, F.lit(1))).cast("double")
                    - F.sum(F.when(F.col("arm") == 0, F.col("cents")))
                    / F.count(F.when(F.col("arm") == 0, F.lit(1))).cast("double")
                )
                / 100
                * 1000000
            )
            / 1000000
        ).alias("delta_hat")
    )
    return (
        d.agg(
            F.lit(_BOOT_B).cast("bigint").alias("n_boot"),
            (F.round(F.percentile("delta_micents", 0.025) / 10000) / 100).alias(
                "boot_lo"
            ),
            (F.round(F.percentile("delta_micents", 0.5) / 10000) / 100).alias(
                "boot_med"
            ),
            (F.round(F.percentile("delta_micents", 0.975) / 10000) / 100).alias(
                "boot_hi"
            ),
        )
        .crossJoin(F.broadcast(point))
        .select("n_boot", "delta_hat", "boot_lo", "boot_med", "boot_hi")
    )


#: Holt linear-trend smoothing constants (shared Spark/oracle: the
#: folds must be the IDENTICAL double expression on both engines).
_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.4
#: Forecast horizon (days ahead).
_HOLT_H = 7


@query(
    "events_forecast_holt",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(sum(value) * 100) AS BIGINT) AS cents
      FROM events GROUP BY event_type, day
    ),
    series AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             list(CAST(cents AS DOUBLE) ORDER BY day) AS ys
      FROM daily GROUP BY event_type
    ),
    folded AS (
      -- state is a [level, trend] LIST, not a struct: duckdb 1.0's
      -- list_reduce struct_pack shadows already-assigned fields of
      -- acc inside later field expressions (acc.l reads the NEW l),
      -- which silently corrupts any mutually-referencing recursion;
      -- list element reads have no such rebinding.
      SELECT event_type, n_days,
             CASE WHEN n_days < 2
                  THEN [ys[1], CAST(0.0 AS DOUBLE)]
                  ELSE list_reduce(
                    list_prepend([ys[2], ys[2] - ys[1]],
                                 list_transform(ys[3:],
                                   y -> [y, CAST(0.0 AS DOUBLE)])),
                    (acc, x) -> [
                      {_HOLT_ALPHA} * x[1]
                        + {1 - _HOLT_ALPHA} * (acc[1] + acc[2]),
                      {_HOLT_BETA} * ({_HOLT_ALPHA} * x[1]
                        + {1 - _HOLT_ALPHA} * (acc[1] + acc[2]) - acc[1])
                        + {1 - _HOLT_BETA} * acc[2]])
             END AS st
      FROM series
    )
    SELECT event_type, n_days,
           round(st[1] * 1000000) / 1000000 AS level,
           round(st[2] * 1000000) / 1000000 AS trend,
           round((st[1] + {_HOLT_H} * st[2]) * 1000000) / 1000000
             AS forecast_{_HOLT_H}d
    FROM folded ORDER BY event_type
    """,
)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast per event_type (Holt 1957 — the
    level+trend step up from events_forecast_ses): state
    ``(l, t)`` folds through ``l' = a*y + (1-a)(l+t);
    t' = b(l'-l) + (1-b)t`` in day order with the standard
    ``l_2=y_2, t_2=y_2-y_1`` initialization, and the h-step forecast
    is ``l + h*t``.

    Same scale story as the SES fold: the only corpus-scale pass is
    the daily aggregate; the fold sees a calendar-bounded array.  The
    struct accumulator is written as the IDENTICAL arithmetic
    expression on both engines (the coupled l'-inside-t' term is
    expanded the same way), over exact integer-cents inputs, so the
    fold is bit-identical before the 1e-6 rounding.  Single-day types
    degrade to (level=y, trend=0)."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("__ys"),
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA
    ys = F.col("__ys")

    def _step(acc, x):
        lvl = F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["t"])
        tr = (
            F.lit(b) * (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["t"]) - acc["l"])
            + F.lit(1 - b) * acc["t"]
        )
        return F.struct(lvl.alias("l"), tr.alias("t"))

    init = F.struct(ys[1].alias("l"), (ys[1] - ys[0]).alias("t"))
    fold = F.aggregate(
        F.slice(ys, 3, F.greatest(F.size(ys) - 2, F.lit(0))), init, _step
    )
    st = F.when(F.size(ys) < 2, F.struct(ys[0].alias("l"), F.lit(0.0).alias("t"))).otherwise(
        fold
    )
    return series.select(
        "event_type",
        "n_days",
        (F.round(st["l"] * 1000000) / 1000000).alias("level"),
        (F.round(st["t"] * 1000000) / 1000000).alias("trend"),
        (F.round((st["l"] + _HOLT_H * st["t"]) * 1000000) / 1000000).alias(
            f"forecast_{_HOLT_H}d"
        ),
    ).orderBy("event_type")


@query(
    "events_diff_in_diff",
    oracle="""
    WITH n AS (SELECT count(*) AS n_ev FROM events),
    e AS (
      SELECT CAST(user_id % 2 AS INT) AS arm,
             CASE WHEN event_id * 2 < n.n_ev THEN 0 ELSE 1 END AS period,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events, n
    ),
    g AS (
      SELECT arm, period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents) AS BIGINT) AS ss
      FROM e GROUP BY arm, period
    ),
    p AS (
      SELECT max(CASE WHEN arm=0 AND period=0 THEN n END) AS n_c_pre,
             max(CASE WHEN arm=0 AND period=1 THEN n END) AS n_c_post,
             max(CASE WHEN arm=1 AND period=0 THEN n END) AS n_t_pre,
             max(CASE WHEN arm=1 AND period=1 THEN n END) AS n_t_post,
             max(CASE WHEN arm=0 AND period=0 THEN s END) AS s_c_pre,
             max(CASE WHEN arm=0 AND period=1 THEN s END) AS s_c_post,
             max(CASE WHEN arm=1 AND period=0 THEN s END) AS s_t_pre,
             max(CASE WHEN arm=1 AND period=1 THEN s END) AS s_t_post,
             max(CASE WHEN arm=0 AND period=0 THEN ss END) AS ss_c_pre,
             max(CASE WHEN arm=0 AND period=1 THEN ss END) AS ss_c_post,
             max(CASE WHEN arm=1 AND period=0 THEN ss END) AS ss_t_pre,
             max(CASE WHEN arm=1 AND period=1 THEN ss END) AS ss_t_post
      FROM g
    ),
    v AS (
      -- single-row cells have no defined variance: each term goes
      -- NULL on both engines (the n > 1 guards keep Spark NULL-on-/0
      -- and duckdb double-division semantics from diverging); one
      -- NULL term nulls se and therefore both CI bounds identically
      SELECT p.*,
             s_t_post / CAST(n_t_post AS DOUBLE)
               - s_t_pre / CAST(n_t_pre AS DOUBLE)
               - (s_c_post / CAST(n_c_post AS DOUBLE)
                  - s_c_pre / CAST(n_c_pre AS DOUBLE)) AS did_raw,
             sqrt(
               CASE WHEN n_t_post > 1 THEN
                 ((ss_t_post - s_t_post / CAST(n_t_post AS DOUBLE) * s_t_post)
                    / (n_t_post - 1)) / n_t_post END
               + CASE WHEN n_t_pre > 1 THEN
                 ((ss_t_pre - s_t_pre / CAST(n_t_pre AS DOUBLE) * s_t_pre)
                    / (n_t_pre - 1)) / n_t_pre END
               + CASE WHEN n_c_post > 1 THEN
                 ((ss_c_post - s_c_post / CAST(n_c_post AS DOUBLE) * s_c_post)
                    / (n_c_post - 1)) / n_c_post END
               + CASE WHEN n_c_pre > 1 THEN
                 ((ss_c_pre - s_c_pre / CAST(n_c_pre AS DOUBLE) * s_c_pre)
                    / (n_c_pre - 1)) / n_c_pre END) AS se_raw
      FROM p
    )
    SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
           round(did_raw / 100 * 1000000) / 1000000 AS did,
           round((did_raw - 1.96 * se_raw) / 100 * 10000) / 10000 AS ci_lo,
           round((did_raw + 1.96 * se_raw) / 100 * 10000) / 10000 AS ci_hi
    FROM v
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout (Card & Krueger '94 brought
    to event pipelines): split the corpus into pre/post halves by
    arrival order and arms by identity hash, estimate the treatment
    effect as (T_post - T_pre) - (C_post - C_pre) with the
    four-cell-variance 95% CI — the quasi-experimental estimator for
    rollouts that lack a clean holdout.

    Engine determinism: integer-cents moments per cell, means as
    exact integer/integer divisions, one fixed expression tree for
    effect and CI (1e-6 / 1e-4 rounding).

    Why at 100 TB: a scalar count broadcast (the corpus_composition
    pattern), ONE (arm, period) map-side-partial aggregate over the
    scan, then closed-form codegen math on a 4-row result."""
    ev = t(spark, sf_dir, "events")
    n_ev = ev.agg(F.count(F.lit(1)).alias("__n_ev"))
    e = ev.crossJoin(F.broadcast(n_ev)).select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.when(F.col("event_id") * 2 < F.col("__n_ev"), 0).otherwise(1).alias(
            "period"
        ),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = e.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )

    def cell(a, pd, c):
        return F.max(F.when((F.col("arm") == a) & (F.col("period") == pd), F.col(c)))

    p = g.agg(
        *[
            cell(a, pd, c).alias(f"{c}_{'t' if a else 'c'}_{'post' if pd else 'pre'}")
            for c in ("n", "s", "ss")
            for a in (0, 1)
            for pd in (0, 1)
        ]
    )
    mean = lambda k: F.col(f"s_{k}") / F.col(f"n_{k}").cast("double")  # noqa: E731
    # single-row cells have no defined variance — NULL on both engines
    # (the guard keeps Spark NULL-on-/0 and duckdb /0 from diverging)
    var_over_n = lambda k: F.when(  # noqa: E731
        F.col(f"n_{k}") > 1,
        ((F.col(f"ss_{k}") - mean(k) * F.col(f"s_{k}")) / (F.col(f"n_{k}") - 1))
        / F.col(f"n_{k}"),
    )
    did = mean("t_post") - mean("t_pre") - (mean("c_post") - mean("c_pre"))
    se = F.sqrt(
        var_over_n("t_post")
        + var_over_n("t_pre")
        + var_over_n("c_post")
        + var_over_n("c_pre")
    )
    return p.select(
        "n_c_pre",
        "n_c_post",
        "n_t_pre",
        "n_t_post",
        (F.round(did / 100 * 1000000) / 1000000).alias("did"),
        (F.round((did - 1.96 * se) / 100 * 10000) / 10000).alias("ci_lo"),
        (F.round((did + 1.96 * se) / 100 * 10000) / 10000).alias("ci_hi"),
    )


#: Two-sided alpha=0.05 and power=0.8 normal quantiles, pinned as
#: literals so both engines use the same constants.
_POWER_ZA, _POWER_ZB = 1.959964, 0.841621


@query(
    "events_power_mde",
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(CASE WHEN arm=0 THEN 1 END) AS BIGINT) AS n_c,
             CAST(count(CASE WHEN arm=1 THEN 1 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN arm=0 THEN cents END) AS BIGINT) AS s_c,
             CAST(sum(CASE WHEN arm=1 THEN cents END) AS BIGINT) AS s_t,
             CAST(sum(CASE WHEN arm=0 THEN cents * cents END) AS BIGINT) AS ss_c,
             CAST(sum(CASE WHEN arm=1 THEN cents * cents END) AS BIGINT) AS ss_t
      FROM e GROUP BY event_type
    )
    SELECT event_type, n_c, n_t,
           round(s_c / CAST(n_c AS DOUBLE) / 100 * 1000000) / 1000000
             AS mean_c,
           -- single-row arms have no defined variance and a zero-sum
           -- control arm no relative baseline: NULL on both engines
           -- (guards keep Spark NULL-on-/0 and duckdb /0 aligned)
           round(({_POWER_ZA} + {_POWER_ZB}) * sqrt(
               CASE WHEN n_c > 1 THEN
                 ((ss_c - s_c / CAST(n_c AS DOUBLE) * s_c) / (n_c - 1)) / n_c END
             + CASE WHEN n_t > 1 THEN
                 ((ss_t - s_t / CAST(n_t AS DOUBLE) * s_t) / (n_t - 1)) / n_t END)
             / 100 * 10000) / 10000 AS mde_abs,
           CASE WHEN s_c <> 0 THEN
           round(({_POWER_ZA} + {_POWER_ZB}) * sqrt(
               CASE WHEN n_c > 1 THEN
                 ((ss_c - s_c / CAST(n_c AS DOUBLE) * s_c) / (n_c - 1)) / n_c END
             + CASE WHEN n_t > 1 THEN
                 ((ss_t - s_t / CAST(n_t AS DOUBLE) * s_t) / (n_t - 1)) / n_t END)
             / (s_c / CAST(n_c AS DOUBLE)) * 10000) / 10000 END AS mde_rel
    FROM g ORDER BY event_type
    """,
)
def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis / minimum-detectable-effect table per metric —
    the question asked before any experiment ships: at the CURRENT
    sample sizes and variances, what effect could a two-sided
    alpha=0.05 test detect with 80% power?  ``mde = (z_a + z_b) *
    sqrt(var_c/n_c + var_t/n_t)``, reported absolute and relative to
    the control mean.

    One per-type aggregate with fused conditional moments (the
    events_ab_stratified shape), closed-form codegen math, pinned
    normal quantiles — |types| result rows at any corpus size."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = e.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == 0, F.lit(1))).cast("bigint").alias("n_c"),
        F.count(F.when(F.col("arm") == 1, F.lit(1))).cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents"))).cast("bigint").alias("s_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents"))).cast("bigint").alias("s_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents") * F.col("cents")))
        .cast("bigint")
        .alias("ss_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents") * F.col("cents")))
        .cast("bigint")
        .alias("ss_t"),
    )
    mean_c = F.col("s_c") / F.col("n_c").cast("double")
    # single-row arms have no defined variance and a zero-sum control
    # arm no relative baseline — NULL on both engines (the guards keep
    # Spark NULL-on-/0 and duckdb /0 semantics aligned)
    var_over_n = lambda k: F.when(  # noqa: E731
        F.col(f"n_{k}") > 1,
        (
            (
                F.col(f"ss_{k}")
                - F.col(f"s_{k}") / F.col(f"n_{k}").cast("double") * F.col(f"s_{k}")
            )
            / (F.col(f"n_{k}") - 1)
        )
        / F.col(f"n_{k}"),
    )
    mde = (_POWER_ZA + _POWER_ZB) * F.sqrt(var_over_n("c") + var_over_n("t"))
    return g.select(
        "event_type",
        "n_c",
        "n_t",
        (F.round(mean_c / 100 * 1000000) / 1000000).alias("mean_c"),
        (F.round(mde / 100 * 10000) / 10000).alias("mde_abs"),
        F.when(F.col("s_c") != 0, F.round(mde / mean_c * 10000) / 10000).alias(
            "mde_rel"
        ),
    ).orderBy("event_type")
