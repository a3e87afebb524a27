"""Relational operator queries (SURVEY.md §2 scans/filters/joins/aggs/
windows/set-ops) with DuckDB oracle SQL.

Each Spark query is written with the DataFrame API (declarative, Catalyst-
optimized: predicate pushdown, column pruning, broadcast selection) and each
oracle is independent ANSI SQL over the same parquet views. Every computed
column is aliased identically on both sides (driver hashes by column name).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from janet_spark.maintained import (
    Spec,
    distinct,
    maintained,
    min_on,
    state_dir_for_input,
    two_day_split,
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- A2-style aggregation showcase (pricing summary over lineitem) ---------


def q_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- W6 top-k --------------------------------------------------------------


def q_top_orders(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("total_price"))
        .limit(10)
    )


ORACLE_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# --- S4 point lookup (predicate pushdown) ----------------------------------


def q_point_lookup(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    min_key = orders.agg(F.min("o_orderkey")).collect()[0][0]
    return orders.filter(F.col("o_orderkey") == F.lit(min_key)).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


ORACLE_POINT_LOOKUP = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
"""


# --- F2/J1 resume anti-join (the reference's incremental filter,
#     apps/legacy/rename.ts:61-64) -----------------------------------------


def q_resume_anti_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    manifest = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    remaining = li.join(manifest, "l_orderkey", "left_anti")
    return (
        remaining.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_remaining"),
            F.round(F.sum("l_quantity"), 4).alias("qty_remaining"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_RESUME_ANTI_JOIN = """
SELECT l_returnflag, count(*) AS n_remaining,
       round(sum(l_quantity), 4) AS qty_remaining
FROM lineitem
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- F3/J2 semi join (search-results filter, apps/web/lib/store.ts:197-201) -


def q_semi_join_search(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    hits = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.join(hits, "c_custkey", "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_SEMI_JOIN_SEARCH = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
ORDER BY c_custkey
"""


# --- W2 per-group match ordinal (row_number over ordered window) ------------


def q_match_ordinal(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("match_idx"),
    ).orderBy("l_orderkey", "l_linenumber")


ORACLE_MATCH_ORDINAL = """
SELECT l_orderkey, l_linenumber,
       row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS match_idx
FROM lineitem WHERE l_orderkey <= 100
ORDER BY l_orderkey, l_linenumber
"""


# --- A1/W1 ordered concat (stable page-order reassembly on relational data) -


def q_ordered_concat(spark, sf_dir):
    from janet_spark.reassemble import _ordered_concat

    li = t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("flag", F.concat("l_returnflag", "l_linestatus"))
        .groupBy("l_orderkey")
        .agg(
            _ordered_concat("l_linenumber", "flag", "").alias("flags_concat"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_orderkey")
    )


ORACLE_ORDERED_CONCAT = """
SELECT l_orderkey,
       string_agg(l_returnflag || l_linestatus, ''
                  ORDER BY l_linenumber, l_returnflag || l_linestatus) AS flags_concat,
       count(*) AS n_lines
FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
"""


# --- U1 dedup last-writer-wins (manifest upsert semantics,
#     apps/legacy/src/utils/file.ts:41-49) ----------------------------------


def q_latest_event_per_user(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


ORACLE_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id
"""


# --- J4 broadcast dimension join -------------------------------------------


def q_broadcast_brand_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


ORACLE_BROADCAST_BRAND_REVENUE = """
SELECT p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


# --- multi-join aggregate (region -> nation -> customer -> orders -> li) ----


def q_revenue_by_region(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name")
    )


ORACLE_REVENUE_BY_REGION = """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# --- tumbling window over events (batch analog of streaming windows) --------


def q_tumbling_hourly_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("hour_start", "event_type")
    )


ORACLE_TUMBLING_HOURLY_EVENTS = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type
"""


# --- sessionization (gap > 30 min) — lag + cumulative window ----------------


def q_sessionize_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # full microsecond precision on both sides (session TZ is UTC, so the
    # NTZ->LTZ cast is identity; DuckDB's epoch(ts) is fractional seconds)
    epoch = F.expr("cast(cast(ts as timestamp_ltz) as double)")
    gapped = ev.withColumn(
        "new_session",
        F.when(
            epoch - F.lag(epoch, 1, 0).over(w) > 1800,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        gapped.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


ORACLE_SESSIONIZE_EVENTS = """
WITH g AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts), 1, 0.0)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, value,
         cast(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq
"""


# --- funnel / retention (event-analytics staples over the events table) -----


_FUNNEL_STEPS = ("signup", "click", "purchase")


def _funnel_labels(window_days: int | None) -> list[str]:
    """Stage labels, tagged with the attribution rule of each later step."""
    if window_days is None:
        return ["signup", "click_after_signup", "purchase_after_click"]
    return ["signup", f"click_{window_days}d", f"purchase_{window_days}d"]


def _funnel(events: DataFrame, window_days: int | None = None) -> DataFrame:
    """Ordered-step funnel signup → click → purchase: a user advances a
    stage only with an event STRICTLY AFTER their previous-stage time
    (min-ts per stage, the classic windowed-funnel semantics) and, with
    `window_days`, no later than that many days after it — unwindowed
    funnels credit conversions forever, which no growth team accepts.
    Scale shape: each stage is one map-side-combinable min-agg keyed by
    user_id plus one equi-join on user_id (same shuffle key end-to-end,
    so AQE coalesces; no stage touches more than the matching event-type
    slice; the window is one extra timestamp predicate in each stage
    filter); the result is 3 rows, and the conversion denominator comes
    from a 3-row window, never a driver-side count."""
    first, *rest = _FUNNEL_STEPS
    reached = (
        events.filter(F.col("event_type") == first)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_prev"))
    )
    stages = [reached]
    for step in rest:
        after = F.col("ts") > F.col("t_prev")
        if window_days is not None:
            win = F.expr(f"INTERVAL {window_days} DAYS")
            after = after & (F.col("ts") <= F.col("t_prev") + win)
        reached = (
            events.filter(F.col("event_type") == step)
            .join(reached, "user_id")
            .filter(after)
            .groupBy("user_id")
            .agg(F.min("ts").alias("t_prev"))
        )
        stages.append(reached)

    labels = _funnel_labels(window_days)
    counts = [
        df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(idx).alias("stage_idx"), F.lit(label).alias("stage"), "users"
        )
        for idx, (df, label) in enumerate(zip(stages, labels), 1)
    ]
    u = reduce(DataFrame.union, counts)
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base = F.max(F.when(F.col("stage_idx") == 1, F.col("users"))).over(w)
    # empty-funnel guard: Spark gives IEEE Infinity for double x/0 where
    # DuckDB gives NULL — pin the zero-signup case to NULL in both
    pct = F.when(base > 0, F.round(F.col("users") / base, 4))
    return u.select(
        "stage_idx", "stage", "users", pct.alias("conversion_pct")
    ).orderBy("stage_idx")


def _funnel_oracle(window_days: int | None = None) -> str:
    """DuckDB rendering of `_funnel`: one CTE per stage, same labels."""
    first, *rest = _FUNNEL_STEPS
    ctes = [
        f"s1 AS (\n  SELECT user_id, min(ts) AS t1 FROM events "
        f"WHERE event_type = '{first}' GROUP BY 1\n)"
    ]
    for i, step in enumerate(rest, 2):
        win = (
            ""
            if window_days is None
            else f"\n    AND e.ts <= s{i - 1}.t{i - 1} + INTERVAL {window_days} DAY"
        )
        ctes.append(
            f"s{i} AS (\n  SELECT e.user_id, min(e.ts) AS t{i} FROM events e "
            f"JOIN s{i - 1} USING (user_id)\n  WHERE e.event_type = '{step}' "
            f"AND e.ts > s{i - 1}.t{i - 1}{win} GROUP BY 1\n)"
        )
    counts = "\n  UNION ALL\n  ".join(
        f"SELECT {i} AS stage_idx, '{label}' AS stage, "
        f"CAST(count(*) AS BIGINT) AS users FROM s{i}"
        for i, label in enumerate(_funnel_labels(window_days), 1)
    )
    ctes.append(f"u AS (\n  {counts}\n)")
    return f"""
WITH {", ".join(ctes)}
SELECT stage_idx, stage, users,
       CASE WHEN max(CASE WHEN stage_idx = 1 THEN users END) OVER () > 0
            THEN round(users / CAST(max(CASE WHEN stage_idx = 1 THEN users END)
                                    OVER () AS DOUBLE), 4)
       END AS conversion_pct
FROM u ORDER BY stage_idx
"""


def q_funnel_conversion(spark, sf_dir):
    return _funnel(t(spark, sf_dir, "events"))


def q_funnel_windowed(spark, sf_dir):
    """`funnel_conversion` under a 7-day attribution window."""
    return _funnel(t(spark, sf_dir, "events"), window_days=7)


def q_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix: cohort = ISO week of a user's
    first event; a (cohort, offset) cell counts distinct users active
    `offset` weeks later; pct is against the cohort's size. Scale shape:
    one min-agg and one distinct-agg keyed by user_id (shared shuffle
    key with the join between them), then a cells-sized (weeks², not
    events) agg — date_trunc('week') is Monday-anchored in both engines
    so the cells align exactly."""
    first, activity = _retention_week_frames(t(spark, sf_dir, "events"))
    return _retention_matrix(first, activity)


ORACLE_RETENTION_COHORTS = """
WITH e AS (
  SELECT user_id, date_trunc('week', ts) AS wk FROM events
), f AS (
  SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1
), a AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('day', f.cohort_week, e.wk) / 7 AS INT) AS week_offset
  FROM e JOIN f USING (user_id)
), s AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1
)
SELECT a.cohort_week, week_offset,
       CAST(count(*) AS BIGINT) AS active_users, s.cohort_size,
       round(count(*) / CAST(s.cohort_size AS DOUBLE), 4) AS retention_pct
FROM a JOIN s USING (cohort_week)
GROUP BY a.cohort_week, week_offset, s.cohort_size
ORDER BY cohort_week, week_offset
"""


def q_event_transitions(spark, sf_dir):
    """Per-user event-type transition matrix (the Markov view of product
    analytics): consecutive events per user ordered by (ts, event_id)
    form (from_type, to_type) pairs; prob is row-normalized per
    from_type. Scale shape: one shuffle by user_id for the lag window
    (per-user sequences, never a global sort), then a types²-sized pair
    agg — the matrix is 25 rows however large the log."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type", 1).over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return (
        pairs.select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.sum("n").over(tot), 4).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


ORACLE_EVENT_TRANSITIONS = """
WITH p AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 4) AS prob
FROM c ORDER BY from_type, to_type
"""


def q_funnel_latency(spark, sf_dir):
    """Time-to-convert for the signup → purchase funnel: per converted
    user, hours between first signup and first strictly-later purchase;
    reported as count + exact interpolated median/p90 (the
    `value_percentiles` Spark-percentile == DuckDB-quantile_cont parity;
    the epoch trick from `sessionize_events` keeps microseconds). One
    row out; per-user state is two timestamps."""
    ev = t(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
        .select(
            (
                (
                    F.expr("cast(cast(t2 as timestamp_ltz) as double)")
                    - F.expr("cast(cast(t1 as timestamp_ltz) as double)")
                )
                / 3600.0
            ).alias("hours")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(hours, 0.5)"), 4).alias("median_hours"),
        F.round(F.expr("percentile(hours, 0.9)"), 4).alias("p90_hours"),
    )


ORACLE_FUNNEL_LATENCY = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1
), conv AS (
  SELECT (epoch(min(e.ts)) - epoch(s1.t1)) / 3600.0 AS hours
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
  GROUP BY e.user_id, s1.t1
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(hours, 0.5), 4) AS median_hours,
       round(quantile_cont(hours, 0.9), 4) AS p90_hours
FROM conv
"""


# --- maintained retention state (min-merge + distinct-union generations) ----


def _retention_week_frames(events):
    """(first, activity) delta frames: per-user min first-event week and
    the distinct (user, active-week) pairs — the two sufficient
    statistics of the retention matrix."""
    ev = events.select("user_id", F.date_trunc("week", "ts").alias("wk"))
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    activity = ev.distinct()
    return first, activity


# Both merges are idempotent: min of per-day mins is the global min over
# ANY cover of the events, and activity is a distinct union, so replayed
# or overlapping days merge away, like the HLL registers and unlike the
# sum-merged censuses.
RETENTION_FIRST = Spec(
    "user_id long, cohort_week timestamp",
    of=lambda events: _retention_week_frames(events)[0],
    merge=min_on("user_id"),
)
RETENTION_ACTIVITY = Spec(
    "user_id long, wk timestamp",
    of=lambda events: _retention_week_frames(events)[1],
    merge=distinct,
)


def _retention_matrix(first, activity):
    """The cohort matrix from the two state tables — shared by the
    standalone and maintained query forms so they cannot diverge."""
    active = (
        activity.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    size = first.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        active.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(size, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            F.round(F.col("active_users") / F.col("cohort_size"), 4).alias(
                "retention_pct"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def q_retention_cohorts_incremental(spark, sf_dir):
    """Maintained form of `retention_cohorts`: the matrix reads the
    min-merged first-event table and the distinct-union activity table
    instead of re-scanning the event log — the shape a standing weekly
    dashboard has (per-day write is user-grain, not event-grain). Both
    merges are idempotent, so the merged state over ANY event cover —
    including replayed deltas — equals the full-scan statistics exactly,
    and the standalone oracle serves this query unchanged."""
    first, activity = maintained(
        spark,
        (RETENTION_FIRST, RETENTION_ACTIVITY),
        (
            state_dir_for_input(sf_dir, "events.parquet", "retention_first"),
            state_dir_for_input(sf_dir, "events.parquet", "retention_activity"),
        ),
        two_day_split(lambda: t(spark, sf_dir, "events"), "event_id"),
    )
    return _retention_matrix(first, activity)


# --- T12 tolerant JSON field extraction over events.props -------------------


def q_json_props_histogram(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("k_val", F.get_json_object("props", "$.k").cast("int"))
        .withColumn("k_bucket", F.floor(F.col("k_val") / 10).cast("int"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("k_bucket")
    )


ORACLE_JSON_PROPS_HISTOGRAM = """
SELECT cast(floor(cast(json_extract_string(props, '$.k') AS INT) / 10) AS INT) AS k_bucket,
       count(*) AS n_events
FROM events GROUP BY 1 ORDER BY k_bucket
"""


# --- T9 filename sanitization / T15 fs-safe timestamp / T11 canonical name --


def q_sanitized_filenames(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), "[^a-zA-Z0-9._-]+", "_").alias("safe_name"),
    ).orderBy("c_custkey")


ORACLE_SANITIZED_FILENAMES = """
SELECT c_custkey, regexp_replace(c_name, '[^a-zA-Z0-9._-]+', '_', 'g') AS safe_name
FROM customer ORDER BY c_custkey
"""


def q_canonical_rename_sql(spark, sf_dir):
    """T11 target-format filename composed relationally:
    'YYYY-MM-DD Company - Description.pdf' (openai.ts:28-67 format)."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    cust = t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            F.concat(
                F.date_format("o_orderdate", "yyyy-MM-dd"),
                F.lit(" "),
                F.col("c_name"),
                F.lit(" - Order "),
                F.col("o_orderkey"),
                F.lit(".pdf"),
            ).alias("canonical_name"),
        )
        .orderBy("o_orderkey")
    )


ORACLE_CANONICAL_RENAME_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') || ' ' || c_name || ' - Order ' ||
       o_orderkey || '.pdf' AS canonical_name
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey <= 500 ORDER BY o_orderkey
"""


def q_fs_safe_timestamp(spark, sf_dir):
    """T15: toISOString().replace(/[:.]/g,'-') — filesystem-safe stamps."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") <= 200)
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH-mm-ss").alias("fs_stamp"),
    ).orderBy("event_id")


ORACLE_FS_SAFE_TIMESTAMP = """
SELECT event_id, strftime(ts, '%Y-%m-%dT%H-%M-%S') AS fs_stamp
FROM events WHERE event_id <= 200 ORDER BY event_id
"""


def q_ordinal_dates(spark, sf_dir):
    """T14 formatDate with English ordinals ('March 3rd, 2024',
    apps/web/lib/utils.ts:8-33) — pure relational expression."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    day = F.dayofmonth("o_orderdate")
    suffix = (
        F.when((day % 100).isin(11, 12, 13), "th")
        .when(day % 10 == 1, "st")
        .when(day % 10 == 2, "nd")
        .when(day % 10 == 3, "rd")
        .otherwise("th")
    )
    return orders.select(
        "o_orderkey",
        F.concat(
            F.date_format("o_orderdate", "MMMM"),
            F.lit(" "),
            day.cast("string"),
            suffix,
            F.lit(", "),
            F.year("o_orderdate").cast("string"),
        ).alias("pretty_date"),
    ).orderBy("o_orderkey")


ORACLE_ORDINAL_DATES = """
SELECT o_orderkey,
       monthname(o_orderdate) || ' ' || cast(day(o_orderdate) AS varchar) ||
       (CASE WHEN day(o_orderdate) % 100 IN (11,12,13) THEN 'th'
             WHEN day(o_orderdate) % 10 = 1 THEN 'st'
             WHEN day(o_orderdate) % 10 = 2 THEN 'nd'
             WHEN day(o_orderdate) % 10 = 3 THEN 'rd'
             ELSE 'th' END) || ', ' || cast(year(o_orderdate) AS varchar)
       AS pretty_date
FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey
"""


RELATIONAL_QUERIES = {
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING_SUMMARY),
    "top_orders": (q_top_orders, ORACLE_TOP_ORDERS),
    "point_lookup": (q_point_lookup, ORACLE_POINT_LOOKUP),
    "resume_anti_join": (q_resume_anti_join, ORACLE_RESUME_ANTI_JOIN),
    "semi_join_search": (q_semi_join_search, ORACLE_SEMI_JOIN_SEARCH),
    "match_ordinal": (q_match_ordinal, ORACLE_MATCH_ORDINAL),
    "ordered_concat": (q_ordered_concat, ORACLE_ORDERED_CONCAT),
    "latest_event_per_user": (q_latest_event_per_user, ORACLE_LATEST_EVENT_PER_USER),
    "broadcast_brand_revenue": (q_broadcast_brand_revenue, ORACLE_BROADCAST_BRAND_REVENUE),
    "revenue_by_region": (q_revenue_by_region, ORACLE_REVENUE_BY_REGION),
    "tumbling_hourly_events": (q_tumbling_hourly_events, ORACLE_TUMBLING_HOURLY_EVENTS),
    "sessionize_events": (q_sessionize_events, ORACLE_SESSIONIZE_EVENTS),
    "funnel_conversion": (q_funnel_conversion, _funnel_oracle()),
    "funnel_windowed": (q_funnel_windowed, _funnel_oracle(window_days=7)),
    "retention_cohorts": (q_retention_cohorts, ORACLE_RETENTION_COHORTS),
    "retention_cohorts_incremental": (
        q_retention_cohorts_incremental,
        # min-merge + distinct-union over any event cover == the
        # full-scan statistics exactly, so the standalone oracle serves
        ORACLE_RETENTION_COHORTS,
    ),
    "event_transitions": (q_event_transitions, ORACLE_EVENT_TRANSITIONS),
    "funnel_latency": (q_funnel_latency, ORACLE_FUNNEL_LATENCY),
    "json_props_histogram": (q_json_props_histogram, ORACLE_JSON_PROPS_HISTOGRAM),
    "sanitized_filenames": (q_sanitized_filenames, ORACLE_SANITIZED_FILENAMES),
    "canonical_rename_sql": (q_canonical_rename_sql, ORACLE_CANONICAL_RENAME_SQL),
    "fs_safe_timestamp": (q_fs_safe_timestamp, ORACLE_FS_SAFE_TIMESTAMP),
    "ordinal_dates": (q_ordinal_dates, ORACLE_ORDINAL_DATES),
}
