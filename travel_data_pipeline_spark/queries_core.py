"""Core relational queries — SURVEY.md §2.2-§2.7 coverage on the driver
star schema, each with a DuckDB oracle.

Naming: keys carry the SURVEY operator ids they exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.functions import scalars as X
from travel_data_pipeline_spark.operators.aggregates import dec_avg, dec_sum
from travel_data_pipeline_spark.operators.joins import anti, broadcast_left, semi
from travel_data_pipeline_spark.operators.windows import sessionize, topk_per_group
from travel_data_pipeline_spark.plans.flights import (
    FLIGHT_VALUE_ORACLE,
    flight_value_query,
)
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Flagship (§7 minimum slice): A3 + J4 + X13/X15 + W2
# ---------------------------------------------------------------------------

register("flight_value_w2_j4", FLIGHT_VALUE_ORACLE)(flight_value_query)

# cluster-scale two-stage-aggregation formulation, same oracle
from travel_data_pipeline_spark.plans.flights import flight_value_agg_query  # noqa: E402

register("flight_value_agg_variant", FLIGHT_VALUE_ORACLE)(flight_value_agg_query)


# ---------------------------------------------------------------------------
# A3/A6 + X14 — pricing summary (TPC-H Q1 shape; grouped aggs galore)
# ---------------------------------------------------------------------------

@register("a3_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def a3_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(dec_sum("l_quantity", "sum_qty"),
                 dec_sum("l_extendedprice", "sum_base_price"),
                 F.sum(price * (F.lit(1) - disc)).cast("double")
                  .alias("sum_disc_price"),
                 F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double")
                  .alias("sum_charge"),
                 dec_avg("l_quantity", "avg_qty"),
                 dec_avg("l_extendedprice", "avg_price"),
                 dec_avg("l_discount", "avg_disc"),
                 F.count("*").alias("count_order")))


# ---------------------------------------------------------------------------
# J2 — dimension fan-out join (1:N multiplicity; broadcast)
# ---------------------------------------------------------------------------

@register("j2_dim_fanout", """
SELECT r.r_name, n.n_name,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS nation_acctbal,
       COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""")
def j2_dim_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer fact fans through nation -> region (both broadcast).
    Reproduces J2's 1:N semantics: every fact row multiplies into its
    dimension's hierarchy (exchage_rate_crawler.py:349-380 analogue)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = broadcast_left(
        broadcast_left(c, n, c["c_nationkey"] == n["n_nationkey"], "inner"),
        r, F.col("n_regionkey") == r["r_regionkey"], "inner")
    return (joined.groupBy("r_name", "n_name")
            .agg(dec_sum("c_acctbal", "nation_acctbal"),
                 F.count("*").alias("n_customers")))


# ---------------------------------------------------------------------------
# J3 + X16 — standardization join with default fill (left join + coalesce)
# ---------------------------------------------------------------------------

@register("j3_standardize_defaults", """
SELECT e.user_id,
       COALESCE(c.c_name, 'Unknown_Customer') AS customer_name,
       COALESCE(c.c_mktsegment, 'N/A') AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.user_id, COALESCE(c.c_name, 'Unknown_Customer'),
         COALESCE(c.c_mktsegment, 'N/A')
""")
def j3_standardize_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 LEFT-JOIN policy + X16 default fill
    (google_trends_processor.py:154-159 analogue)."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    joined = broadcast_left(e, c, e["user_id"] == c["c_custkey"], "left")
    return (joined
            .withColumn("customer_name",
                        X.with_default(F.col("c_name"), "Unknown_Customer"))
            .withColumn("segment", X.with_default(F.col("c_mktsegment"), "N/A"))
            .groupBy("user_id", "customer_name", "segment")
            .agg(F.count("*").alias("n_events"),
                 dec_sum("value", "total_value")))


# ---------------------------------------------------------------------------
# J5 + X4 — explode a packed code-list column, then join through it
# ---------------------------------------------------------------------------

@register("j5_explode_join", """
WITH dim AS (
    SELECT r_regionkey,
           concat('[''', r_name, ''', ''', upper(r_name), '_X'']') AS packed
    FROM region
), exploded AS (
    SELECT r_regionkey, unnest(string_split(
        regexp_replace(packed, '[\\[\\]'' ]', '', 'g'), ',')) AS code
    FROM dim
)
SELECT e.code, COUNT(n.n_nationkey) AS n_nations
FROM exploded e LEFT JOIN nation n ON e.r_regionkey = n.n_regionkey
GROUP BY e.code
""")
def j5_explode_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4's bracket-noise cleanup + explode + join
    (_archive/flight_avg_merge.py:94-106). The packed column is
    synthesized from region so the driver tables stay the only input."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    dim = r.select(
        "r_regionkey",
        F.concat(F.lit("['"), F.col("r_name"), F.lit("', '"),
                 F.upper(F.col("r_name")), F.lit("_X']")).alias("packed"))
    exploded = dim.select(
        "r_regionkey", F.explode(X.split_code_list(F.col("packed"))).alias("code"))
    joined = exploded.join(n, exploded["r_regionkey"] == n["n_regionkey"], "left")
    return joined.groupBy("code").agg(F.count("n_nationkey").alias("n_nations"))


# ---------------------------------------------------------------------------
# J6 — tiny-map join as a constant-folded map literal
# ---------------------------------------------------------------------------

_REGION_CODE = {"AFRICA": "AF", "AMERICA": "AM", "ASIA": "AS",
                "EUROPE": "EU", "MIDDLE EAST": "ME"}

@register("j6_map_literal", """
SELECT n_name,
       CASE r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
                   WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
                   WHEN 'MIDDLE EAST' THEN 'ME' END AS region_code
FROM nation JOIN region ON n_regionkey = r_regionkey
""")
def j6_map_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-style code mapping via map literal (J6,
    _archive/flight_avg_merge.py:82-87) — zero build side, folded by
    Catalyst."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = broadcast_left(n, r, n["n_regionkey"] == r["r_regionkey"], "inner")
    entries = [x for kv in _REGION_CODE.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    return joined.select(
        "n_name", F.element_at(F.create_map(*entries), F.col("r_name"))
        .alias("region_code"))


# ---------------------------------------------------------------------------
# Semi / anti joins (F4 audit variant; capability-matrix ops)
# ---------------------------------------------------------------------------

@register("semi_join_active_customers", """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return semi(c, o.select(F.col("o_custkey").alias("c_custkey")),
                "c_custkey").select("c_custkey", "c_name")


@register("anti_join_idle_customers", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return anti(c, o.select(F.col("o_custkey").alias("c_custkey")),
                "c_custkey").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# A1 — recent-vs-prior conditional aggregation (trends window means)
# ---------------------------------------------------------------------------

@register("a1_recent_prior_means", """
WITH bounds AS (
    SELECT max(ts) AS max_ts,
           max(ts) - INTERVAL 15 DAY AS recent_lo,
           max(ts) - INTERVAL 30 DAY AS prior_lo
    FROM events
)
SELECT e.event_type,
       CAST(SUM(CASE WHEN e.ts > b.recent_lo
                     THEN CAST(e.value AS DECIMAL(18,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN e.ts > b.recent_lo THEN e.value END) AS recent_mean,
       CAST(SUM(CASE WHEN e.ts > b.prior_lo AND e.ts <= b.recent_lo
                     THEN CAST(e.value AS DECIMAL(18,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN e.ts > b.prior_lo AND e.ts <= b.recent_lo
                      THEN e.value END) AS prior_mean
FROM events e CROSS JOIN bounds b
GROUP BY e.event_type
""")
def a1_recent_prior_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """google_trends_crawler.py:71-72's iloc window means as conditional
    aggregation over time bounds (A1). AVG of doubles is order-dependent
    in theory; groups here are small — the domain-pipeline variant uses
    decimal. Bounds use timestamp arithmetic to match DuckDB INTERVAL."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max("ts").alias("max_ts")).select(
        "max_ts",
        (F.col("max_ts") - F.expr("INTERVAL 15 DAYS")).alias("recent_lo"),
        (F.col("max_ts") - F.expr("INTERVAL 30 DAYS")).alias("prior_lo"))
    v, t = F.col("value"), F.col("ts")
    dec = v.cast("decimal(18,2)")
    return (e.crossJoin(F.broadcast(bounds))
            .groupBy("event_type")
            .agg((F.sum(F.when(t > F.col("recent_lo"), dec)).cast("double")
                  / F.count(F.when(t > F.col("recent_lo"), v))).alias("recent_mean"),
                 (F.sum(F.when((t > F.col("prior_lo")) & (t <= F.col("recent_lo")),
                               dec)).cast("double")
                  / F.count(F.when((t > F.col("prior_lo")) & (t <= F.col("recent_lo")),
                                   v))).alias("prior_mean")))


# ---------------------------------------------------------------------------
# A2 — last value per key via max_by (no window sort)
# ---------------------------------------------------------------------------

@register("a2_last_value", """
SELECT user_id, max_by(value, ts) AS last_value, max(ts) AS last_ts
FROM events GROUP BY user_id
""")
def a2_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iloc[-1] per series (google_trends_crawler.py:94) — a single hash
    aggregate. ts is unique per user in the data; max_by is therefore
    deterministic."""
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy("user_id")
            .agg(F.max_by("value", "ts").alias("last_value"),
                 F.max("ts").alias("last_ts")))


# ---------------------------------------------------------------------------
# A5 — pivot to wide per-key record (explicit pivot values)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@register("a5_pivot_wide", f"""
SELECT user_id,
       {', '.join(
           f'''CAST(SUM(CAST(value AS DECIMAL(18,2)))
               FILTER (WHERE event_type = '{t}') AS DOUBLE) AS {t}_value'''
           for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
""")
def a5_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5's accumulate-by-key fold (exchage_rate_crawler.py:386-426) as
    groupBy().pivot() with explicit values — one pass, map-side partial
    aggregation intact."""
    e = load_table(spark, sf_dir, "events")
    wide = (e.groupBy("user_id")
            .pivot("event_type", _EVENT_TYPES)
            .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double")))
    renames = {t: f"{t}_value" for t in _EVENT_TYPES}
    return wide.withColumnsRenamed(renames)


# ---------------------------------------------------------------------------
# W2/O1 — top-k per group (k=3) with total ordering
# ---------------------------------------------------------------------------

@register("w2_top3_orders_per_customer", """
WITH ranked AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ranked WHERE rn <= 3
""")
def w2_top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return topk_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


# ---------------------------------------------------------------------------
# W3 — period-over-period growth with the reference's epsilon semantics
# ---------------------------------------------------------------------------

@register("w3_growth_epsilon", """
WITH monthly AS (
    SELECT event_type, date_trunc('month', ts) AS month_start,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS cur
    FROM events GROUP BY event_type, date_trunc('month', ts)
), with_prev AS (
    SELECT event_type, strftime(month_start, '%Y-%m') AS month,
           cur,
           lag(cur) OVER (PARTITION BY event_type ORDER BY month_start) AS prev
    FROM monthly
)
SELECT event_type, month, cur, prev,
       CASE WHEN prev > 0 THEN (cur - prev) / prev
            WHEN cur > 0 THEN cur / 0.000001
            ELSE 0.0 END AS growth
FROM with_prev
""")
def w3_growth_epsilon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: (cur-prev)/prev with the epsilon fallback (prev==0, cur>0 ->
    cur/1e-6) from google_trends_crawler.py:91-92. NULL prev (first
    month) -> 0.0 via the otherwise branch, matching the reference's
    'no prior data' path."""
    e = load_table(spark, sf_dir, "events")
    monthly = (e.groupBy("event_type", F.date_trunc("month", "ts").alias("month_start"))
               .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                    .alias("cur")))
    w = Window.partitionBy("event_type").orderBy("month_start")
    with_prev = monthly.select(
        "event_type", F.date_format("month_start", "yyyy-MM").alias("month"),
        "cur", F.lag("cur").over(w).alias("prev"))
    growth = (F.when(F.col("prev") > 0,
                     (F.col("cur") - F.col("prev")) / F.col("prev"))
              .when(F.col("cur") > 0, F.col("cur") / F.lit(1e-6))
              .otherwise(F.lit(0.0)))
    return with_prev.withColumn("growth", growth)


# ---------------------------------------------------------------------------
# W4 — unpivot wide -> long
# ---------------------------------------------------------------------------

@register("w4_unpivot", """
SELECT l_orderkey, l_linenumber, measure, value FROM (
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
)
""")
def w4_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (google_trends_crawler.py:77-124's wide->long loop) via the
    native unpivot — no shuffle, a generate-only plan."""
    li = load_table(spark, sf_dir, "lineitem")
    longf = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure", "value")
    return longf.withColumn(
        "measure", F.regexp_replace("measure", "^l_", ""))


# ---------------------------------------------------------------------------
# O2 — union-all of per-source frames (+ distinct survivors)
# ---------------------------------------------------------------------------

@register("o2_union_all", """
SELECT event_type, COUNT(*) AS n FROM (
    SELECT event_type FROM events WHERE event_type IN ('click', 'view')
    UNION ALL
    SELECT event_type FROM events WHERE value > 100
) GROUP BY event_type
""")
def o2_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.concat analogue (O2, _archive/function_app.py:182-183):
    unionByName of independently-filtered frames."""
    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type").isin("click", "view")).select("event_type")
    b = e.filter(F.col("value") > 100).select("event_type")
    return a.unionByName(b).groupBy("event_type").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Set ops — intersect / except (capability matrix §2.6)
# ---------------------------------------------------------------------------

@register("setop_intersect_except", """
SELECT 'both' AS side, n_nationkey FROM (
    SELECT c_nationkey AS n_nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'customer_only', n_nationkey FROM (
    SELECT c_nationkey AS n_nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
)
""")
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey"))
    both = c.intersect(s).withColumn("side", F.lit("both"))
    only = c.subtract(s).withColumn("side", F.lit("customer_only"))
    return both.unionByName(only).select("side", "n_nationkey")


# ---------------------------------------------------------------------------
# Rollup (capability matrix §2.4 — grouping sets family)
# ---------------------------------------------------------------------------

@register("rollup_revenue", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(dec_sum("l_extendedprice", "revenue"),
                 F.count("*").alias("n")))


# ---------------------------------------------------------------------------
# Ranking family — lag / lead / rank over per-customer order history
# ---------------------------------------------------------------------------

@register("w_rank_lag_lead", """
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC,
                    o_orderkey ASC) AS price_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""")
def w_rank_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    seq = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    rnk = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lag("o_totalprice").over(seq).alias("prev_price"),
        F.lead("o_totalprice").over(seq).alias("next_price"),
        F.rank().over(rnk).alias("price_rank"))


# ---------------------------------------------------------------------------
# Sessionization (batch twin of streaming session_window)
# ---------------------------------------------------------------------------

@register("sessionize_events", """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS session_end_epoch,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_seq
""")
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap 30 min). Epoch seconds (truncated) keep
    the oracle hash clean of timestamp-rendering differences."""
    e = load_table(spark, sf_dir, "events")
    sessions = sessionize(e, "user_id", "ts", gap_minutes=30)
    return sessions.select(
        "user_id", "session_seq",
        F.col("session_start").cast("long").alias("session_start_epoch"),
        F.col("session_end").cast("long").alias("session_end_epoch"),
        "n_events")


# ---------------------------------------------------------------------------
# RANGE window frame — trailing ONE HOUR of events per user (value-
# range frame over epoch seconds, peers included): the time-window
# analytic that needs no explode and no self-join.
# ---------------------------------------------------------------------------

@register("trailing_hour_range_window", """
WITH base AS (
    SELECT event_id, user_id, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS sec
    FROM events
)
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_events_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""")
def trailing_hour_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: count/sum of the same user's events in the trailing
    hour — a RANGE frame over epoch seconds. One shuffle on user_id;
    state per partition is the frame, not the history."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "user_id", "value",
                    F.floor(F.unix_timestamp("ts")).cast("long").alias("sec"))
    w = (Window.partitionBy("user_id").orderBy("sec")
         .rangeBetween(-3600, Window.currentRow))
    return base.select(
        "event_id", "user_id",
        F.count("*").over(w).alias("n_events_1h"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w)
         .cast("double").alias("sum_1h"))


# ---------------------------------------------------------------------------
# FULL OUTER reconciliation — hourly click vs purchase activity;
# one-sided hours surface with nulls on the absent side (the ledger-
# reconciliation join shape).
# ---------------------------------------------------------------------------

@register("full_outer_hourly_reconciliation", """
WITH clicks AS (
    SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_clicks
    FROM events WHERE event_type = 'click' GROUP BY 1
),
purchases AS (
    SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_purchases
    FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT CAST(epoch(COALESCE(c.h, p.h)) AS BIGINT) AS hour_epoch,
       c.n_clicks, p.n_purchases,
       (c.h IS NULL OR p.h IS NULL) AS one_sided
FROM clicks c FULL OUTER JOIN purchases p ON c.h = p.h
""")
def full_outer_hourly_reconciliation(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = lambda t, alias: (  # noqa: E731
        e.filter(F.col("event_type") == t)
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias(alias)))
    c, p = hourly("click", "n_clicks"), hourly("purchase", "n_purchases")
    joined = c.withColumnRenamed("h", "ch").join(
        p.withColumnRenamed("h", "ph"),
        F.col("ch") == F.col("ph"), "full_outer")
    return joined.select(
        F.unix_timestamp(F.coalesce("ch", "ph")).alias("hour_epoch"),
        "n_clicks", "n_purchases",
        (F.col("ch").isNull() | F.col("ph").isNull()).alias("one_sided"))


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4.x WITH RECURSIVE): hierarchy walk with
# root/depth/path over a deterministic forest on nation keys
# (parent(n) = n DIV 2 — synthetic edges, real table).
# ---------------------------------------------------------------------------

@register("recursive_nation_hierarchy", """
WITH RECURSIVE tree(n_nationkey, n_name, root, depth, path) AS (
    SELECT n_nationkey, n_name, n_nationkey AS root, 0 AS depth,
           CAST(n_name AS VARCHAR) AS path
    FROM nation WHERE n_nationkey < 2
    UNION ALL
    SELECT c.n_nationkey, c.n_name, t.root, t.depth + 1,
           t.path || '>' || c.n_name
    FROM nation c JOIN tree t ON c.n_nationkey // 2 = t.n_nationkey
    WHERE c.n_nationkey >= 2
)
SELECT n_nationkey, n_name, root, CAST(depth AS INT) AS depth, path
FROM tree
""")
def recursive_nation_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive hierarchy walk via WITH RECURSIVE (iterative in both
    engines — Spark unions per-level frames under AQE, no driver loop).
    The capability the reference's per-row dict walks could never
    express declaratively."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql("""
    WITH RECURSIVE tree(n_nationkey, n_name, root, depth, path) AS (
        SELECT n_nationkey, n_name, n_nationkey AS root, 0 AS depth,
               CAST(n_name AS STRING) AS path
        FROM nation WHERE n_nationkey < 2
        UNION ALL
        SELECT c.n_nationkey, c.n_name, t.root, t.depth + 1,
               CONCAT(t.path, '>', c.n_name)
        FROM nation c JOIN tree t ON c.n_nationkey DIV 2 = t.n_nationkey
        WHERE c.n_nationkey >= 2
    )
    SELECT n_nationkey, n_name, root, CAST(depth AS INT) AS depth, path
    FROM tree
    """)


# ---------------------------------------------------------------------------
# SCD2 — type-2 history of each user's event_type (gaps-and-islands;
# the transformation behind the versioned gold layer,
# sources/versioned.py + operators/windows.scd2_collapse)
# ---------------------------------------------------------------------------

@register("scd2_event_type_history", """
WITH flagged AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
    SELECT user_id, event_type, ts,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
), ranges AS (
    SELECT user_id, MAX(event_type) AS event_type,
           MIN(ts) AS valid_from
    FROM islands GROUP BY user_id, island
)
SELECT user_id, event_type,
       CAST(epoch_us(valid_from) AS BIGINT) AS valid_from_us,
       CAST(epoch_us(lead(valid_from)
            OVER (PARTITION BY user_id ORDER BY valid_from)) AS BIGINT)
         AS valid_to_us,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
         IS NULL AS is_current
FROM ranges
""")
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 collapse of each user's event_type stream into validity
    ranges — the transformation that feeds the versioned gold table
    (K5; storage side tested in tests/test_versioned.py). Micros keep
    the hash clean of timestamp rendering."""
    from travel_data_pipeline_spark.operators.windows import scd2_collapse

    e = load_table(spark, sf_dir, "events")
    out = scd2_collapse(e, "user_id", "event_type", "ts",
                        tiebreak=("event_id",))
    return out.select(
        "user_id", "event_type",
        F.unix_micros(F.col("valid_from").cast("timestamp"))
         .alias("valid_from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp"))
         .alias("valid_to_us"),
        "is_current")


# ---------------------------------------------------------------------------
# Tumbling time-window aggregation (batch form of T1/T5 windows)
# ---------------------------------------------------------------------------

@register("tumbling_hourly", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_bucket,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""")
def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch spelling of the streaming tumbling window (window(ts,'1
    hour')); streaming/jobs.py runs the same agg with a watermark."""
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00")
                 .alias("hour_bucket"),
                "event_type")
            .agg(F.count("*").alias("n"),
                 dec_sum("value", "total_value")))


# ---------------------------------------------------------------------------
# X19 — JSON decode of the props column (from_json on an event stream hop)
# ---------------------------------------------------------------------------

@register("x19_json_extract", """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
""")
def x19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 (json.loads on consume, google_trends_processor.py:109-110):
    schema'd from_json so violations become nulls, not KeyErrors."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_id",
        F.from_json("props", "struct<k:bigint>").getField("k").alias("k_value"))
    return parsed.filter(F.col("k_value").isNotNull())


# ---------------------------------------------------------------------------
# W1 — rolling row-frame mean (the reference's trailing-observation
# window in its rolling form, google_trends_crawler.py:71-72)
# ---------------------------------------------------------------------------

@register("w1_rolling_mean", """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER w AS DOUBLE) / COUNT(value) OVER w AS rolling_mean_15,
       COUNT(value) OVER w AS window_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
""")
def w1_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts").rowsBetween(-14, 0))
    return e.select(
        "user_id", "event_id",
        (F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
         / F.count("value").over(w)).alias("rolling_mean_15"),
        F.count("value").over(w).alias("window_n"))


# ---------------------------------------------------------------------------
# As-of join — nearest order at-or-before each event (SURVEY.md §2.3's
# flagged natural extension; scalable union+window form, no range blowup)
# ---------------------------------------------------------------------------

@register("asof_last_order", """
WITH quotes AS (
    SELECT o_custkey, o_orderdate,
           MAX(o_orderkey) AS last_orderkey,
           MAX_BY(o_totalprice, o_orderkey) AS last_totalprice
    FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, q.last_orderkey, q.last_totalprice
FROM events e LEFT JOIN LATERAL (
    SELECT last_orderkey, last_totalprice
    FROM quotes q
    WHERE q.o_custkey = e.user_id AND q.o_orderdate <= e.ts
    ORDER BY q.o_orderdate DESC LIMIT 1
) q ON TRUE
""")
def asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of semantics via union + last(ignorenulls) window — one shuffle
    on the key, versus the oracle's per-row LATERAL probe. Quotes are
    pre-deduped to one per (custkey, orderdate) so the at-or-before pick
    is total-ordered and deterministic."""
    from travel_data_pipeline_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id"), "ts")
    quotes = (load_table(spark, sf_dir, "orders")
              .groupBy(F.col("o_custkey").alias("user_id"),
                       F.col("o_orderdate"))
              .agg(F.max("o_orderkey").alias("last_orderkey"),
                   F.max_by("o_totalprice", "o_orderkey")
                    .alias("last_totalprice")))
    out = asof_join(e, quotes, "user_id", "ts", "o_orderdate",
                    ["last_orderkey", "last_totalprice"])
    return out.select("event_id", "user_id", "last_orderkey", "last_totalprice")


# ---------------------------------------------------------------------------
# Tolerance-bounded as-of: previous order of the SAME customer within
# 180 days (strictly before). The named variant pandas spells
# merge_asof(tolerance=...) / kdb spells wj with a window — nearest
# match discarded when staler than the bound. Equivalence note: the
# overall nearest-before either satisfies the bound (keep) or nothing
# closer exists (null), so post-filtering the asof pick == probing with
# the bound, and the oracle probes while the engine post-filters.
# ---------------------------------------------------------------------------

_ASOF_TOL_DAYS = 180


@register("asof_prev_order_tolerance", f"""
WITH days AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
           MAX(o_orderkey) AS day_orderkey
    FROM orders GROUP BY 1, 2
)
SELECT d.o_custkey, d.day_orderkey AS o_orderkey,
       COALESCE(p.day_orderkey, -1) AS prev_orderkey,
       COALESCE(CAST(date_diff('day', p.day, d.day) AS BIGINT), -1)
         AS gap_days
FROM days d LEFT JOIN LATERAL (
    SELECT day, day_orderkey
    FROM days p
    WHERE p.o_custkey = d.o_custkey AND p.day < d.day
      AND p.day >= d.day - INTERVAL {_ASOF_TOL_DAYS} DAY
    ORDER BY p.day DESC LIMIT 1
) p ON TRUE
""")
def asof_prev_order_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-before as-of self-join with a 180-day tolerance: each
    order day finds the customer's previous order day, nulled (-1)
    when the gap exceeds the bound.

    One shuffle on the customer key (union + window carry-forward; the
    quote side is the same deduped relation) and a post-filter for the
    bound — no range-join explosion at any scale."""
    from travel_data_pipeline_spark.operators.joins import asof_join

    days = (load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey",
                     F.col("o_orderdate").cast("date").alias("day"))
            .agg(F.max("o_orderkey").alias("day_orderkey")))
    quotes = days.select("o_custkey",
                         F.col("day").alias("q_day"),
                         F.col("day_orderkey").alias("q_orderkey"))
    picked = asof_join(days, quotes, "o_custkey", "day", "q_day",
                       ["q_day", "q_orderkey"], strict=True)
    gap = F.datediff(F.col("day"), F.col("q_day"))
    in_tol = F.col("q_day").isNotNull() & (gap <= _ASOF_TOL_DAYS)
    return picked.select(
        "o_custkey", F.col("day_orderkey").alias("o_orderkey"),
        F.when(in_tol, F.col("q_orderkey")).otherwise(-1)
         .alias("prev_orderkey"),
        F.when(in_tol, gap.cast("long")).otherwise(-1).alias("gap_days"))


# ---------------------------------------------------------------------------
# X5-X8 — date/time helper suite
# ---------------------------------------------------------------------------

@register("x_date_suite", """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y%m%d') AS yyyymmdd,
       strftime(o_orderdate, '%Y-%m-%d') AS iso_date,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(date_trunc('year', o_orderdate), '%Y-%m-%d') AS year_start,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d')
         AS plus_3m
FROM orders
""")
def x_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        X.fmt_yyyymmdd(d).alias("yyyymmdd"),
        X.fmt_iso_date(d).alias("iso_date"),
        X.fmt_iso_date(X.first_day_of_month(d)).alias("month_start"),
        X.fmt_iso_date(X.first_day_of_year(d)).alias("year_start"),
        X.fmt_iso_date(X.last_day_of_month(d)).alias("month_end"),
        X.month_of(d).alias("order_month"),
        X.fmt_iso_date(F.add_months(d, 3)).alias("plus_3m"))


# ---------------------------------------------------------------------------
# Equi-width histogram via width_bucket — distribution reporting with
# ONE aggregation pass (bucket id is a row-local expression; the
# groupBy key is a small int, perfectly distributable). Bounds are
# fixed by contract (not a pre-scan), the form a monitoring job wants.
# ---------------------------------------------------------------------------

@register("histogram_order_values", """
SELECT CASE WHEN o_totalprice < 0.0 THEN 0
            WHEN o_totalprice >= 600000.0 THEN 13
            ELSE CAST(floor((o_totalprice - 0.0)
                            / ((600000.0 - 0.0) / 12)) AS INT) + 1
       END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 2) AS lo,
       ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 2) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY 1
""")
def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound 12-bucket histogram of order values. width_bucket is
    identical in Spark and DuckDB (ANSI); out-of-range rows land in the
    0 / n+1 overflow buckets by the same rule."""
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.width_bucket("o_totalprice", F.lit(0.0),
                                     F.lit(600000.0), F.lit(12))
                       .cast("int").alias("bucket"))
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.min("o_totalprice").cast("double"), 2).alias("lo"),
                 F.round(F.max("o_totalprice").cast("double"), 2).alias("hi"),
                 dec_sum("o_totalprice", "total")))


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM) — the semantic
# corner where NULL keys MATCH each other instead of dropping. Built
# over events' nullable json props key so real NULLs participate.
# ---------------------------------------------------------------------------

@register("nullsafe_join_props", """
WITH keyed AS (
    SELECT event_id, user_id,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 10 = 0
                THEN NULL
                ELSE CAST(json_extract_string(props, '$.k') AS INT) % 3
           END AS k
    FROM events
),
dim AS (
    SELECT * FROM (VALUES (0, 'zero'), (1, 'one'), (2, 'two'),
                          (NULL, 'missing')) AS t(k, label)
)
SELECT e.event_id, e.user_id, e.k, d.label
FROM keyed e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
""")
def nullsafe_join_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eqNullSafe join: rows whose extracted key is NULL still match the
    NULL dim row (the 'missing' label) — a plain equi-join silently
    drops them. Dim is a 3-row literal -> broadcast."""
    ev = load_table(spark, sf_dir, "events")
    raw_k = F.get_json_object("props", "$.k").cast("int")
    keyed = ev.select(
        "event_id", "user_id",
        F.when(raw_k % 10 == 0, F.lit(None)).otherwise(raw_k % 3)
         .cast("int").alias("k"))
    dim = local_relation(
        ev.sparkSession,
        [(0, "zero"), (1, "one"), (2, "two"), (None, "missing")],
        "k int, label string")
    return (keyed.join(F.broadcast(dim),
                       keyed["k"].eqNullSafe(dim["k"]))
            .select("event_id", "user_id", keyed["k"].alias("k"), "label"))


# ---------------------------------------------------------------------------
# Join-key skew report — the diagnostic that decides whether a join
# needs salting/AQE-skew handling: heaviest keys with their share of
# all rows and skew factor vs the mean group size. Global top-k uses
# orderBy+limit (Spark plans TakeOrderedAndProject: per-partition
# partial top-k merged on one tiny reduce — NOT a single-reducer
# global window sort). Totals ride a 1-row broadcast.
# ---------------------------------------------------------------------------

@register("skew_report_partkeys", """
WITH counts AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS tot_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM counts
),
top AS (
    SELECT l_partkey, n FROM counts
    ORDER BY n DESC, l_partkey LIMIT 10
)
SELECT t.l_partkey, t.n,
       ROUND(t.n / x.tot_rows, 6) AS row_share,
       ROUND(t.n / (x.tot_rows / x.n_keys), 4) AS skew_factor
FROM top t, tot x
""")
def skew_report_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("tot_rows"),
                     F.count("*").alias("n_keys"))
    top = counts.orderBy(F.desc("n"), "l_partkey").limit(10)
    return top.crossJoin(F.broadcast(tot)).select(
        "l_partkey", "n",
        F.round(F.col("n") / F.col("tot_rows"), 6).alias("row_share"),
        F.round(F.col("n") / (F.col("tot_rows") / F.col("n_keys")), 4)
         .alias("skew_factor"))


# ---------------------------------------------------------------------------
# Strictly-ordered funnel: first view -> first click within 1 day AFTER
# it -> first purchase within 1 day after THAT, per user; one summary
# row of stage counts +
# conversion rates. Three word-count-shaped aggregations on user_id —
# after the first shuffle the later groupBys and same-key joins reuse
# the hash partitioning (no re-exchange); the stage summaries are
# 1-row broadcasts. No per-user event arrays are ever materialized.
# ---------------------------------------------------------------------------

@register("funnel_view_click_purchase", """
WITH v AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t1
      AND e.ts <= v.t1 + INTERVAL 1 DAY GROUP BY 1
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
      AND e.ts <= c.t2 + INTERVAL 1 DAY GROUP BY 1
)
SELECT vv.viewed, cc.clicked, pp.purchased,
       CAST(round(CAST(format('{}', cc.clicked / vv.viewed) AS DECIMAL(38,18)), 6) AS DOUBLE) AS view_to_click,
       CAST(round(CAST(format('{}', pp.purchased / cc.clicked) AS DECIMAL(38,18)), 6) AS DOUBLE) AS click_to_purchase,
       CAST(round(CAST(format('{}', pp.purchased / vv.viewed) AS DECIMAL(38,18)), 6) AS DOUBLE) AS full_funnel
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS viewed FROM v) vv,
     (SELECT CAST(COUNT(*) AS BIGINT) AS clicked FROM c) cc,
     (SELECT CAST(COUNT(*) AS BIGINT) AS purchased FROM p) pp
""")
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter((F.col("ts") > F.col("t1"))
                 & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 DAY")))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") > F.col("t2"))
                 & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 1 DAY")))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    vv = v.agg(F.count("*").alias("viewed"))
    cc = c.agg(F.count("*").alias("clicked"))
    pp = p.agg(F.count("*").alias("purchased"))
    return (vv.crossJoin(F.broadcast(cc)).crossJoin(F.broadcast(pp))
            .select(
                "viewed", "clicked", "purchased",
                F.round(F.col("clicked") / F.col("viewed"), 6)
                 .alias("view_to_click"),
                F.round(F.col("purchased") / F.col("clicked"), 6)
                 .alias("click_to_purchase"),
                F.round(F.col("purchased") / F.col("viewed"), 6)
                 .alias("full_funnel")))


# ---------------------------------------------------------------------------
# Sliding (overlapping) time windows — batch spelling of the streaming
# sliding aggregate; each event lands in ceil(window/slide) = 2 buckets.
# ---------------------------------------------------------------------------

@register("sliding_hourly_counts", """
WITH buckets AS (
    SELECT e.event_type, e.value,
           (epoch_us(e.ts) // 1800000000 - s.s) * 1800 AS start_s
    FROM events e, unnest([0, 1]) s(s)
    WHERE epoch_us(e.ts) // 1800000000 - s.s >= 0
)
SELECT strftime(to_timestamp(start_s), '%Y-%m-%d %H:%M') AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM buckets GROUP BY 1, 2
""")
def sliding_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (window/slide = 2
    buckets per event). Spark's window() replicates each row into its
    overlapping windows BEFORE the shuffle — the oracle spells the
    same replication with integer epoch arithmetic (floor to the
    30-minute grid, minus 0 or 1 slide steps), so bucket membership is
    exact on both engines. Streaming twin: jobs.sliding_means."""
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                      "event_type")
            .agg(F.count("*").alias("n"),
                 dec_sum("value", "total_value"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm")
                    .alias("window_start"),
                    "event_type", "n", "total_value"))


# ---------------------------------------------------------------------------
# posexplode_outer null semantics — empty collections keep their row.
# ---------------------------------------------------------------------------

@register("sentence_explode_outer", """
WITH sents AS (
    SELECT doc_id,
           list_filter(string_split(text, '. '), s -> trim(s) <> '')
               AS ss
    FROM documents
),
padded AS (
    SELECT doc_id,
           CASE WHEN len(ss) = 0
                THEN [{'i': CAST(NULL AS INT), 's': CAST(NULL AS VARCHAR)}]
                ELSE list_transform(generate_series(1, len(ss)),
                                    i -> {'i': CAST(i - 1 AS INT),
                                          's': ss[i]})
           END AS entries
    FROM sents
)
SELECT doc_id, e.i AS sentence_idx,
       CAST(length(e.s) AS INT) AS n_chars
FROM (SELECT doc_id, unnest(entries) AS e FROM padded)
""")
def sentence_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer over per-doc sentence lists: docs whose split
    yields nothing still emit one (doc_id, NULL, NULL) row — the outer
    explode contract that keeps empty parents visible to downstream
    LEFT-join accounting (losing them is the classic silent-drop bug
    explode() invites). The oracle pads empty lists with a NULL entry
    to express the same semantics relationally."""
    docs = load_table(spark, sf_dir, "documents")
    sents = docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), r"\. "),
                 lambda s: F.trim(s) != "").alias("ss"))
    return (sents.select(
        "doc_id", F.posexplode_outer("ss").alias("sentence_idx", "s"))
        .select("doc_id",
                F.col("sentence_idx").cast("int").alias("sentence_idx"),
                F.length("s").cast("int").alias("n_chars")))


# ---------------------------------------------------------------------------
# Winsorized means — percentile clipping, decimal-exact after the clip.
# ---------------------------------------------------------------------------

@register("winsorized_mean_by_type", """
WITH cuts AS (
    SELECT event_type,
           round(quantile_cont(value, 0.05), 6) AS lo,
           round(quantile_cont(value, 0.95), 6) AS hi
    FROM events GROUP BY event_type
),
clipped AS (
    SELECT e.event_type,
           CAST(greatest(c.lo, least(c.hi, e.value)) AS DECIMAL(18,6)) AS v,
           CASE WHEN e.value < c.lo THEN 1 ELSE 0 END AS clip_lo,
           CASE WHEN e.value > c.hi THEN 1 ELSE 0 END AS clip_hi
    FROM events e JOIN cuts c USING (event_type)
)
SELECT event_type, COUNT(*) AS n,
       round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS win_mean,
       CAST(SUM(clip_lo) AS BIGINT) AS n_clip_lo,
       CAST(SUM(clip_hi) AS BIGINT) AS n_clip_hi
FROM clipped GROUP BY event_type
""")
def winsorized_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clipped) mean per event type — the robust
    alternative to trimming that keeps n constant. Cut points round to
    6 dp on both engines; every clipped value then has <= 6 decimals,
    so the sum accumulates EXACTLY in DECIMAL(18,6) — the decimal-
    exactness discipline survives percentile clipping. Two grouped
    aggregates over the tiny type key, cuts broadcast back."""
    e = load_table(spark, sf_dir, "events")
    cuts = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"))
    clipped = (e.join(F.broadcast(cuts), "event_type")
               .select("event_type",
                       F.greatest("lo", F.least("hi", F.col("value")))
                        .cast("decimal(18,6)").alias("v"),
                       F.when(F.col("value") < F.col("lo"), 1).otherwise(0)
                        .alias("clip_lo"),
                       F.when(F.col("value") > F.col("hi"), 1).otherwise(0)
                        .alias("clip_hi")))
    return (clipped.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("v").cast("double") / F.count("*"), 6)
                  .alias("win_mean"),
                 F.sum("clip_lo").alias("n_clip_lo"),
                 F.sum("clip_hi").alias("n_clip_hi")))


# ---------------------------------------------------------------------------
# Data-quality constraint suite — dbt-style checks as one relation.
# ---------------------------------------------------------------------------

@register("dq_constraint_violations", """
SELECT 'orders_pk_unique' AS check_name,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'orders_fk_customer',
       CAST(COUNT(*) AS BIGINT)
FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'orders_totalprice_not_null',
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_totalprice_positive',
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
""")
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite as data: primary-key uniqueness, two foreign
    keys (broadcast anti joins), not-null and range checks — one row
    per check with its violation count, the relation a pipeline gate
    alerts on. Each check is a single aggregate or anti-join count; at
    scale the FK anti joins broadcast the dim side and the rest are
    map-side counters."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def one(name: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(F.lit(name).alias("check_name"),
                          F.col("n").cast("long").alias("n_violations"))

    checks = [
        one("orders_pk_unique",
            o.agg((F.count("*") - F.countDistinct("o_orderkey")).alias("n"))),
        one("orders_fk_customer",
            anti(o, F.broadcast(c), o.o_custkey == c.c_custkey)
            .agg(F.count("*").alias("n"))),
        one("orders_totalprice_not_null",
            o.agg(F.sum(F.when(F.col("o_totalprice").isNull(), 1)
                        .otherwise(0)).alias("n"))),
        one("orders_totalprice_positive",
            o.agg(F.sum(F.when(F.col("o_totalprice") <= 0, 1)
                        .otherwise(0)).alias("n"))),
        one("lineitem_fk_orders",
            anti(li, o, li.l_orderkey == o.o_orderkey)
            .agg(F.count("*").alias("n"))),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out


# ---------------------------------------------------------------------------
# Percent-of-total (ratio_to_report) via partitioned window sums.
# ---------------------------------------------------------------------------

@register("revenue_share_within_region", """
WITH nat AS (
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS nation_rev
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name, nation_rev,
       CAST(round(CAST(format('{}', nation_rev / SUM(nation_rev) OVER (PARTITION BY r_name)) AS DECIMAL(38,18)), 6) AS DOUBLE)
           AS region_share
FROM nat
""")
def revenue_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratio_to_report: each nation's share of its region's revenue.
    The grouped decimal sum is exact, so the window denominator (a sum
    of a few already-exact doubles per region — 25 nations max) is
    deterministic; one shuffle for the group-by, the window reuses the
    region grain without re-shuffling the fact."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nat = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy("r_name", "n_name")
           .agg(dec_sum("o_totalprice", "nation_rev")))
    w = Window.partitionBy("r_name")
    return nat.select(
        "r_name", "n_name", "nation_rev",
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w), 6)
         .alias("region_share"))


# ---------------------------------------------------------------------------
# Retention cohorts — first-seen week x activity-week offsets.
# ---------------------------------------------------------------------------

@register("retention_cohorts", """
WITH firsts AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id, f.cohort_week,
           CAST(date_diff('week', f.cohort_week,
                          date_trunc('week', e.ts)) AS INT) AS week_offset
    FROM events e JOIN firsts f USING (user_id)
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       week_offset,
       COUNT(*) AS n_active_users
FROM activity GROUP BY 1, 2
""")
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week,
    counted once per (cohort, week-offset) they were active in — the
    product-analytics staple. Two grouped aggregates on user_id (the
    firsts relation broadcasts back onto the fact); offsets are exact
    integer week diffs."""
    e = load_table(spark, sf_dir, "events")
    firsts = (e.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    activity = (e.join(F.broadcast(firsts), "user_id")
                .select("user_id", "cohort_week",
                        (F.datediff(F.date_trunc("week", "ts"),
                                    F.col("cohort_week")) / 7)
                        .cast("int").alias("week_offset"))
                .distinct())
    return (activity.groupBy(
                F.date_format("cohort_week", "yyyy-MM-dd")
                 .alias("cohort_week"), "week_offset")
            .agg(F.count("*").alias("n_active_users")))


# ---------------------------------------------------------------------------
# Event-transition matrix — per-user Markov transition counts.
# ---------------------------------------------------------------------------

@register("event_transition_matrix", """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       COUNT(*) AS n,
       CAST(round(CAST(format('{}', COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY event_type)) AS DECIMAL(38,18)), 6) AS DOUBLE)
           AS p
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""")
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    consecutive event types per user (lead over the (ts, event_id)
    total order). One shuffle on user_id for the sequence window; the
    |types|^2 transition matrix and its row-normalizing window are
    effectively free. The probability denominator sums exact integer
    counts, so p is deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type",
                   F.lead("event_type").over(w).alias("next_type"))
    counts = (seq.filter(F.col("next_type").isNotNull())
              .groupBy(F.col("event_type").alias("from_type"),
                       F.col("next_type").alias("to_type"))
              .agg(F.count("*").alias("n")))
    wt = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p"))


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sequence detection: every CONSECUTIVE
# view -> click -> purchase run per user (adjacent in the user's
# ordered stream, completing within 7 days). The funnel above
# counts stage survivors; this emits each concrete match — the
# ROW_PATTERN shape Flink CEP / Snowflake MATCH_RECOGNIZE cover and
# Spark spells as lead() over a per-key window.
# ---------------------------------------------------------------------------

@register("event_pattern_match", """
WITH seq AS (
    SELECT user_id, event_id, ts, event_type,
           lead(event_type, 1) OVER w AS t1,
           lead(event_type, 2) OVER w AS t2,
           lead(ts, 2) OVER w AS ts2
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id AS start_event_id,
       CAST(epoch_us(ts) AS BIGINT) AS start_us,
       CAST(epoch_us(ts2) AS BIGINT) AS end_us,
       CAST(epoch_us(ts2) - epoch_us(ts) AS BIGINT) AS duration_us
FROM seq
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
  AND epoch_us(ts2) - epoch_us(ts) <= 604800000000
""")
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive view->click->purchase runs per user within 7 days
    (the synthetic stream is sparse: per-user inter-event gaps are hours).

    Scale shape: ONE shuffle on user_id, then a single window pass
    computing two leads — no self-joins, no per-user arrays; the
    pattern predicate is a plain filter, so at 100 TB this is a sort
    within partitions plus a streaming scan (same cost class as
    sessionize)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    us2 = F.unix_micros(F.col("ts2").cast("timestamp"))
    seq = e.select(
        "user_id", "event_id", "ts", "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts", 2).over(w).alias("ts2"))
    return (seq.filter((F.col("event_type") == "view")
                       & (F.col("t1") == "click")
                       & (F.col("t2") == "purchase")
                       & (us2 - us <= 7 * 86400 * 1_000_000))
            .select("user_id",
                    F.col("event_id").alias("start_event_id"),
                    us.alias("start_us"),
                    us2.alias("end_us"),
                    (us2 - us).alias("duration_us")))


# ---------------------------------------------------------------------------
# Last-click attribution — every purchase attributed to the user's most
# recent PRIOR click within 7 days, spelled as a single window pass
# (the as-of-join semantics without a join: running max of click-time
# over the interleaved per-user stream).
# ---------------------------------------------------------------------------

@register("attribution_last_click", """
WITH stream AS (
    SELECT user_id, event_id, ts, event_type,
           MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS last_click_us
    FROM events
)
SELECT user_id, event_id AS purchase_event_id,
       CAST(epoch_us(ts) AS BIGINT) AS purchase_us,
       CAST(last_click_us AS BIGINT) AS click_us,
       CAST(epoch_us(ts) - last_click_us AS BIGINT) AS lag_us
FROM stream
WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
  AND epoch_us(ts) - last_click_us <= 604800000000
""")
def attribution_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases attributed to the latest prior click within 7 days.

    Scale shape: the naive spelling is an as-of self-join of purchases
    against clicks; this one is a SINGLE window pass over the
    interleaved per-user stream (running conditional max), so the cost
    is one user_id shuffle + an in-partition sort — the same class as
    sessionize, with no second events scan and no join at all."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    stream = e.select(
        "user_id", "event_id", "ts", "event_type",
        F.max(F.when(F.col("event_type") == "click", us)).over(w)
         .alias("click_us"))
    return (stream.filter((F.col("event_type") == "purchase")
                          & F.col("click_us").isNotNull()
                          & (us - F.col("click_us") <= 604_800_000_000))
            .select("user_id",
                    F.col("event_id").alias("purchase_event_id"),
                    us.alias("purchase_us"),
                    "click_us",
                    (us - F.col("click_us")).alias("lag_us")))


# ---------------------------------------------------------------------------
# Top-N + OTHER rollup — the reporting classic: name the top-5 nations
# by revenue, collapse the long tail into one OTHER row so the output
# is fixed-size no matter how many categories exist. Rank ties break
# on the nation name so the grouping is deterministic.
# ---------------------------------------------------------------------------

_TOPN_OTHER = 5


@register("topn_other_nations_revenue", f"""
WITH rev AS (
    SELECT n.n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
),
ranked AS (
    SELECT n_name, revenue,
           row_number() OVER (ORDER BY revenue DESC, n_name) AS rk
    FROM rev
)
SELECT CASE WHEN rk <= {_TOPN_OTHER} THEN n_name ELSE 'OTHER' END AS label,
       CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_nations
FROM ranked
GROUP BY 1
""")
def topn_other_nations_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nations by order revenue plus a single OTHER tail row.

    The heavy work is one fact aggregation (decimal, exact); ranking
    and the OTHER collapse run on the 25-row nation rollup — free at
    any scale."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    rev = (orders.join(F.broadcast(cust),
                       orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("n_name")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").alias("revenue")))
    w = Window.orderBy(F.col("revenue").desc(), "n_name")
    ranked = rev.withColumn("rk", F.row_number().over(w))
    return (ranked.groupBy(
        F.when(F.col("rk") <= _TOPN_OTHER, F.col("n_name"))
         .otherwise("OTHER").alias("label"))
        .agg(F.sum(F.col("revenue").cast("decimal(18,2)"))
             .cast("double").alias("revenue"),
             F.count("*").alias("n_nations")))


# ---------------------------------------------------------------------------
# Top-k movers — week-over-week heavy-hitter change detection: rank
# parts by revenue in the first and second half of the order history
# and report the largest rank climbs/falls among parts that are top-50
# in either half. The reporting twin of drift detection: PSI says THE
# DISTRIBUTION moved, this names WHO moved.
# ---------------------------------------------------------------------------

_MOVER_TOPK = 50


@register("topk_movers_parts", f"""
WITH halves AS (
    SELECT l_partkey,
           CASE WHEN o.o_orderdate < TIMESTAMP '1998-05-01'
                THEN 'h1' ELSE 'h2' END AS half,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT l_partkey, half, revenue,
           row_number() OVER (PARTITION BY half
                              ORDER BY revenue DESC, l_partkey) AS rk
    FROM halves
),
wide AS (
    SELECT l_partkey,
           min(CASE WHEN half = 'h1' THEN rk END) AS rk1,
           min(CASE WHEN half = 'h2' THEN rk END) AS rk2
    FROM ranked GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(COALESCE(rk1, -1) AS BIGINT) AS rank_h1,
       CAST(COALESCE(rk2, -1) AS BIGINT) AS rank_h2,
       CAST(CASE WHEN rk1 IS NULL OR rk2 IS NULL THEN NULL
                 ELSE rk1 - rk2 END AS BIGINT) AS rank_climb
FROM wide
WHERE COALESCE(rk1, 999999999) <= {_MOVER_TOPK}
   OR COALESCE(rk2, 999999999) <= {_MOVER_TOPK}
""")
def topk_movers_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank delta of part revenue between the two halves of the order
    history, restricted to parts top-50 in either half.

    One fact aggregation per (part, half) — a single shuffle on the
    part key — then ranking and the movers filter run on the rollup.
    Rank ties break on the part key so both engines agree."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    halves = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .groupBy("l_partkey",
                       F.when(F.col("o_orderdate")
                              < F.lit("1998-05-01").cast("timestamp"), "h1")
                        .otherwise("h2").alias("half"))
              .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                   .cast("double").alias("revenue")))
    w = Window.partitionBy("half").orderBy(F.col("revenue").desc(),
                                           "l_partkey")
    ranked = halves.withColumn("rk", F.row_number().over(w))
    wide = (ranked.groupBy("l_partkey")
            .agg(F.min(F.when(F.col("half") == "h1", F.col("rk")))
                 .alias("rk1"),
                 F.min(F.when(F.col("half") == "h2", F.col("rk")))
                 .alias("rk2")))
    return (wide.filter(
        (F.coalesce("rk1", F.lit(999999999)) <= _MOVER_TOPK)
        | (F.coalesce("rk2", F.lit(999999999)) <= _MOVER_TOPK))
        .select("l_partkey",
                F.coalesce("rk1", F.lit(-1)).cast("long").alias("rank_h1"),
                F.coalesce("rk2", F.lit(-1)).cast("long").alias("rank_h2"),
                F.when(F.col("rk1").isNotNull() & F.col("rk2").isNotNull(),
                       F.col("rk1") - F.col("rk2"))
                 .cast("long").alias("rank_climb")))


# ---------------------------------------------------------------------------
# Seasonality index — average order value per calendar month divided by
# the overall average: the classical ratio-to-moving-average seasonal
# index in its simplest exact form. Decimal sums keep both averages
# exact; the index is one double division with identical spelling.
# ---------------------------------------------------------------------------

@register("seasonality_monthly_index", """
WITH m AS (
    SELECT CAST(EXTRACT(month FROM o_orderdate) AS INT) AS month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
           COUNT(*) AS n
    FROM orders GROUP BY 1
),
o AS (
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS st,
           COUNT(*) AS nt
    FROM orders
)
SELECT m.month, CAST(m.n AS BIGINT) AS n_orders,
       round(m.s / CAST(m.n AS DOUBLE), 6) AS month_avg,
       round((m.s / CAST(m.n AS DOUBLE))
             / (o.st / CAST(o.nt AS DOUBLE)), 6) AS seasonal_index
FROM m CROSS JOIN o
""")
def seasonality_monthly_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average order value per calendar month relative to the overall
    average — one grouped pass plus a broadcast scalar."""
    orders = load_table(spark, sf_dir, "orders")
    m = (orders.groupBy(F.month("o_orderdate").alias("month"))
         .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").alias("s"),
              F.count("*").alias("n")))
    o = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
         .cast("double").alias("st"),
        F.count("*").alias("nt"))
    return (m.crossJoin(F.broadcast(o))
            .select("month", F.col("n").cast("long").alias("n_orders"),
                    F.round(F.col("s") / F.col("n").cast("double"), 6)
                     .alias("month_avg"),
                    F.round((F.col("s") / F.col("n").cast("double"))
                            / (F.col("st") / F.col("nt").cast("double")), 6)
                     .alias("seasonal_index")))


# ---------------------------------------------------------------------------
# Cohort LTV curve — cumulative average revenue per customer by cohort
# age: cohort = a customer's first-order year, age = years since; the
# curve is a cumulative window over the (cohort, age) rollup. Money
# stays decimal through the cumulative sum so the running totals are
# exact; the per-customer normalization is the final double division.
# ---------------------------------------------------------------------------

@register("cohort_ltv_curve", """
WITH firsts AS (
    SELECT o_custkey,
           CAST(EXTRACT(year FROM min(o_orderdate)) AS INT) AS cohort
    FROM orders GROUP BY o_custkey
),
sized AS (
    SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
    FROM firsts GROUP BY cohort
),
rev AS (
    SELECT f.cohort,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) - f.cohort AS age,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort, age,
           CAST(SUM(r) OVER (PARTITION BY cohort ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(18,2)) AS cum_rev
    FROM rev
)
SELECT c.cohort, c.age, s.cohort_users,
       CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
       round(CAST(c.cum_rev AS DOUBLE) / CAST(s.cohort_users AS DOUBLE), 6)
         AS ltv_per_user
FROM cum c JOIN sized s ON s.cohort = c.cohort
""")
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per user by (first-order-year cohort, age in
    years). Two grouped passes (first order per customer, revenue per
    cohort-age) and one cumulative window over the tiny rollup."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    firsts = (orders.groupBy("o_custkey")
              .agg(F.year(F.min("o_orderdate")).alias("cohort")))
    sized = (firsts.groupBy("cohort")
             .agg(F.count("*").cast("long").alias("cohort_users")))
    rev = (orders.join(F.broadcast(firsts), "o_custkey")
           .groupBy("cohort",
                    (F.year("o_orderdate") - F.col("cohort")).alias("age"))
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("r")))
    w = (Window.partitionBy("cohort").orderBy("age")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = rev.withColumn("cum_rev",
                         F.sum("r").over(w).cast("decimal(18,2)"))
    return (cum.join(F.broadcast(sized), "cohort")
            .select("cohort", "age", "cohort_users",
                    F.col("cum_rev").cast("double").alias("cum_revenue"),
                    F.round(F.col("cum_rev").cast("double")
                            / F.col("cohort_users").cast("double"), 6)
                     .alias("ltv_per_user")))
