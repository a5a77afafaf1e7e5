"""TPC-H-shaped structural coverage (SURVEY.md §5.3) — the join/agg/
window shapes a 100 TB engine must get right, on the driver star schema.

These go beyond the reference's own surface (its capability ceiling is
Spark's, SURVEY.md §2.4/§2.5 'absent' notes) and are the queries whose
physical plans the perf pass audits: join order, broadcast choices,
partial aggregation, window-limit pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.operators.aggregates import dec_sum
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# Q3-shape: 3-way join, filtered both sides, agg + top-10
# ---------------------------------------------------------------------------

@register("tpch_q3_shipping_priority", """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""")
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(l, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
            .select("l_orderkey", "revenue",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                    "o_orderpriority")
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10))


# ---------------------------------------------------------------------------
# Q5-shape: 6-way snowflake join with dim filters
# ---------------------------------------------------------------------------

@register("tpch_q5_local_supplier_volume", """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""")
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(l, l["l_orderkey"] == o["o_orderkey"])
            .join(s, (l["l_suppkey"] == s["s_suppkey"])
                  & (c["c_nationkey"] == s["s_nationkey"]))
            .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy("n_name")
            .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Q18-shape: having-style semi join on an aggregate
# ---------------------------------------------------------------------------

@register("tpch_q18_large_orders", """
WITH big AS (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
""")
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    big = (l.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
           .filter(F.col("q") > 150)
           .select("l_orderkey"))
    return (o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "o_orderkey", "left_semi")
            .join(l, o["o_orderkey"] == l["l_orderkey"])
            .groupBy("o_orderkey", "o_custkey", "o_totalprice")
            .agg(dec_sum("l_quantity", "total_qty")))


# ---------------------------------------------------------------------------
# Q2-shape: correlated min-subquery (cheapest supplier per part)
# ---------------------------------------------------------------------------

@register("tpch_q2_min_supplier", """
WITH costs AS (
    SELECT l.l_partkey, l.l_suppkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS unit_cost
    FROM lineitem l GROUP BY l.l_partkey, l.l_suppkey
)
SELECT c.l_partkey, c.l_suppkey, c.unit_cost, s.s_name
FROM costs c JOIN supplier s ON c.l_suppkey = s.s_suppkey
WHERE c.unit_cost = (SELECT MIN(c2.unit_cost) FROM costs c2
                     WHERE c2.l_partkey = c.l_partkey)
""")
def tpch_q2_min_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated min-subquery, decorrelated by Catalyst into an
    aggregate + join (exactly what the hand-written plan would be)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    l.createOrReplaceTempView("_q2_lineitem")
    s.createOrReplaceTempView("_q2_supplier")
    return spark.sql("""
        WITH costs AS (
            SELECT l_partkey, l_suppkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS unit_cost
            FROM _q2_lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT c.l_partkey, c.l_suppkey, c.unit_cost, s.s_name
        FROM costs c JOIN _q2_supplier s ON c.l_suppkey = s.s_suppkey
        WHERE c.unit_cost = (SELECT MIN(c2.unit_cost) FROM costs c2
                             WHERE c2.l_partkey = c.l_partkey)
    """)


# ---------------------------------------------------------------------------
# Q11-shape: HAVING against a global-aggregate scalar subquery
# ---------------------------------------------------------------------------

@register("tpch_q11_important_stock", """
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2))) >
       (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 0.001
        FROM lineitem)
""")
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group filter against a fraction of the GLOBAL total — the scalar
    subquery broadcasts as a one-row literal, no re-scan join."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_q11_lineitem")
    return spark.sql("""
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS part_value
        FROM _q11_lineitem
        GROUP BY l_partkey
        HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2))) >
               (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 0.001
                FROM _q11_lineitem)
    """)


# ---------------------------------------------------------------------------
# Q21-shape: stacked semi + anti joins (suppliers who kept orders
# waiting where no other supplier on the same order also shipped late)
# ---------------------------------------------------------------------------

@register("tpch_q21_waiting_suppliers", """
WITH late AS (
    SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    WHERE l_shipdate > TIMESTAMP '2000-01-01'
),
all_supp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s.s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (SELECT 1 FROM all_supp a
              WHERE a.l_orderkey = l1.l_orderkey
                AND a.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
GROUP BY s.s_name
""")
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    li.createOrReplaceTempView("_q21_lineitem")
    s.createOrReplaceTempView("_q21_supplier")
    return spark.sql("""
        WITH late AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM _q21_lineitem
            WHERE l_shipdate > TIMESTAMP '2000-01-01'
        ),
        all_supp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM _q21_lineitem)
        SELECT s.s_name, COUNT(*) AS numwait
        FROM late l1
        JOIN _q21_supplier s ON l1.l_suppkey = s.s_suppkey
        WHERE EXISTS (SELECT 1 FROM all_supp a
                      WHERE a.l_orderkey = l1.l_orderkey
                        AND a.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
        GROUP BY s.s_name
    """)


# ---------------------------------------------------------------------------
# Grouping sets (beyond rollup) + grouping() disambiguation
# ---------------------------------------------------------------------------

@register("grouping_sets_revenue", """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


# ---------------------------------------------------------------------------
# CUBE — all grouping combinations (completes the rollup/sets family)
# ---------------------------------------------------------------------------

@register("cube_order_priorities", """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def cube_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 dec_sum("o_totalprice", "total")))


# ---------------------------------------------------------------------------
# Exact percentiles (continuous interpolation) + median
# ---------------------------------------------------------------------------

@register("percentiles_order_value", """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95
FROM orders GROUP BY o_orderpriority
""")
def percentiles_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(*[F.round(F.percentile("o_totalprice", F.lit(p)), 4)
                   .alias(f"p{int(p * 100)}")
                   for p in (0.25, 0.50, 0.75, 0.95)]))


# ---------------------------------------------------------------------------
# Distinct aggregation + conditional distinct
# ---------------------------------------------------------------------------

@register("distinct_aggregates", """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(DISTINCT CASE WHEN l_discount > 0.05 THEN l_orderkey END)
         AS n_discounted_orders
FROM lineitem GROUP BY l_returnflag
""")
def distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("n_parts"),
                 F.countDistinct("l_suppkey").alias("n_supps"),
                 F.countDistinct(
                     F.when(F.col("l_discount") > 0.05, F.col("l_orderkey")))
                  .alias("n_discounted_orders")))


# ---------------------------------------------------------------------------
# Window range frames + running aggregates + ntile
# ---------------------------------------------------------------------------

@register("window_running_frames", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
       CAST(AVG(o_totalprice)
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS moving_avg_3,
       NTILE(4) OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile,
       FIRST_VALUE(o_orderkey)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS first_order
FROM orders
""")
def window_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
         .over(seq.rowsBetween(Window.unboundedPreceding, 0))
         .cast("double").alias("running_total"),
        F.avg("o_totalprice").over(seq.rowsBetween(-2, 0))
         .cast("double").alias("moving_avg_3"),
        F.ntile(4).over(
            Window.partitionBy("o_custkey")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")))
         .alias("price_quartile"),
        F.first("o_orderkey").over(seq).alias("first_order"))


# ---------------------------------------------------------------------------
# Correlated EXISTS subquery (decorrelated by Catalyst)
# ---------------------------------------------------------------------------

@register("exists_subquery_parts", """
SELECT p.p_partkey, p.p_brand
FROM part p
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
)
""")
def exists_subquery_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    p.createOrReplaceTempView("_eq_part")
    l.createOrReplaceTempView("_eq_lineitem")
    return spark.sql("""
        SELECT p.p_partkey, p.p_brand FROM _eq_part p
        WHERE EXISTS (SELECT 1 FROM _eq_lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
    """)


# ---------------------------------------------------------------------------
# X7/X8 — trailing-month generation + dual-timezone rendering
# ---------------------------------------------------------------------------

@register("x7_x8_time_suite", """
WITH months AS (
    SELECT o_orderkey, o_orderdate,
           unnest(generate_series(
               date_trunc('month', CAST(o_orderdate AS DATE)) - INTERVAL 2 MONTH,
               date_trunc('month', CAST(o_orderdate AS DATE)),
               INTERVAL 1 MONTH)) AS month_start
    FROM orders WHERE o_orderkey < 100
)
SELECT o_orderkey,
       strftime(CAST(month_start AS DATE), '%Y-%m-%d') AS trailing_month,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S+00:00') AS utc_iso,
       strftime(o_orderdate + INTERVAL 9 HOUR, '%Y-%m-%dT%H:%M:%S+09:00')
         AS kst_iso
FROM months
""")
def x7_x8_time_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 trailing-month sequence (exchage_rate_crawler.py:503-515's
    year-borrow loop as sequence()) + X8 dual-timezone ISO rendering
    (:256-264; KST = UTC+9, no DST)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    months = o.select(
        "o_orderkey", "o_orderdate",
        F.explode(F.sequence(
            F.add_months(F.trunc("o_orderdate", "month"), -2),
            F.trunc("o_orderdate", "month"),
            F.expr("interval 1 month"))).alias("month_start"))
    return months.select(
        "o_orderkey",
        F.date_format("month_start", "yyyy-MM-dd").alias("trailing_month"),
        F.concat(F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
                 F.lit("+00:00")).alias("utc_iso"),
        F.concat(F.date_format(
            F.from_utc_timestamp("o_orderdate", "Asia/Seoul"),
            "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+09:00")).alias("kst_iso"))


# ---------------------------------------------------------------------------
# Range join — value-band lookup (SURVEY.md §2.3's flagged extension
# family). The tier dim is tiny -> broadcast nested-loop with a BETWEEN
# predicate, the correct plan for band joins at any fact scale.
# ---------------------------------------------------------------------------

_TIERS = [("bronze", 0.0, 50.0), ("silver", 50.0, 150.0),
          ("gold", 150.0, 250.0), ("platinum", 250.0, 1e9)]

@register("range_join_value_tiers", f"""
WITH tiers AS (
    SELECT * FROM (VALUES
        {', '.join(f"('{n}', {lo}, {hi})" for n, lo, hi in _TIERS)}
    ) AS t(tier, lo, hi)
)
SELECT t.tier, COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY t.tier
""")
def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    tiers = local_relation(spark, _TIERS, "tier string, lo double, hi double")
    joined = e.join(F.broadcast(tiers),
                    (e["value"] >= tiers["lo"]) & (e["value"] < tiers["hi"]))
    return (joined.groupBy("tier")
            .agg(F.count("*").alias("n"),
                 dec_sum("value", "total_value")))


# ---------------------------------------------------------------------------
# Statistical aggregates — corr / covar / stddev / regr_slope family
# (absent in reference; engine exposes Spark's built-ins; rounded 6 dp
# because sum-of-squares accumulation order differs across engines)
# ---------------------------------------------------------------------------

@register("stats_aggregates", """
SELECT e.event_type,
       ROUND(corr(e.value, CAST(json_extract_string(e.props, '$.k') AS DOUBLE)),
             6) AS corr_vk,
       ROUND(covar_samp(e.value,
             CAST(json_extract_string(e.props, '$.k') AS DOUBLE)), 6) AS covar_vk,
       ROUND(stddev_samp(e.value), 6) AS sd_value,
       ROUND(var_samp(e.value), 6) AS var_value,
       ROUND(regr_slope(e.value,
             CAST(json_extract_string(e.props, '$.k') AS DOUBLE)), 6) AS slope_vk
FROM events e GROUP BY e.event_type
""")
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    v = F.col("value")
    return (e.groupBy("event_type")
            .agg(F.round(F.corr(v, k), 6).alias("corr_vk"),
                 F.round(F.covar_samp(v, k), 6).alias("covar_vk"),
                 F.round(F.stddev_samp(v), 6).alias("sd_value"),
                 F.round(F.var_samp(v), 6).alias("var_value"),
                 F.round(F.regr_slope(v, k), 6).alias("slope_vk")))


# ---------------------------------------------------------------------------
# T2 — producer fan-out: keyword batching into task messages (K2/X19)
# ---------------------------------------------------------------------------

@register("t2_task_messages", """
WITH keywords AS (
    SELECT n_name || ' travel' AS kw,
           ROW_NUMBER() OVER (ORDER BY n_name) - 1 AS idx
    FROM nation
),
grouped AS (
    SELECT CAST(idx // 4 AS INT) AS group_id, kw, idx
    FROM keywords
)
SELECT group_id,
       list_aggregate(list_sort(list(kw)), 'string_agg', '|') AS keywords,
       CAST(COUNT(*) + 1 AS BIGINT) AS batch_size_with_anchor
FROM grouped GROUP BY group_id
""")
def t2_task_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (google_trends_trigger.py:106-127): chunk keywords 4-per-task,
    +1 anchor per batch. The queue hop becomes a task table keyed by
    group_id — parallelism by partition, not process fan-out.

    The global sequence number is a two-stage rank (rank within a
    prefix partition + broadcast cumulative offset of smaller
    prefixes), NOT a partitionless window — a global row_number
    funnels every row through one reducer once the keyword universe
    grows past toy size. The offset window runs over <= |prefixes|
    rows, which stays driver-tiny by construction."""
    n = load_table(spark, sf_dir, "nation")
    pfx = n.select(F.col("n_name"),
                   F.substring("n_name", 1, 1).alias("_pfx"))
    local = F.row_number().over(
        Window.partitionBy("_pfx").orderBy("n_name"))
    counts = pfx.groupBy("_pfx").agg(F.count("*").alias("_n"))
    off_w = (Window.orderBy("_pfx")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "_pfx", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"))
    kws = (pfx.withColumn("_local", local)
           .join(F.broadcast(offsets), "_pfx")
           .select(F.concat("n_name", F.lit(" travel")).alias("kw"),
                   (F.col("_off") + F.col("_local") - 1).alias("idx")))
    grouped = kws.withColumn("group_id", (F.col("idx") / 4).cast("int"))
    return (grouped.groupBy("group_id")
            .agg(F.array_join(F.sort_array(F.collect_list("kw")), "|")
                  .alias("keywords"),
                 (F.count("*") + 1).alias("batch_size_with_anchor")))


# ---------------------------------------------------------------------------
# Q10-shape: returned-item revenue ranking (fact-fact join + dim,
# top-20 by aggregated revenue)
# ---------------------------------------------------------------------------

@register("tpch_q10_returned_items", """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""")
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lost-revenue ranking: returned lineitems joined back to their
    quarter's orders; nation broadcast; TopK via sort+limit (Spark
    plans TakeOrderedAndProject — no full sort materialization)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (c.join(o, c["c_custkey"] == o["o_custkey"])
            .join(l, l["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(price * (F.lit(1) - disc)).cast("double")
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20))


# ---------------------------------------------------------------------------
# Q14-shape: promo revenue share (conditional aggregation over a join)
# ---------------------------------------------------------------------------

@register("tpch_q14_promo_revenue", """
SELECT CAST(100.00 * SUM(CASE WHEN p.p_type = 'PROMO'
                THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(4,2))) END)
            AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
""")
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One month of lineitems, part broadcast, two decimal sums in a
    single pass, one double division at the end (oracle-stable)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
    p = load_table(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = price * (F.lit(1) - disc)
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    return joined.agg(
        ((F.lit(100.00)
          * F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double"))
         / F.sum(rev).cast("double")).alias("promo_revenue_pct"))


# ---------------------------------------------------------------------------
# Q19-shape: disjunctive multi-attribute predicate (OR of ANDs) — the
# classic pushdown/CNF-conversion stressor
# ---------------------------------------------------------------------------

@register("tpch_q19_disjunctive_filters", """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""")
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across both join sides: Catalyst extracts the
    common single-side conjuncts (brand/size union, quantity range)
    below the join while the residual disjunction stays on top —
    the pushdown shape Q19 exists to test."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    b = lambda br, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == br) & F.col("p_size").between(1, smax)
        & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi))
    filt = (b("Brand#12", 5, 1, 11) | b("Brand#23", 10, 10, 20)
            | b("Brand#34", 15, 20, 30))
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (j.filter(filt)
            .agg(F.sum(price * (F.lit(1) - disc)).cast("double")
                 .alias("revenue"),
                 F.count("*").alias("n_lines")))


# ---------------------------------------------------------------------------
# Q4-shape: EXISTS over late shipments (commitdate/receiptdate absent in
# the driver schema -> "late" = shipped >90 days after order date)
# ---------------------------------------------------------------------------

@register("tpch_q4_order_priority", """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
""")
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS decorrelates to a LEFT SEMI join with a non-equi residual
    on top of the orderkey equi-pair — no row multiplication, lineitem
    never leaves the join as output columns."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    l = load_table(spark, sf_dir, "lineitem")
    cond = ((l["l_orderkey"] == o["o_orderkey"])
            & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 90 DAY")))
    return (o.join(l, cond, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


# ---------------------------------------------------------------------------
# Q6-shape: pure scan-predicate aggregate (no join) — the pushdown floor
# ---------------------------------------------------------------------------

@register("tpch_q6_forecast_revenue", """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""")
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every predicate is scan-pushable (PushedFilters shows all four);
    the whole query is one codegen stage with a partial+final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (li.filter(
                (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
                & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24))
            .agg(F.sum(price * disc).cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Q7-shape: bidirectional nation-pair volume, nation dim joined twice
# ---------------------------------------------------------------------------

@register("tpch_q7_volume_shipping", """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01') shipping
GROUP BY supp_nation, cust_nation, l_year
""")
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nation dim participates twice (supplier side + customer
    side) under different aliases, both broadcast; the OR-pair filter
    sits above both joins and prunes to two nation combinations."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    pair = (((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")))
    return (s.join(l, s["s_suppkey"] == l["l_suppkey"])
            .join(o, o["o_orderkey"] == l["l_orderkey"])
            .join(c, c["c_custkey"] == o["o_custkey"])
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
            .filter(pair)
            .withColumn("l_year", F.year("l_shipdate"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Q8-shape: market share — conditional share of a decimal volume
# ---------------------------------------------------------------------------

@register("tpch_q8_market_share", """
SELECT o_year,
       CAST(COALESCE(SUM(CASE WHEN nation = 'NATION_5' THEN volume END), 0)
            AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
        AND p.p_type = 'ECONOMY') all_nations
GROUP BY o_year
""")
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven-table snowflake with nation twice; numerator and
    denominator accumulate the same exact decimal volume, divided once
    as doubles (order-independent)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    vol = (price * (F.lit(1) - disc)).alias("volume")
    base = (F.broadcast(p).join(l, p["p_partkey"] == l["l_partkey"])
            .join(s, s["s_suppkey"] == l["l_suppkey"])
            .join(o, o["o_orderkey"] == l["l_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
            .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
            .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
            .select(F.year("o_orderdate").alias("o_year"), vol, F.col("nation")))
    num = F.coalesce(
        F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume"))),
        F.lit(0)).cast("double")
    return (base.groupBy("o_year")
            .agg((num / F.sum("volume").cast("double")).alias("mkt_share")))


# ---------------------------------------------------------------------------
# Q9-shape: product profit by nation/year (partsupp absent -> cost
# proxied as 10% of retail price per unit, spelled identically both sides)
# ---------------------------------------------------------------------------

@register("tpch_q9_product_profit", """
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (SELECT n.n_name AS nation,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
             - CAST(p.p_retailprice AS DECIMAL(12,2))
               * CAST(l.l_quantity AS DECIMAL(12,2))
               * CAST(0.10 AS DECIMAL(3,2)) AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%') profit
GROUP BY nation, o_year
""")
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE filter prunes part before the fact join; profit stays exact
    decimal until the final cast. Reference has no partsupp, so unit
    cost is a fixed retail fraction — the join/agg shape is Q9's."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    cost = (F.col("p_retailprice").cast("decimal(12,2)")
            * F.col("l_quantity").cast("decimal(12,2)")
            * F.lit(0.10).cast("decimal(3,2)"))
    return (F.broadcast(p).join(l, p["p_partkey"] == l["l_partkey"])
            .join(s, s["s_suppkey"] == l["l_suppkey"])
            .join(o, o["o_orderkey"] == l["l_orderkey"])
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .select(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("o_year"),
                    (price * (F.lit(1) - disc) - cost).alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.sum("amount").cast("double").alias("sum_profit")))


# ---------------------------------------------------------------------------
# Q12-shape: late-shipment priority counts (shipmode absent -> group by
# l_linestatus; "late" = shipped >30 days after order date)
# ---------------------------------------------------------------------------

@register("tpch_q12_late_priority_counts", """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
GROUP BY l.l_linestatus
""")
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with a non-equi residual (late-shipment window);
    conditional counts fold into one aggregate pass."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (o.join(l, (o["o_orderkey"] == l["l_orderkey"])
                   & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAY")))
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


# ---------------------------------------------------------------------------
# Q13-shape: customer order-count distribution (left join preserved zeros)
# ---------------------------------------------------------------------------

@register("tpch_q13_customer_distribution", """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
""")
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stacked aggregations; the join predicate lives in the LEFT
    JOIN's ON clause (not WHERE) so zero-order customers survive with
    c_count = 0 — the classic outer-join-filter placement trap."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = ((c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "5-LOW"))
    return (c.join(o, cond, "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


# ---------------------------------------------------------------------------
# Q15-shape: top supplier by quarterly revenue (scalar MAX subquery)
# ---------------------------------------------------------------------------

@register("tpch_q15_top_supplier", """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""")
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue relation is computed once and compared against its
    own broadcast 1-row MAX — equality on doubles is safe because both
    sides derive the value from the same exact decimal sum."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.sum(price * (F.lit(1) - disc)).cast("double")
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
            .join(s, F.col("supplier_no") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue"))


# ---------------------------------------------------------------------------
# Q16-shape: supplier count per part attribute with NOT IN exclusion
# (partsupp absent -> lineitem is the part-supplier relation)
# ---------------------------------------------------------------------------

@register("tpch_q16_parts_supplier_cnt", """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""")
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a non-null key plans as a broadcast anti join;
    COUNT(DISTINCT) expands then de-dups map-side."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    l = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (l.join(F.broadcast(bad), l["l_suppkey"] == bad["s_suppkey"],
                   "left_anti")
            .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


# ---------------------------------------------------------------------------
# Q17-shape: small-quantity revenue vs per-part average (correlated
# scalar subquery -> grouped average joined back)
# ---------------------------------------------------------------------------

@register("tpch_q17_small_quantity_revenue", """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
  AND l.l_quantity < (SELECT 0.2 * (SUM(l2.l_quantity) / COUNT(*))
                      FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
""")
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated average decorrelated by hand into a groupBy + join —
    the same plan Catalyst produces for the subquery form. Quantities
    are integral doubles, so SUM/COUNT is order-exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM"))
    avg_q = (li.groupBy(F.col("l_partkey").alias("aq_partkey"))
             .agg((F.sum("l_quantity") / F.count("*")).alias("aq")))
    return (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .join(avg_q, F.col("l_partkey") == F.col("aq_partkey"))
            .filter(F.col("l_quantity") < F.lit(0.2) * F.col("aq"))
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double") / F.lit(7.0)).alias("avg_yearly")))


# ---------------------------------------------------------------------------
# Q20-shape: suppliers with heavy shipments of a part family
# (partsupp availqty absent -> shipped-quantity threshold)
# ---------------------------------------------------------------------------

@register("tpch_q20_heavy_part_suppliers", """
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_3', 'NATION_8', 'NATION_13')
  AND s.s_suppkey IN (SELECT l.l_suppkey
                      FROM lineitem l
                      JOIN part p ON l.l_partkey = p.p_partkey
                      WHERE p.p_name LIKE 'red%'
                      GROUP BY l.l_suppkey, l.l_partkey
                      HAVING SUM(l.l_quantity) > 100)
""")
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery chain: part-family filter -> per (supplier, part)
    shipped-quantity aggregate -> semi join into the supplier dim."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_13"))
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
             .groupBy("l_suppkey", "l_partkey")
             .agg(F.sum("l_quantity").alias("shipped"))
             .filter(F.col("shipped") > 100)
             .select("l_suppkey"))
    return (s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"],
                   "left_semi")
            .join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
            .select("s_suppkey", "s_name"))


# ---------------------------------------------------------------------------
# Q22-shape: dormant high-balance customers by name-code (phone absent
# -> code = last two digits of c_name)
# ---------------------------------------------------------------------------

@register("tpch_q22_dormant_customers", """
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS ab
    FROM customer WHERE c_acctbal > 0.00)
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (SELECT right(c.c_name, 2) AS cntrycode, c.c_acctbal
      FROM customer c
      WHERE c.c_acctbal > (SELECT ab FROM avg_bal)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1999-01-01')) custsale
GROUP BY cntrycode
""")
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-average broadcast + anti join against recent orders; the
    average is a decimal sum over count so the cutoff is bit-identical
    in both engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    ab = (c.filter(F.col("c_acctbal") > 0.00)
          .agg((F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count("*")).alias("ab")))
    return (c.crossJoin(F.broadcast(ab))
            .filter(F.col("c_acctbal") > F.col("ab"))
            .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
            .select(F.expr("right(c_name, 2)").alias("cntrycode"),
                    "c_acctbal")
            .groupBy("cntrycode")
            .agg(F.count("*").alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                  .cast("double").alias("totacctbal")))
