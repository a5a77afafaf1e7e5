"""Distributed statistics operators — exact-moment correlation,
per-group trend fitting, sequential EWMA smoothing, skew-salted joins,
and sort-free percentile binning.

Float-determinism strategy for the moment-based stats (Pearson, OLS
slope): raw sums are accumulated in DECIMAL (the inputs are 2-dp
money/quantity values, so decimal sums are EXACT and order-independent
— no floating summation-order drift between engines); the final
statistic is then one deterministic per-row double expression over
those exact sums, spelled identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions.parity import (
    ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.operators import joins
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

_DEC = "decimal(18,4)"


def _corr_expr(n: Column, sx: Column, sy: Column, sxx: Column,
               syy: Column, sxy: Column) -> Column:
    """Pearson r from exact sums, computed in double at the very end.
    Parenthesization matches the oracle spelling token-for-token.
    Zero-variance inputs yield NULL in BOTH engines (the ADVICE-r04
    degenerate-guard discipline: Spark's non-ANSI x/0 is NULL, DuckDB's
    is IEEE inf/NaN, so the branch must be explicit and shared)."""
    n, sx, sy = n.cast("double"), sx.cast("double"), sy.cast("double")
    sxx, syy, sxy = sxx.cast("double"), syy.cast("double"), sxy.cast("double")
    return F.when((n * sxx - sx * sx <= 0.0) | (n * syy - sy * sy <= 0.0),
                  F.lit(None).cast("double")
                  ).otherwise(
        (n * sxy - sx * sy)
        / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)))


# ---------------------------------------------------------------------------
# Pearson correlation matrix over lineitem measures.
# ---------------------------------------------------------------------------

_CORR_SQL_PAIR = """
       round(CASE WHEN n * s{a}{a} - s{a} * s{a} <= 0.0
                    OR n * s{b}{b} - s{b} * s{b} <= 0.0 THEN NULL
             ELSE (n * s{a}{b} - s{a} * s{b})
                  / (sqrt(n * s{a}{a} - s{a} * s{a})
                     * sqrt(n * s{b}{b} - s{b} * s{b})) END, 6) + 0.0"""


@register("corr_matrix_lineitem", f"""
WITH sums AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sp,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sd,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))
                    * CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sqq,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))
                    * CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS spp,
           CAST(SUM(CAST(l_discount AS DECIMAL(28,4))
                    * CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) AS sdd,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))
                    * CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sqp,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))
                    * CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) AS sqd,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))
                    * CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) AS spd
    FROM lineitem
)
SELECT 'l_quantity' AS var_a, 'l_extendedprice' AS var_b,
       CAST(n AS BIGINT) AS n,
{_CORR_SQL_PAIR.format(a='q', b='p')} AS corr
FROM sums
UNION ALL
SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
{_CORR_SQL_PAIR.format(a='q', b='d')}
FROM sums
UNION ALL
SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
{_CORR_SQL_PAIR.format(a='p', b='d')}
FROM sums
""")
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of quantity / price / discount.

    One corpus pass, one map-side-combined global aggregate producing
    nine exact decimal moments (a few hundred bytes per partition
    regardless of data size); the 3x3 matrix unpivots from that single
    row. Never uses F.corr — its streaming co-moment accumulation is
    summation-order-dependent and would diverge from any oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast(_DEC)
    p = F.col("l_extendedprice").cast(_DEC)
    d = F.col("l_discount").cast(_DEC)
    sums = li.agg(
        F.count("*").alias("n"),
        F.sum(q).alias("sq"), F.sum(p).alias("sp"), F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"), F.sum(p * p).alias("spp"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * p).alias("sqp"), F.sum(q * d).alias("sqd"),
        F.sum(p * d).alias("spd"))

    def pair(va: str, vb: str, sa: str, sb: str, saa: str, sbb: str,
             sab: str) -> Column:
        return F.struct(
            F.lit(va).alias("var_a"), F.lit(vb).alias("var_b"),
            F.col("n").alias("n"),
            (F.round(_corr_expr(F.col("n"), F.col(sa), F.col(sb),
                                F.col(saa), F.col(sbb), F.col(sab)),
                     6) + F.lit(0.0)).alias("corr"))

    return (sums.select(F.explode(F.array(
        pair("l_quantity", "l_extendedprice", "sq", "sp", "sqq", "spp", "sqp"),
        pair("l_quantity", "l_discount", "sq", "sd", "sqq", "sdd", "sqd"),
        pair("l_extendedprice", "l_discount", "sp", "sd", "spp", "sdd", "spd"),
    )).alias("e")).select("e.var_a", "e.var_b", "e.n", "e.corr"))


# ---------------------------------------------------------------------------
# OLS trend slope per nation (order value vs order date).
# ---------------------------------------------------------------------------

@register("trend_slope_by_nation", """
WITH fact AS (
    SELECT n.n_name,
           date_diff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE)) AS x,
           CAST(o.o_totalprice AS DECIMAL(18,4)) AS y
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
),
sums AS (
    SELECT n_name,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS DOUBLE) AS sxx,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           COUNT(*) AS n_orders
    FROM fact GROUP BY n_name
)
SELECT n_name, CAST(n_orders AS BIGINT) AS n_orders,
       round(CASE WHEN n * sxx - sx * sx <= 0.0 THEN NULL
             ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) + 0.0
         AS slope,
       round(CASE WHEN n * sxx - sx * sx <= 0.0 THEN NULL
             ELSE (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                  / n END, 6) + 0.0 AS intercept
FROM sums
""")
def trend_slope_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend of order value over time — grouped linear
    regression from exact sums (x: integer day offsets, y: decimal
    money; every accumulated moment is exact, so the slope is engine-
    independent). Dims broadcast onto the fact; one grouped aggregate
    keyed on the 25-nation key carries five narrow moments."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    x = F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1992-01-01").cast("date"))
    y = F.col("o_totalprice").cast(_DEC)
    fact = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select("n_name", x.alias("x"), y.alias("y")))
    sums = fact.groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum("x").alias("sx_i"),
        F.sum("y").alias("sy_d"),
        F.sum(F.col("x").cast("bigint") * F.col("x").cast("bigint")).alias("sxx_i"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_d"))
    nd = F.col("n_orders").cast("double")
    sx, sy = F.col("sx_i").cast("double"), F.col("sy_d").cast("double")
    sxx, sxy = F.col("sxx_i").cast("double"), F.col("sxy_d").cast("double")
    # degenerate guard (ADVICE-r04 discipline): a nation whose orders
    # all share one day has zero x-variance -> NULL, not engine-
    # dependent inf/NaN; the intercept inherits NULL by propagation
    slope = F.when(nd * sxx - sx * sx <= 0.0,
                   F.lit(None).cast("double")
                   ).otherwise((nd * sxy - sx * sy) / (nd * sxx - sx * sx))
    return sums.select(
        "n_name", "n_orders",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round((sy - slope * sx) / nd, 6) + F.lit(0.0)).alias("intercept"))


# ---------------------------------------------------------------------------
# EWMA smoothing per user — sequential stateful semantics, expression-level.
# ---------------------------------------------------------------------------

@register("ewma_values_per_user", """
WITH RECURSIVE seq AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
),
walk AS (
    SELECT user_id, event_id, rn, CAST(value AS DOUBLE) AS ewma
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.event_id, s.rn, 0.3 * s.value + 0.7 * w.ewma
    FROM seq s JOIN walk w
      ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
-- Spark-parity rounding: DuckDB's round(DOUBLE, 6) scales by 1e6 in
-- binary (the multiply can cross a .5 boundary the true value is
-- under: observed at sf0.1, 37.164888499999996 -> .164889), while
-- Spark rounds the SHORTEST decimal rendering (BigDecimal.valueOf)
-- HALF_UP. format('{}') is DuckDB's shortest-roundtrip formatter, so
-- parse-then-decimal-round reproduces Spark exactly.
SELECT user_id, event_id, CAST(rn AS INT) AS rn,
       CAST(round(CAST(format('{}', ewma) AS DECIMAL(38,18)), 6)
            AS DOUBLE) AS ewma
FROM walk
""")
def ewma_values_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.3) of each user's
    event values in time order — a genuinely sequential recurrence
    (E_t = a*v_t + (1-a)*E_{t-1}) expressed as a per-group array fold:
    sort_array(collect_list) -> aggregate, all JVM expressions. The
    fold is sequential on both engines (oracle: recursive CTE), so the
    doubles match bit-for-bit before rounding.

    Scale: state per group = that user's history (bounded per-entity,
    like sessionization); the shuffle is one groupBy on user_id. For
    unbounded histories the streaming analogue is
    applyInPandasWithState (streaming/jobs.py)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    g = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(
            F.struct("ts", "event_id", "value"))).alias("s"))
    folded = F.aggregate(
        F.col("s"),
        F.array().cast("array<struct<event_id:bigint,ewma:double>>"),
        lambda acc, x: F.array_append(acc, F.struct(
            x["event_id"].alias("event_id"),
            F.when(F.size(acc) == 0, x["value"].cast("double"))
             .otherwise(F.lit(0.3) * x["value"]
                        + F.lit(0.7) * F.element_at(acc, -1)["ewma"])
             .alias("ewma"))))
    return (g.select("user_id", F.posexplode(folded).alias("pos", "e"))
            .select("user_id", F.col("e.event_id").alias("event_id"),
                    (F.col("pos") + 1).cast("int").alias("rn"),
                    F.round(F.col("e.ewma"), 6).alias("ewma")))


# ---------------------------------------------------------------------------
# Skew-probe-routed join — the salting pattern behind auto-routing,
# with a semantics-equality oracle.
# ---------------------------------------------------------------------------


@register("salted_join_orders_customers", """
SELECT o.o_orderkey, c.c_custkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
""")
def salted_join_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-PROBE-routed join (re-pointed at
    operators.joins.skew_routed_join when round 14's 200M-row
    measurement adopted the salted pattern behind auto-routing —
    salted 1.45x over AQE skew-join at a 29%-head zipf(1.5) key;
    tools/stress_skew.py): a seeded 0.1% sample estimates the head
    key's share at CONSTRUCTION and routes to salt-and-replicate at
    >=5%, plain join below. TPC-H custkey is uniform (~0.2% head), so
    this registered plan takes — and certifies — the PLAIN route; the
    salted route is pinned by tests/test_scale_patterns.py on a
    zipf-headed input. The oracle is the plain join: routing must
    never change the result, only the partition histogram."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"),
        "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name")
    return (joins.skew_routed_join(o, c, "c_custkey")
            .select("o_orderkey", "c_custkey", "c_name", "o_totalprice"))


# ---------------------------------------------------------------------------
# Sort-free decile binning via broadcast percentile cut points.
# ---------------------------------------------------------------------------

@register("decile_bins_order_value", """
WITH cuts AS (
    SELECT [round(quantile_cont(o_totalprice, 0.1), 6),
            round(quantile_cont(o_totalprice, 0.2), 6),
            round(quantile_cont(o_totalprice, 0.3), 6),
            round(quantile_cont(o_totalprice, 0.4), 6),
            round(quantile_cont(o_totalprice, 0.5), 6),
            round(quantile_cont(o_totalprice, 0.6), 6),
            round(quantile_cont(o_totalprice, 0.7), 6),
            round(quantile_cont(o_totalprice, 0.8), 6),
            round(quantile_cont(o_totalprice, 0.9), 6)] AS cs
    FROM orders
)
SELECT o.o_orderkey, o.o_totalprice,
       CAST(len(list_filter(c.cs, x -> o.o_totalprice > x)) + 1 AS INT)
           AS decile
FROM orders o CROSS JOIN cuts c
""")
def decile_bins_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile assignment WITHOUT a global sort: nine
    exact percentile cut points (one aggregate, broadcast back as a
    1-row array) and a per-row count of cuts below the value. The
    ntile() spelling of this is a single-reducer global sort — this
    shape scans once, aggregates once, and assigns map-side. Cut
    points are rounded to 6 dp on both engines before comparison so
    boundary rows bucket identically."""
    o = load_table(spark, sf_dir, "orders")
    cuts = o.agg(F.array(*[
        F.round(F.percentile("o_totalprice", F.lit(q / 10)), 6)
        for q in range(1, 10)]).alias("cs"))
    return (o.crossJoin(F.broadcast(cuts))
            .select("o_orderkey", "o_totalprice",
                    (F.size(F.filter(
                        F.col("cs"),
                        lambda x: F.col("o_totalprice") > x)) + 1)
                    .cast("int").alias("decile")))


# ---------------------------------------------------------------------------
# Chi-square independence test — order-controlled double summation.
# ---------------------------------------------------------------------------

@register("chi2_event_type_by_dow", f"""
WITH obs AS (
    SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, SUM(o) AS rt FROM obs GROUP BY 1),
ct AS (SELECT dow, SUM(o) AS ct FROM obs GROUP BY 1),
n AS (SELECT SUM(o) AS n FROM obs),
cells AS (
    SELECT obs.event_type, obs.dow,
           (CAST(o AS DOUBLE) - (rt * ct) / CAST(n AS DOUBLE))
           * (CAST(o AS DOUBLE) - (rt * ct) / CAST(n AS DOUBLE))
           / ((rt * ct) / CAST(n AS DOUBLE)) AS term
    FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
),
folded AS (
    SELECT COUNT(*) AS n_cells,
           COUNT(DISTINCT event_type) AS r,
           COUNT(DISTINCT dow) AS c,
           {ordered_sum_sql("term", "event_type, dow")} AS s
    FROM cells
)
SELECT CAST(n_cells AS BIGINT) AS n_cells,
       CAST((r - 1) * (c - 1) AS INT) AS dof,
       {round_sql("s")} AS chi2
FROM folded
""")
def chi2_event_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for event_type x day-of-week.

    All inputs to the statistic are exact integer counts; the only
    floating sum (over the ~35 (observed-expected)^2/expected terms)
    runs as a SORTED array fold — collect_list(struct) -> array_sort ->
    aggregate — so the summation ORDER is pinned and both engines fold
    the same doubles in the same sequence. This is the general recipe
    for order-controlled double reduction when decimal accumulation
    doesn't apply (the terms are already irrational).

    Scale: the contingency table is |types| x 7 cells regardless of
    corpus size; everything after the first grouped count is
    effectively free."""
    ev = load_table(spark, sf_dir, "events")
    obs = (ev.select("event_type", F.dayofweek("ts").alias("dow"))
           .groupBy("event_type", "dow").agg(F.count("*").alias("o")))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    exp = (F.col("rt") * F.col("ct")) / F.col("n").cast("double")
    term = ((F.col("o").cast("double") - exp)
            * (F.col("o").cast("double") - exp) / exp)
    cells = (obs.join(F.broadcast(rt), "event_type")
             .join(F.broadcast(ct), "dow")
             .crossJoin(F.broadcast(n))
             .select("event_type", "dow", term.alias("term")))
    folded = cells.agg(
        F.count("*").alias("n_cells"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
        ordered_sum("term", "event_type", "dow").alias("s"))
    return folded.select(
        F.col("n_cells"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("dof"),
        F.round("s", 6).alias("chi2"))


# ---------------------------------------------------------------------------
# Window distribution functions — percent_rank / cume_dist / nth_value.
# ---------------------------------------------------------------------------

@register("window_distribution_suite", """
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd,
       nth_value(o_orderkey, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS third_key,
       first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS cheapest_key,
       last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING) AS priciest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
""")
def window_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per priority class: percent_rank,
    cume_dist, and frame-pinned nth/first/last value. The ORDER BY is
    a total order (price, key), so rank fractions are tie-free and the
    frame endpoints deterministic. One shuffle on the 5-value priority
    key; skew-safe only because the key universe is tiny — for a
    high-cardinality partition key this same shape is the scalable
    form."""
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_totalprice", "o_orderkey"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 3).over(wf).alias("third_key"),
        F.first("o_orderkey").over(wf).alias("cheapest_key"),
        F.last("o_orderkey").over(wf).alias("priciest_key"))


# ---------------------------------------------------------------------------
# Table content fingerprints — order-independent integrity hashes.
# ---------------------------------------------------------------------------

def _fp_cols(table: str) -> list[str]:
    # stable (int/string) columns only: float->string formatting is the
    # one cast whose spelling differs between engines, so floats are
    # excluded from fingerprints by design.
    return {
        "orders": ["o_orderkey", "o_custkey", "o_orderstatus",
                   "o_orderpriority"],
        "customer": ["c_custkey", "c_name", "c_nationkey"],
        "nation": ["n_nationkey", "n_name", "n_regionkey"],
    }[table]


def _fp_sql(table: str) -> str:
    from travel_data_pipeline_spark.functions.hashing import md5_long_sql
    concat = " || '|' || ".join(f"CAST({c} AS VARCHAR)"
                                for c in _fp_cols(table))
    h = md5_long_sql(f"({concat})")
    return (f"SELECT '{table}' AS table_name, COUNT(*) AS n_rows, "
            f"bit_xor({h}) AS fingerprint FROM {table}")


@register("table_fingerprints",
          " UNION ALL ".join(_fp_sql(t)
                             for t in ("orders", "customer", "nation")))
def table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprint per table: bit_xor of a
    per-row md5 over the stable key/text columns. The pipeline-
    validation primitive — two runs (or two engines, or two replicas)
    agree iff their fingerprints agree, with no sort and no transfer
    beyond one 8-byte value per partition. XOR is commutative/
    associative and exact, so the result is partitioning-independent."""
    from travel_data_pipeline_spark.functions.hashing import md5_long
    parts = []
    for t in ("orders", "customer", "nation"):
        df = load_table(spark, sf_dir, t)
        row = F.concat_ws("|", *[F.col(c).cast("string")
                                 for c in _fp_cols(t)])
        parts.append(df.agg(
            F.count("*").alias("n_rows"),
            F.bit_xor(md5_long(row)).alias("fingerprint"))
            .select(F.lit(t).alias("table_name"), "n_rows", "fingerprint"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# RFM customer segmentation — quintile scores without a global sort.
# ---------------------------------------------------------------------------

_RFM_CUTS = ("[{qs}]".format(qs=", ".join(
    f"round(quantile_cont({{col}}, {q / 10}), 6)" for q in (2, 4, 6, 8))))


@register("rfm_customer_segments", f"""
WITH rfm AS (
    SELECT o_custkey AS c_custkey,
           date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                     (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
               AS recency,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
    FROM orders GROUP BY o_custkey
),
cuts AS (
    SELECT {_RFM_CUTS.format(col='recency')} AS rc,
           {_RFM_CUTS.format(col='frequency')} AS fc,
           {_RFM_CUTS.format(col='monetary')} AS mc
    FROM rfm
)
SELECT r.c_custkey, CAST(r.recency AS INT) AS recency,
       CAST(r.frequency AS BIGINT) AS frequency, r.monetary,
       CAST(5 - len(list_filter(c.rc, x -> r.recency > x)) AS INT) AS r_score,
       CAST(1 + len(list_filter(c.fc, x -> r.frequency > x)) AS INT) AS f_score,
       CAST(1 + len(list_filter(c.mc, x -> r.monetary > x)) AS INT) AS m_score
FROM rfm r CROSS JOIN cuts c
""")
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary segmentation: one grouped pass builds
    the per-customer triple (recency vs the table's max date via a
    broadcast scalar subquery; monetary as an exact decimal sum), one
    aggregate derives the 4 quintile cut points per dimension (rounded
    identically on both engines), and scoring is a per-row cut-count —
    the same sort-free binning shape as decile_bins_order_value.
    Recency scores invert (recent = 5)."""
    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_date"))
    rfm = (o.groupBy(F.col("o_custkey").alias("c_custkey"))
           .agg(F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
                F.count("*").alias("frequency"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("monetary"))
           .crossJoin(F.broadcast(ref))
           .select("c_custkey",
                   F.datediff("ref_date", "last_date").alias("recency"),
                   "frequency", "monetary"))

    def qcuts(col: str) -> Column:
        return F.array(*[F.round(F.percentile(col, F.lit(q / 10)), 6)
                         for q in (2, 4, 6, 8)])

    cuts = rfm.agg(qcuts("recency").alias("rc"),
                   qcuts("frequency").alias("fc"),
                   qcuts("monetary").alias("mc"))

    def score(cut_col: str, val_col: str) -> Column:
        return F.size(F.filter(F.col(cut_col),
                               lambda x: F.col(val_col) > x))

    return (rfm.crossJoin(F.broadcast(cuts))
            .select("c_custkey",
                    F.col("recency").cast("int").alias("recency"),
                    "frequency", "monetary",
                    (5 - score("rc", "recency")).cast("int").alias("r_score"),
                    (1 + score("fc", "frequency")).cast("int").alias("f_score"),
                    (1 + score("mc", "monetary")).cast("int").alias("m_score")))


# ---------------------------------------------------------------------------
# Deterministic grouped mode.
# ---------------------------------------------------------------------------

@register("mode_priority_by_status", """
SELECT o_orderstatus, o_orderpriority AS mode_priority, n
FROM (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           row_number() OVER (PARTITION BY o_orderstatus
                              ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
    FROM orders GROUP BY o_orderstatus, o_orderpriority
)
WHERE rn = 1
""")
def mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mode with an EXPLICIT tie-break (count desc, value asc)
    — the built-in mode() leaves ties engine-defined, which can never
    hash-match across engines; this spelling is deterministic and is
    one grouped count plus a tiny window over |statuses x priorities|
    rows."""
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    counts = (o.groupBy("o_orderstatus", "o_orderpriority")
              .agg(F.count("*").alias("n")))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority"))
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_orderstatus",
                    F.col("o_orderpriority").alias("mode_priority"), "n"))


# ---------------------------------------------------------------------------
# Partition statistics report (pruning metadata, month grain).
# ---------------------------------------------------------------------------

@register("partition_stats_orders", """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       COUNT(*) AS n_rows,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       COUNT(DISTINCT o_custkey) AS n_custs
FROM orders GROUP BY 1
""")
def partition_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month partition statistics (row count, min/max zone-map
    bounds, customer cardinality) — what a writer partitioned by month
    would register in the catalog for partition pruning and what an
    ops check reads to find skewed or empty partitions. min/max are
    exact order-independent aggregates; one shuffle on the month
    key."""
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"),
                                    "yyyy-MM").alias("month"))
            .agg(F.count("*").alias("n_rows"),
                 F.min("o_totalprice").alias("min_price"),
                 F.max("o_totalprice").alias("max_price"),
                 F.countDistinct("o_custkey").alias("n_custs")))


# ---------------------------------------------------------------------------
# Z-order (Morton) interleaved sort key — 2-D data-skipping layout.
# ---------------------------------------------------------------------------

def _morton_sql(x: str, y: str, bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) * {1 << (2 * b)})")
        terms.append(f"((({y} >> {b}) & 1) * {1 << (2 * b + 1)})")
    return " + ".join(terms)


def _morton_expr(x: str, y: str, bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((shiftright({x}, {b}) & 1) * {1 << (2 * b)})")
        terms.append(f"((shiftright({y}, {b}) & 1) * {1 << (2 * b + 1)})")
    return " + ".join(terms)


@register("zorder_interleaved_key", f"""
WITH coords AS (
    SELECT o_orderkey,
           o_custkey & 65535 AS xk,
           date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               & 65535 AS yk
    FROM orders
)
SELECT o_orderkey, CAST(xk AS BIGINT) AS xk, CAST(yk AS BIGINT) AS yk,
       CAST({_morton_sql('xk', 'yk')} AS BIGINT) AS zkey
FROM coords
""")
def zorder_interleaved_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key interleaving the low 16 bits of customer
    key and day offset — the space-filling-curve layout primitive: a
    writer that range-partitions and sorts by zkey gives parquet
    zone maps locality in BOTH dimensions, so filters on either column
    (or both) prune files. This is what Delta's OPTIMIZE ZORDER BY
    computes; here it is 64 pure integer bit ops per row, fully
    codegen'd, zero shuffle (the write-side repartitionByRange(zkey)
    is the only exchange, and it replaces the sort a 1-D layout needs
    anyway)."""
    o = load_table(spark, sf_dir, "orders")
    coords = o.select(
        "o_orderkey",
        F.expr("o_custkey & 65535").alias("xk"),
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') "
               "& 65535").alias("yk"))
    return coords.select(
        "o_orderkey", F.col("xk").cast("long").alias("xk"),
        F.col("yk").cast("long").alias("yk"),
        F.expr(_morton_expr("xk", "yk")).cast("long").alias("zkey"))


# ---------------------------------------------------------------------------
# Exact global median WITHOUT a global sort — the two-pass histogram
# localization pattern: pass 1 bins the column and finds which bin
# holds the k-th value (k = lower-median rank); pass 2 ranks only
# inside that one bin. At 100 TB the expensive global Sort/OFFSET never
# happens — the second pass touches one bin's rows. The oracle IS the
# naive global sort, proving the two-pass answer exact.
# ---------------------------------------------------------------------------

_MEDIAN_BIN = 1000.0


@register("median_two_pass_orders", """
WITH s AS (
    SELECT o_totalprice,
           row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
           count(*) OVER () AS n
    FROM orders
)
SELECT CAST(n AS BIGINT) AS n, CAST((n + 1) // 2 AS BIGINT) AS k,
       o_totalprice AS median_price
FROM s WHERE rn = (n + 1) // 2
""")
def median_two_pass_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower-median of o_totalprice via histogram localization.

    Pass 1: one grouped count per 1000-wide bin + a cumulative window
    over the (tiny) bin relation locates the bin holding rank
    k = (n+1)//2. Pass 2: rank rows of THAT bin only (window over one
    bin's rows after a pushed-down range filter). No global sort at any
    scale; everything is declarative — scalar relations ride along as
    broadcast cross joins, never driver collects."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    binned = orders.select(
        "o_orderkey", "o_totalprice",
        F.floor(F.col("o_totalprice") / _MEDIAN_BIN).alias("bin"))
    hist = binned.groupBy("bin").agg(F.count("*").alias("cnt"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(wb))
    tot = cum.agg(F.max("cum").alias("n"),
                  ((F.max("cum") + 1) / 2).cast("long").alias("k"))
    target = (cum.crossJoin(F.broadcast(tot))
              .filter(F.col("cum") >= F.col("k"))
              .orderBy("bin").limit(1)
              .select("bin", (F.col("cum") - F.col("cnt")).alias("before"),
                      "n", "k"))
    inbin = binned.join(F.broadcast(target), "bin")
    wr = Window.partitionBy("bin").orderBy("o_totalprice", "o_orderkey")
    return (inbin.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == F.col("k") - F.col("before"))
            .select("n", "k", F.col("o_totalprice").alias("median_price")))


# ---------------------------------------------------------------------------
# Rolling correlation between two arrival series (purchase vs error
# daily counts) over a 15-day window — the moment-based Pearson recipe
# (exact integer window sums, one double expression at the end) applied
# to a sliding frame instead of a group.
# ---------------------------------------------------------------------------

_ROLL_CORR_W = 15


@register("rolling_corr_purchase_error", f"""
WITH daily AS (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY 1
),
win AS (
    SELECT day,
           count(*)    OVER w AS n,
           sum(x)      OVER w AS sx,  sum(y)     OVER w AS sy,
           sum(x * x)  OVER w AS sxx, sum(y * y) OVER w AS syy,
           sum(x * y)  OVER w AS sxy
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {_ROLL_CORR_W - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT day, CAST(n AS BIGINT) AS n_window,
       round(CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0.0
                    OR CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <= 0.0
                  THEN NULL
                  ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (sqrt(CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy))
             END, 6) + 0.0 AS r
FROM win WHERE n = {_ROLL_CORR_W}
""")
def rolling_corr_purchase_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-day rolling Pearson r between purchase and error daily counts.

    One conditional-sum pass builds both series from a single scan;
    the six window sums are exact integers over a 15-row frame; r is
    one deterministic double expression, spelled identically in the
    oracle. Output only full windows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
             .alias("x"),
             F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
             .alias("y")))
    w = Window.orderBy("day").rowsBetween(-(_ROLL_CORR_W - 1), 0)
    win = (daily
           .withColumn("n", F.count("*").over(w))
           .withColumn("sx", F.sum("x").over(w))
           .withColumn("sy", F.sum("y").over(w))
           .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(w))
           .withColumn("syy", F.sum(F.col("y") * F.col("y")).over(w))
           .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(w)))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # Degenerate guard (ADVICE r04): a constant series inside the
    # window zeroes a variance term — Spark (non-ANSI) yields NULL on
    # the divide while DuckDB yields IEEE inf/NaN, so both engines must
    # branch on the SAME double-precision variance terms.
    r = F.when((n * sxx - sx * sx <= 0.0) | (n * syy - sy * sy <= 0.0),
               F.lit(None).cast("double")
               ).otherwise(
        (n * sxy - sx * sy)
        / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)))
    return (win.filter(F.col("n") == _ROLL_CORR_W)
            .select("day", F.col("n").alias("n_window"),
                    (F.round(r, 6) + 0.0).alias("r")))


# ---------------------------------------------------------------------------
# Kaplan-Meier survival over user lifetimes — the product-limit
# estimator, fully deterministic: lifetimes are integer day spans,
# deaths/at-risk are exact counts, and the survival product folds over
# time-SORTED steps (oracle: recursive CTE walking the identical
# doubles). Users still active on the corpus' final day are censored.
# ---------------------------------------------------------------------------

@register("kaplan_meier_lifetime", """
WITH RECURSIVE life AS (
    SELECT user_id,
           date_diff('day', min(date_trunc('day', ts)),
                     max(date_trunc('day', ts))) AS t,
           CASE WHEN max(date_trunc('day', ts))
                     = (SELECT max(date_trunc('day', ts)) FROM events)
                THEN 1 ELSE 0 END AS censored
    FROM events GROUP BY user_id
),
byt AS (
    SELECT t,
           CAST(SUM(1 - censored) AS BIGINT) AS d,
           CAST(SUM(censored) AS BIGINT) AS c
    FROM life GROUP BY t
),
risk AS (
    SELECT t, d, c,
           (SELECT count(*) FROM life)
             - COALESCE(SUM(d + c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS n_risk
    FROM byt
),
steps AS (
    SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk,
           row_number() OVER (ORDER BY t) AS rn
    FROM risk WHERE d > 0
),
walk AS (
    SELECT t, d, n_risk, rn,
           1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s
    FROM steps WHERE rn = 1
    UNION ALL
    SELECT st.t, st.d, st.n_risk, st.rn,
           w.s * (1.0 - CAST(st.d AS DOUBLE) / CAST(st.n_risk AS DOUBLE))
    FROM steps st JOIN walk w ON st.rn = w.rn + 1
)
SELECT CAST(t AS BIGINT) AS t, d, n_risk,
       CAST(round(CAST(format('{}', s) AS DECIMAL(38,18)), 6) AS DOUBLE)
         AS survival
FROM walk
""")
def kaplan_meier_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-limit survival curve of user activity lifetimes
    (last active day minus first), censoring users active on the final
    corpus day.

    Two grouped passes (per-user span, per-time deaths) + one window
    over the tiny step relation; the survival product is a sorted
    array fold, bit-equal to the oracle's recursive walk."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    life = (ev.groupBy("user_id")
            .agg(F.min(day).alias("first_d"), F.max(day).alias("last_d")))
    max_day = ev.agg(F.max(day).alias("max_d"))
    life = (life.crossJoin(F.broadcast(max_day))
            .select(F.datediff("last_d", "first_d").cast("long").alias("t"),
                    F.when(F.col("last_d") == F.col("max_d"), 1)
                     .otherwise(0).alias("censored")))
    byt = (life.groupBy("t")
           .agg(F.sum(1 - F.col("censored")).alias("d"),
                F.sum("censored").alias("c")))
    total = life.agg(F.count("*").alias("n_total"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (byt.crossJoin(F.broadcast(total))
            .withColumn("removed",
                        F.coalesce(F.sum(F.col("d") + F.col("c")).over(w),
                                   F.lit(0)))
            .withColumn("n_risk", F.col("n_total") - F.col("removed")))
    steps = (risk.filter(F.col("d") > 0)
             .select("t", "d", F.col("n_risk").cast("long").alias("n_risk")))
    folded = steps.agg(F.array_sort(F.collect_list(
        F.struct("t", "d", "n_risk"))).alias("ss"))
    walk = F.aggregate(
        F.col("ss"),
        F.array().cast("array<struct<t:bigint,d:bigint,n_risk:bigint,"
                       "s:double>>"),
        lambda acc, x: F.array_append(acc, F.struct(
            x["t"].alias("t"), x["d"].alias("d"),
            x["n_risk"].alias("n_risk"),
            (F.when(F.size(acc) == 0, F.lit(1.0))
              .otherwise(F.element_at(acc, -1)["s"])
             * (F.lit(1.0) - x["d"].cast("double")
                / x["n_risk"].cast("double"))).alias("s"))))
    return (folded.select(F.explode(walk).alias("e"))
            .select(F.col("e.t").alias("t"), F.col("e.d").alias("d"),
                    F.col("e.n_risk").alias("n_risk"),
                    F.round(F.col("e.s"), 6).alias("survival")))


# ---------------------------------------------------------------------------
# Forensic / concentration indicators — three classical one-number
# screens over money columns, all exactly deterministic:
#   Benford first-digit chi-square (fraud screening),
#   Gini coefficient (revenue inequality across customers),
#   Herfindahl-Hirschman index (market concentration per region).
# Counts and money sums are exact integers/decimals; each final
# statistic is one double expression (Benford's 9-term sum folds in
# digit order via list_reduce — order-pinned).
# ---------------------------------------------------------------------------

@register("benford_first_digit", """
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                1, 1) AS INT) AS d
    FROM orders WHERE o_totalprice >= 1
),
obs AS (
    SELECT d, count(*) AS n FROM digits GROUP BY d
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
terms AS (
    SELECT o.d, o.n, t.total,
           ln(1.0 + 1.0 / CAST(o.d AS DOUBLE)) / ln(10.0) AS p,
           round(CAST(o.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) + 0.0
             AS observed_share
    FROM obs o CROSS JOIN tot t
)
SELECT d, CAST(n AS BIGINT) AS n, observed_share,
       round(p, 6) + 0.0 AS benford_share,
       round((CAST(n AS DOUBLE) - total * p) * (CAST(n AS DOUBLE) - total * p)
             / (total * p), 6) + 0.0 AS chi2_term
FROM terms
""")
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order values vs Benford's law, with
    the per-digit chi-square contribution. One grouped count over the
    scan; the 9-row comparison is free."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.substring(F.floor("o_totalprice").cast("long").cast("string"),
                    1, 1).cast("int")
    obs = (orders.filter(F.col("o_totalprice") >= 1)
           .select(d.alias("d")).groupBy("d").agg(F.count("*").alias("n")))
    tot = obs.agg(F.sum("n").alias("total"))
    p = F.log(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double")) \
        / F.log(F.lit(10.0))
    nd, totd = F.col("n").cast("double"), F.col("total").cast("double")
    return (obs.crossJoin(F.broadcast(tot))
            .select("d", F.col("n").cast("long").alias("n"),
                    (F.round(nd / totd, 6) + 0.0).alias("observed_share"),
                    (F.round(p, 6) + 0.0).alias("benford_share"),
                    (F.round((nd - totd * p) * (nd - totd * p)
                             / (totd * p), 6) + 0.0).alias("chi2_term")))


@register("gini_customer_revenue", """
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
             AS r
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
           count(*) OVER () AS n
    FROM rev
),
sums AS (
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(SUM(CAST(i AS DECIMAL(28,2)) * CAST(r AS DECIMAL(28,2)))
                AS DOUBLE) AS swx,
           CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS sx
    FROM ranked
)
SELECT n,
       round(2.0 * swx / (CAST(n AS DOUBLE) * sx)
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) + 0.0
         AS gini
FROM sums
""")
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue via the exact
    rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending
    ranks (ties broken on the key). All sums are decimal-exact; the
    statistic is one double expression.

    The global rank is TWO-PHASE (operators.windows.two_phase_ordered,
    VERDICT r05 #2): the per-customer relation is |customers| rows —
    billions at 100 TB — so a partitionless row_number would funnel it
    through one reducer; quantile buckets on revenue + broadcast
    offsets keep every sort partition-local."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered)

    orders = load_table(spark, sf_dir, "orders")
    rev = (orders.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)").alias("r")))
    ranked = two_phase_ordered(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()],
        F.col("r").cast("double") + F.col("o_custkey") / F.lit(1e18),
        rank_col="i")
    sums = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("i").cast("decimal(28,2)")
              * F.col("r").cast("decimal(28,2)")).cast("double").alias("swx"),
        F.sum(F.col("r").cast("decimal(28,2)")).cast("double").alias("sx"))
    n = F.col("n").cast("double")
    return sums.select(
        "n",
        (F.round(F.lit(2.0) * F.col("swx") / (n * F.col("sx"))
                 - (n + 1.0) / n, 6) + 0.0).alias("gini"))


@register("hhi_market_concentration", f"""
WITH rev AS (
    SELECT r.r_name AS region,
           n.n_name AS nation,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
),
tot AS (
    SELECT region, CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS tv
    FROM rev GROUP BY region
),
shares AS (
    SELECT rev.region, (v / tv) * (v / tv) AS sq,
           rev.nation
    FROM rev JOIN tot USING (region)
)
SELECT region, CAST(count(*) AS BIGINT) AS n_nations,
       round({ordered_sum_sql("sq", "nation")} * 10000, 6) + 0.0 AS hhi
FROM shares GROUP BY region
""")
def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index (x10000) of nation revenue shares
    within each region. Decimal revenue sums are exact; the per-region
    sum of squared shares folds in nation order so both engines add
    identical doubles identically."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name")
    rev = (orders.join(F.broadcast(cust),
                       orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(region),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .groupBy(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"))
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").alias("v")))
    tot = (rev.groupBy("region")
           .agg(F.sum(F.col("v").cast("decimal(18,2)")).cast("double")
                .alias("tv")))
    shares = (rev.join(F.broadcast(tot), "region")
              .select("region", "nation",
                      ((F.col("v") / F.col("tv"))
                       * (F.col("v") / F.col("tv"))).alias("sq")))
    folded = (shares.groupBy("region")
              .agg(F.count("*").cast("long").alias("n_nations"),
                   ordered_sum("sq", "nation").alias("s")))
    return folded.select(
        "region", "n_nations",
        (F.round(F.col("s") * 10000, 6) + 0.0).alias("hhi"))


# ---------------------------------------------------------------------------
# Mutual information of event_type x day-of-week — the information-
# theoretic twin of chi2_event_type_by_dow on the same contingency
# table: MI = sum_ij p_ij * ln(p_ij / (p_i * p_j)). All probabilities
# come from exact integer counts; the cell-term sum folds in
# (type, dow) order; nats, rounded with the parity spelling.
# ---------------------------------------------------------------------------

@register("mutual_info_event_dow", f"""
WITH obs AS (
    SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, SUM(o) AS rt FROM obs GROUP BY 1),
ct AS (SELECT dow, SUM(o) AS ct FROM obs GROUP BY 1),
n AS (SELECT SUM(o) AS n FROM obs),
terms AS (
    SELECT obs.event_type, obs.dow,
           (CAST(o AS DOUBLE) / CAST(n.n AS DOUBLE))
           * ln((CAST(o AS DOUBLE) * CAST(n.n AS DOUBLE))
                / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE))) AS term
    FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
),
folded AS (
    SELECT count(*) AS n_cells,
           {ordered_sum_sql("term", "event_type, dow")} AS s
    FROM terms
)
SELECT CAST(n_cells AS BIGINT) AS n_cells,
       {round_sql('s')} + 0.0 AS mi_nats
FROM folded
""")
def mutual_info_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and day of week
    from the exact contingency counts — cell terms folded in pinned
    (type, dow) order like the chi-square twin."""
    ev = load_table(spark, sf_dir, "events")
    obs = (ev.select("event_type", F.dayofweek("ts").alias("dow"))
           .groupBy("event_type", "dow").agg(F.count("*").alias("o")))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    od, nd = F.col("o").cast("double"), F.col("n").cast("double")
    rtd, ctd = F.col("rt").cast("double"), F.col("ct").cast("double")
    term = (od / nd) * F.log((od * nd) / (rtd * ctd))
    cells = (obs.join(F.broadcast(rt), "event_type")
             .join(F.broadcast(ct), "dow")
             .crossJoin(F.broadcast(n))
             .select("event_type", "dow", term.alias("term")))
    folded = cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        ordered_sum("term", "event_type", "dow").alias("s"))
    return folded.select("n_cells",
                         (F.round("s", 6) + 0.0).alias("mi_nats"))


# ---------------------------------------------------------------------------
# Autocorrelation function of the total daily arrival series, lags
# 1..7 — the standard time-series diagnostic, computed per lag from
# exact integer sums over the lag-joined pairs:
#   r_k = (m*sxy - sx*sy) / (sqrt(m*sxx - sx^2) * sqrt(m*syy - sy^2))
# (the sample cross-correlation of the series with its k-shift; pair
# sums are integers, so the per-lag statistic is one deterministic
# double expression).
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@register("acf_daily_counts", f"""
WITH daily AS (
    SELECT date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts))
             AS t,
           count(*) AS cnt
    FROM events GROUP BY 1
),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
pairs AS (
    SELECT l.lag, a.cnt AS x, b.cnt AS y
    FROM lags l
    JOIN daily a ON TRUE
    JOIN daily b ON b.t = a.t + l.lag
),
sums AS (
    SELECT lag, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, m,
       round(CASE WHEN CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0.0
                    OR CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <= 0.0
                  THEN NULL
                  ELSE (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (sqrt(CAST(m AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                          * sqrt(CAST(m AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy))
             END, 6) + 0.0 AS acf
FROM sums
""")
def acf_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the total daily count series.

    The daily relation is tiny (one row per day), so the lag join is a
    broadcast self-join over it; every sum is an exact integer and the
    per-lag statistic one shared-spelling double expression."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.datediff(F.date_trunc("day", "ts"),
                   F.lit("2024-01-01").cast("timestamp")).alias("t"))
        .agg(F.count("*").alias("cnt")))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("x"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("y"))
    pairs = (lags.crossJoin(F.broadcast(a))
             .join(F.broadcast(b),
                   F.col("tb") == F.col("ta") + F.col("lag")))
    sums = (pairs.groupBy("lag")
            .agg(F.count("*").cast("long").alias("m"),
                 F.sum("x").cast("long").alias("sx"),
                 F.sum("y").cast("long").alias("sy"),
                 F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
                 F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
                 F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy")))
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # Degenerate guard (ADVICE r04): constant series -> zero variance
    # term -> Spark NULL vs DuckDB inf/NaN without an explicit branch
    # on the same double-precision terms in both engines.
    r = F.when((m * sxx - sx * sx <= 0.0) | (m * syy - sy * sy <= 0.0),
               F.lit(None).cast("double")
               ).otherwise(
        (m * sxy - sx * sy)
        / (F.sqrt(m * sxx - sx * sx) * F.sqrt(m * syy - sy * sy)))
    return sums.select("lag", "m", (F.round(r, 6) + 0.0).alias("acf"))
