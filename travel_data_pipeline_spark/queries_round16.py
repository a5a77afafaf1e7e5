"""Round-16 candidate queries (written in round 11).

- setops_halfwindow_pairs: closes the LAST unexercised capability
  class SURVEY.md §2.6 names (VERDICT r10 #4) — ``intersect`` /
  ``except`` / ``exceptAll`` / ``intersectAll`` over the (user,
  event_type) pairs of the event window's two halves, read out as
  per-type retention/loss/bag-imbalance counts.  The reference never
  needs set ops (its _archive merge is concat-only), so this is a
  capability-matrix closure on the engine side, same as the r09 cube
  ceiling.

Float discipline: all outputs are exact integer counts — no rounding
needed anywhere (registry.py docstring authoritative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)
from travel_data_pipeline_spark.functions.parity import (
    ordered_fold, ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Set operations over the half-window split (§2.6 closure).
#
# A = (user_id, event_type) rows from days 0-14, B = days 15+.
# Four legs, one per set-op semantics:
#   retained  = A INTERSECT B      (distinct pairs active in both)
#   lost      = A EXCEPT B         (distinct pairs that churned)
#   common    = A INTERSECT ALL B  (bag: min(count_A, count_B))
#   excess    = A EXCEPT ALL B     (bag: max(count_A - count_B, 0))
# Readout: per-event-type counts of each leg, LEFT-joined onto the
# distinct type list (engine-wide J8 LEFT policy) with 0 defaults.
#
# Scale shape: each set op is a single hash shuffle keyed on the full
# (user, type) row — same key for all four legs, so AQE reuses the
# exchange; the readout aggregations collapse to |event_type| rows.
# No floats anywhere.
# ---------------------------------------------------------------------------

_SETOPS_ORACLE = """
WITH mind AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
pairs AS MATERIALIZED (
    SELECT user_id, event_type,
           date_diff('day', d0, date_trunc('day', ts)) AS dd
    FROM events CROSS JOIN mind
),
a AS MATERIALIZED (SELECT user_id, event_type FROM pairs WHERE dd < 15),
b AS MATERIALIZED (SELECT user_id, event_type FROM pairs WHERE dd >= 15),
retained AS (SELECT * FROM a INTERSECT SELECT * FROM b),
lost     AS (SELECT * FROM a EXCEPT SELECT * FROM b),
common   AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
excess   AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
SELECT t.event_type,
       CAST(COALESCE(r.n, 0) AS BIGINT) AS n_retained_pairs,
       CAST(COALESCE(l.n, 0) AS BIGINT) AS n_lost_pairs,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_common_rows,
       CAST(COALESCE(e.n, 0) AS BIGINT) AS n_excess_rows
FROM (SELECT DISTINCT event_type FROM events) t
LEFT JOIN (SELECT event_type, count(*) AS n FROM retained GROUP BY 1) r
       ON r.event_type = t.event_type
LEFT JOIN (SELECT event_type, count(*) AS n FROM lost GROUP BY 1) l
       ON l.event_type = t.event_type
LEFT JOIN (SELECT event_type, count(*) AS n FROM common GROUP BY 1) c
       ON c.event_type = t.event_type
LEFT JOIN (SELECT event_type, count(*) AS n FROM excess GROUP BY 1) e
       ON e.event_type = t.event_type
"""


@register("setops_halfwindow_pairs", _SETOPS_ORACLE)
def setops_halfwindow_pairs(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """intersect / except / exceptAll / intersectAll over the (user,
    event_type) pairs of the window's two halves — §2.6 closure."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    pairs = (ev.crossJoin(F.broadcast(d0))
             .select("user_id", "event_type",
                     F.datediff(F.date_trunc("day", "ts"), "d0")
                     .alias("dd")))
    a = pairs.filter(F.col("dd") < 15).select("user_id", "event_type")
    b = pairs.filter(F.col("dd") >= 15).select("user_id", "event_type")

    def leg_counts(leg: DataFrame, col: str) -> DataFrame:
        return (leg.groupBy("event_type")
                .agg(F.count("*").cast("long").alias(col)))

    types = ev.select("event_type").distinct()
    out = (types
           .join(leg_counts(a.intersect(b), "n_retained_pairs"),
                 "event_type", "left")
           .join(leg_counts(a.subtract(b), "n_lost_pairs"),
                 "event_type", "left")
           .join(leg_counts(a.intersectAll(b), "n_common_rows"),
                 "event_type", "left")
           .join(leg_counts(a.exceptAll(b), "n_excess_rows"),
                 "event_type", "left"))
    return out.select(
        "event_type",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
          for c in ("n_retained_pairs", "n_lost_pairs",
                    "n_common_rows", "n_excess_rows")])


# ---------------------------------------------------------------------------
# Batch A — series / rank statistics over the daily event grid.
#
# All four series queries follow the acf_daily_counts discipline
# (queries_stats.py): the daily relation is one row per day, so pair
# enumeration is a bounded broadcast self-join and every sum is an
# exact integer; the statistic is ONE shared-spelling double
# expression evaluated once per output row, with explicit degenerate
# branches in both engines.
# ---------------------------------------------------------------------------

_DAY_ANCHOR = "2024-01-01"


def _daily_counts(ev: DataFrame, event_type: str | None = None):
    d = ev if event_type is None else ev.filter(
        F.col("event_type") == event_type)
    return (d.groupBy(
        F.datediff(F.date_trunc("day", "ts"),
                   F.lit(_DAY_ANCHOR).cast("timestamp")).alias("t"))
        .agg(F.count("*").alias("cnt")))


_DAILY_SQL = (f"SELECT date_diff('day', TIMESTAMP '{_DAY_ANCHOR}', "
              f"date_trunc('day', ts)) AS t, count(*) AS cnt "
              f"FROM events {{where}} GROUP BY 1")


# --- cross-correlation: do views LEAD purchases? -------------------------

_CCF_MAX_LAG = 3

_CCF_R = ("CASE WHEN CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0.0"
          " OR CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <= 0.0"
          " THEN NULL"
          " ELSE (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
          " / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
          " * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
          " END")


@register("ccf_view_purchase", f"""
WITH v AS ({_DAILY_SQL.format(where="WHERE event_type = 'view'")}),
p AS ({_DAILY_SQL.format(where="WHERE event_type = 'purchase'")}),
lags AS (SELECT unnest(generate_series(0, {_CCF_MAX_LAG})) AS lag),
pairs AS (
    SELECT l.lag, v.cnt AS x, p.cnt AS y
    FROM lags l JOIN v ON TRUE JOIN p ON p.t = v.t + l.lag
),
sums AS (
    SELECT lag, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, m, round({_CCF_R}, 6) + 0.0 AS ccf
FROM sums
""")
def ccf_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of daily view counts with purchase counts
    `lag` days LATER (lags 0..3) — the lead-indicator diagnostic; the
    lag-0 row is the plain Pearson correlation of the two series."""
    ev = load_table(spark, sf_dir, "events")
    v = _daily_counts(ev, "view").select(F.col("t").alias("ta"),
                                         F.col("cnt").alias("x"))
    p = _daily_counts(ev, "purchase").select(F.col("t").alias("tb"),
                                             F.col("cnt").alias("y"))
    lags = spark.range(0, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag"))
    pairs = (lags.crossJoin(F.broadcast(v))
             .join(F.broadcast(p),
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
    r = F.when((m * sxx - sx * sx <= 0.0) | (m * syy - sy * sy <= 0.0),
               F.lit(None).cast("double")
               ).otherwise((m * sxy - sx * sy)
                           / (F.sqrt(m * sxx - sx * sx)
                              * F.sqrt(m * syy - sy * sy)))
    return sums.select("lag", "m", (F.round(r, 6) + 0.0).alias("ccf"))


# --- Mann-Kendall monotone-trend test -------------------------------------

@register("mann_kendall_trend", """
WITH daily AS (
    SELECT date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts))
             AS t, count(*) AS cnt
    FROM events GROUP BY 1
),
pairs AS (
    SELECT CASE WHEN b.cnt > a.cnt THEN 1
                WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sgn
    FROM daily a JOIN daily b ON b.t > a.t
),
s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
             (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n
      FROM pairs),
ties AS (
    SELECT CAST(COALESCE(sum(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT)
             AS tie_term
    FROM (SELECT count(*) AS tc FROM daily GROUP BY cnt) g
    WHERE tc > 1
),
stat AS (
    SELECT s_stat, n,
           (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
            - CAST(tie_term AS DOUBLE)) / 18.0 AS var_s
    FROM s CROSS JOIN ties
)
SELECT n AS n_days, s_stat, round(var_s, 6) AS var_s,
       round(CASE WHEN s_stat = 0 THEN 0.0
                  WHEN var_s <= 0.0 THEN NULL
                  WHEN s_stat > 0
                    THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                  ELSE (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
             END, 6) + 0.0 AS z
FROM stat
""")
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test over the daily total count
    series: S statistic, tie-corrected variance, continuity-corrected
    z (Mann 1945 / Kendall 1975, public). theil_sen_daily_trend gives
    the slope; this is the significance test."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("xa"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    sgn = (F.when(F.col("xb") > F.col("xa"), 1)
           .when(F.col("xb") < F.col("xa"), -1).otherwise(0))
    s = (a.join(F.broadcast(b), F.col("tb") > F.col("ta"))
         .agg(F.sum(sgn).cast("long").alias("s_stat")))
    n_df = daily.agg(F.count("*").cast("long").alias("n"))
    ties = (daily.groupBy("cnt").agg(F.count("*").alias("tc"))
            .filter(F.col("tc") > 1)
            .agg(F.coalesce(F.sum(F.col("tc") * (F.col("tc") - 1)
                                  * (2 * F.col("tc") + 5)), F.lit(0))
                 .cast("long").alias("tie_term")))
    stat = (s.crossJoin(F.broadcast(n_df)).crossJoin(F.broadcast(ties))
            .select("s_stat", "n",
                    ((F.col("n").cast("double") * (F.col("n") - 1)
                      * (2 * F.col("n") + 5)
                      - F.col("tie_term").cast("double")) / 18.0)
                    .alias("var_s")))
    sd = F.col("s_stat").cast("double")
    z = (F.when(F.col("s_stat") == 0, F.lit(0.0))
         .when(F.col("var_s") <= 0.0, F.lit(None).cast("double"))
         .when(F.col("s_stat") > 0, (sd - 1.0) / F.sqrt("var_s"))
         .otherwise((sd + 1.0) / F.sqrt("var_s")))
    return stat.select(F.col("n").alias("n_days"), "s_stat",
                       F.round("var_s", 6).alias("var_s"),
                       (F.round(z, 6) + 0.0).alias("z"))


# --- Kendall tau-b between the two daily series ----------------------------

@register("kendall_tau_daily", """
WITH v AS (SELECT date_diff('day', TIMESTAMP '2024-01-01',
                            date_trunc('day', ts)) AS t, count(*) AS x
           FROM events WHERE event_type = 'view' GROUP BY 1),
p AS (SELECT date_diff('day', TIMESTAMP '2024-01-01',
                       date_trunc('day', ts)) AS t, count(*) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
xy AS MATERIALIZED (SELECT v.t, v.x, p.y FROM v JOIN p ON p.t = v.t),
pairs AS (
    SELECT (b.x - a.x) * (b.y - a.y) AS prod,
           CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
           CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
    FROM xy a JOIN xy b ON b.t > a.t
),
cnt AS (
    SELECT CAST(count(*) AS BIGINT) AS n0,
           CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           CAST(SUM(tx) AS BIGINT) AS tied_x,
           CAST(SUM(ty) AS BIGINT) AS tied_y
    FROM pairs
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM xy) AS n_days,
       concordant, discordant,
       round(CASE WHEN (n0 - tied_x) <= 0 OR (n0 - tied_y) <= 0 THEN NULL
                  ELSE CAST(concordant - discordant AS DOUBLE)
                       / sqrt(CAST(n0 - tied_x AS DOUBLE)
                              * CAST(n0 - tied_y AS DOUBLE))
             END, 6) + 0.0 AS tau_b
FROM cnt
""")
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (tie-corrected) between the daily view and
    purchase count series — the rank-based dependence sibling of the
    Pearson ccf lag-0 row."""
    ev = load_table(spark, sf_dir, "events")
    v = _daily_counts(ev, "view").select("t", F.col("cnt").alias("x"))
    p = _daily_counts(ev, "purchase").select(F.col("t").alias("tp"),
                                             F.col("cnt").alias("y"))
    xy = v.join(p, F.col("tp") == F.col("t")).select("t", "x", "y")
    a = xy.select(F.col("t").alias("ta"), F.col("x").alias("xa"),
                  F.col("y").alias("ya"))
    b = xy.select(F.col("t").alias("tb"), F.col("x").alias("xb"),
                  F.col("y").alias("yb"))
    prod = (F.col("xb") - F.col("xa")) * (F.col("yb") - F.col("ya"))
    pairs = a.join(F.broadcast(b), F.col("tb") > F.col("ta"))
    cnt = pairs.agg(
        F.count("*").cast("long").alias("n0"),
        F.sum(F.when(prod > 0, 1).otherwise(0)).cast("long")
        .alias("concordant"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).cast("long")
        .alias("discordant"),
        F.sum(F.when(F.col("xb") == F.col("xa"), 1).otherwise(0))
        .cast("long").alias("tied_x"),
        F.sum(F.when(F.col("yb") == F.col("ya"), 1).otherwise(0))
        .cast("long").alias("tied_y"))
    n_days = xy.agg(F.count("*").cast("long").alias("n_days"))
    dx = (F.col("n0") - F.col("tied_x")).cast("double")
    dy = (F.col("n0") - F.col("tied_y")).cast("double")
    tau = (F.when((F.col("n0") - F.col("tied_x") <= 0)
                  | (F.col("n0") - F.col("tied_y") <= 0),
                  F.lit(None).cast("double"))
           .otherwise((F.col("concordant") - F.col("discordant"))
                      .cast("double") / F.sqrt(dx * dy)))
    return (cnt.crossJoin(F.broadcast(n_days))
            .select("n_days", "concordant", "discordant",
                    (F.round(tau, 6) + 0.0).alias("tau_b")))


# ---------------------------------------------------------------------------
# Log-rank test between the md5 A/B arms on active-day lifetimes.
#
# The two-sample survival test kaplan_meier_lifetime /
# nelson_aalen_hazard lack: at every death time t,
#   E1_t = d_t * n1_t / n_t
#   V_t  = d_t * (n1_t/n_t) * (n2_t/n_t) * (n_t - d_t)/(n_t - 1)
# and chi2 = (O1 - E1)^2 / V  (Mantel 1966, public).  Lifetime and
# censoring follow nelson_aalen_hazard (active-day count; censored =
# active on the global max day).  Arms reuse the 'ab:' md5 split.
#
# Float discipline: every per-time term derives from exact integers
# with ONE shared spelling; the two cross-time sums are POSITION-
# PINNED sorted folds (t-ordered), so both engines add in the same
# order.  n_t<=1 times contribute V_t = 0 by explicit branch.
#
# Scale shape: one grouped pass over events -> per-user firsts; the
# grid is |distinct lifetimes| x 2 — day-grained and bounded, so all
# windows/folds run on a broadcast-sized relation.
# ---------------------------------------------------------------------------

_LR_E1 = "CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)"
_LR_V = ("CASE WHEN n1 + n2 <= 1 THEN 0.0 ELSE "
         "CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2) * n2 / (n1 + n2) "
         "* (n1 + n2 - d1 - d2) / (n1 + n2 - 1) END")

_LR_ARM = f"CASE WHEN ({md5_long_sql(chr(39) + 'ab:' + chr(39) + ' || CAST(user_id AS VARCHAR)')} % 2) = 0 THEN 0 ELSE 1 END"


@register("logrank_arms", f"""
WITH life AS MATERIALIZED (
    SELECT user_id, {_LR_ARM} AS arm,
           count(DISTINCT date_trunc('day', ts)) AS t,
           CASE WHEN max(date_trunc('day', ts))
                     = (SELECT max(date_trunc('day', ts)) FROM events)
                THEN 1 ELSE 0 END AS censored
    FROM events GROUP BY user_id
),
byt AS (
    SELECT arm, t, SUM(1 - censored) AS d, SUM(censored) AS c
    FROM life GROUP BY arm, t
),
grid AS (
    SELECT g.t, a.arm, COALESCE(b.d, 0) AS d, COALESCE(b.c, 0) AS c
    FROM (SELECT DISTINCT t FROM life) g
    CROSS JOIN (SELECT 0 AS arm UNION ALL SELECT 1) a
    LEFT JOIN byt b ON b.t = g.t AND b.arm = a.arm
),
risk AS (
    SELECT t, arm, d,
           SUM(d + c) OVER (PARTITION BY arm)
             - COALESCE(SUM(d + c) OVER (PARTITION BY arm ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS n_risk
    FROM grid
),
wide AS MATERIALIZED (
    SELECT t,
           CAST(SUM(CASE WHEN arm = 0 THEN d END) AS BIGINT) AS d1,
           CAST(SUM(CASE WHEN arm = 1 THEN d END) AS BIGINT) AS d2,
           CAST(SUM(CASE WHEN arm = 0 THEN n_risk END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN arm = 1 THEN n_risk END) AS BIGINT) AS n2
    FROM risk GROUP BY t
    HAVING SUM(CASE WHEN arm = 0 THEN d END)
         + SUM(CASE WHEN arm = 1 THEN d END) > 0
),
folded AS (
    SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           {ordered_sum_sql(_LR_E1, "t")} AS e1,
           {ordered_sum_sql(_LR_V, "t")} AS v
    FROM wide
)
SELECT o1, {round_sql('e1')} AS e1, {round_sql('v')} AS var_lr,
       CASE WHEN v <= 0.0 THEN NULL
            ELSE {round_sql('(o1 - e1) * (o1 - e1) / v')}
       END AS chi2
FROM folded
""")
def logrank_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (O1/E1/variance/chi2) between the md5
    A/B arms on active-day lifetimes."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    arm = (md5_long(F.concat(F.lit("ab:"),
                             F.col("user_id").cast("string"))) % 2)
    life = (ev.groupBy("user_id")
            .agg(F.countDistinct(day).alias("t"),
                 F.max(day).alias("last_d"),
                 arm.alias("arm")))
    max_day = ev.agg(F.max(day).alias("max_d"))
    life = (life.crossJoin(F.broadcast(max_day))
            .select("arm", F.col("t").cast("long").alias("t"),
                    F.when(F.col("last_d") == F.col("max_d"), 1)
                     .otherwise(0).alias("censored")))
    byt = (life.groupBy("arm", "t")
           .agg(F.sum(1 - F.col("censored")).alias("d"),
                F.sum("censored").alias("c")))
    arms = local_relation(byt.sparkSession, [(0,), (1,)], "arm int")
    grid = (life.select("t").distinct()
            .crossJoin(F.broadcast(arms))
            .join(byt, ["t", "arm"], "left")
            .select("t", "arm", F.coalesce("d", F.lit(0)).alias("d"),
                    F.coalesce("c", F.lit(0)).alias("c")))
    w_all = Window.partitionBy("arm")
    w_prev = (Window.partitionBy("arm").orderBy("t")
              .rowsBetween(Window.unboundedPreceding, -1))
    risk = grid.select(
        "t", "arm", "d",
        (F.sum(F.col("d") + F.col("c")).over(w_all)
         - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev),
                      F.lit(0))).alias("n_risk"))
    wide = (risk.groupBy("t")
            .agg(F.sum(F.when(F.col("arm") == 0, F.col("d"))).cast("long")
                 .alias("d1"),
                 F.sum(F.when(F.col("arm") == 1, F.col("d"))).cast("long")
                 .alias("d2"),
                 F.sum(F.when(F.col("arm") == 0, F.col("n_risk")))
                 .cast("long").alias("n1"),
                 F.sum(F.when(F.col("arm") == 1, F.col("n_risk")))
                 .cast("long").alias("n2"))
            .filter(F.col("d1") + F.col("d2") > 0))

    def terms(x):
        dt = (x["d1"] + x["d2"]).cast("double")
        nt = x["n1"] + x["n2"]
        e1 = dt * x["n1"] / nt
        v = (F.when(nt <= 1, F.lit(0.0))
             .otherwise(dt * x["n1"] / nt * x["n2"] / nt
                        * (nt - x["d1"] - x["d2"])
                        / (nt - 1)))
        return e1, v

    folded = wide.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.array_sort(F.collect_list(
            F.struct("t", "d1", "d2", "n1", "n2"))).alias("ss"))
    e1_sum = ordered_fold("ss", lambda x: terms(x)[0])
    v_sum = ordered_fold("ss", lambda x: terms(x)[1])
    folded = folded.select("o1", e1_sum.alias("e1"), v_sum.alias("v"))
    chi2 = (F.when(F.col("v") <= 0.0, F.lit(None).cast("double"))
            .otherwise(F.round((F.col("o1") - F.col("e1"))
                               * (F.col("o1") - F.col("e1"))
                               / F.col("v"), 6)))
    return folded.select("o1", F.round("e1", 6).alias("e1"),
                         F.round("v", 6).alias("var_lr"),
                         chi2.alias("chi2"))


# ---------------------------------------------------------------------------
# Average precision (AP) of a popularity ranking against PROMO labels.
#
# The ranking-eval metric classifier_auc_rank (ROC-AUC) lacks: rank
# parts by order count (the "recommender score"), label = p_type
# starts with 'PROMO', AP = (1/P) * sum over positives of
# precision@rank = cum_pos/rank.  Every rank and cumulative count is
# an exact integer; each positive contributes ONE division, and the
# cross-rank sum is a position-pinned fold (rank-ordered), so both
# engines add identically.
#
# Scale shape: the global (cnt DESC, partkey) rank runs through
# two_phase_ordered (no partitionless sort over the data-scaled part
# relation); the fold list holds one entry per POSITIVE — label-
# bounded, not corpus-bounded.
# ---------------------------------------------------------------------------

@register("average_precision_rank", f"""
WITH cnts AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
items AS MATERIALIZED (
    SELECT p.p_partkey, COALESCE(c.cnt, 0) AS cnt,
           CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS pos
    FROM part p LEFT JOIN cnts c ON c.l_partkey = p.p_partkey
),
ranked AS (
    SELECT pos,
           row_number() OVER (ORDER BY cnt DESC, p_partkey) AS rnk,
           SUM(pos) OVER (ORDER BY cnt DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_pos
    FROM items
),
folded AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM items) AS n_items,
           -- from items with COALESCE: zero-positive corpora must
           -- read 0, not the empty-aggregate NULL (review r11)
           (SELECT CAST(COALESCE(SUM(pos), 0) AS BIGINT) FROM items)
             AS n_pos,
           {ordered_sum_sql("CAST(cum_pos AS DOUBLE) / rnk", "rnk")} AS ap_sum
    FROM ranked WHERE pos = 1
)
SELECT n_items, n_pos,
       CASE WHEN n_pos = 0 THEN NULL
            ELSE {round_sql('ap_sum / n_pos')} END AS avg_precision
FROM folded
""")
def average_precision_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision of the order-count part ranking against the
    PROMO part-type label (tie-break partkey asc; global rank via
    two_phase_ordered)."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    li = load_table(spark, sf_dir, "lineitem")
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.when(F.col("p_type").startswith("PROMO"), 1)
        .otherwise(0).alias("pos"))
    cnts = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.count("*").alias("cnt"))
    items = (parts.join(cnts, "p_partkey", "left")
             .select("p_partkey", "pos",
                     F.coalesce("cnt", F.lit(0)).alias("cnt")))
    # bucket key: non-decreasing along (cnt DESC, partkey ASC); the
    # fractional partkey term lets quantiles split tie-heavy counts
    bucket = (-F.col("cnt").cast("double")
              + F.col("p_partkey").cast("double") * F.lit(1e-12))
    ranked = two_phase_ordered(
        items, [F.col("cnt").desc(), F.col("p_partkey").asc()], bucket,
        rank_col="rnk", cumsum_cols={"pos": "cum_pos"})
    n_df = items.agg(F.count("*").cast("long").alias("n_items"),
                     F.sum("pos").cast("long").alias("n_pos"))
    folded = (ranked.filter(F.col("pos") == 1)
              .agg(ordered_sum(F.col("cum_pos").cast("double")
                               / F.col("rnk").cast("double"), "rnk")
                   .alias("ap_sum")))
    ap = (F.when(F.col("n_pos") == 0, F.lit(None).cast("double"))
          .otherwise(F.round(F.col("ap_sum") / F.col("n_pos"), 6)))
    return (folded.crossJoin(F.broadcast(n_df))
            .select("n_items", "n_pos", ap.alias("avg_precision")))


# ---------------------------------------------------------------------------
# Batch B — k-sample / rank-statistics suite over order values.
#
# The experiment-readout family (mann_whitney_arms, trimmed_mean_ate,
# logrank_arms) covers TWO-sample tests; this batch adds the k-sample
# and correlation siblings, all on the exact value-group rank
# machinery from queries_round12:
#
#   2*avg_rank(value group) = 2*cum_before + cnt + 1     (integer!)
#
# so every rank sum is an exact decimal and only the final statistic
# is a double expression with ONE shared spelling.  The global
# value-group cumsum rides two_phase_ordered (cumsum over exact longs
# — no partitionless sort over the data-scaled value list).
# ---------------------------------------------------------------------------

_KW_ARMS = 4
_KW_ARM = (f"CAST({md5_long_sql(chr(39) + 'kw:' + chr(39) + ' || CAST(o_custkey AS VARCHAR)')} % {_KW_ARMS} AS INT)")

_Y_DEC = "CAST(o_totalprice AS DECIMAL(18,2))"


def _kw_arm_col():
    return (md5_long(F.concat(F.lit("kw:"),
                              F.col("o_custkey").cast("string")))
            % _KW_ARMS).cast("int")


# --- Spearman rho between the daily view / purchase series ----------------

@register("spearman_rank_daily", f"""
WITH v AS (SELECT date_diff('day', TIMESTAMP '2024-01-01',
                            date_trunc('day', ts)) AS t, count(*) AS x
           FROM events WHERE event_type = 'view' GROUP BY 1),
p AS (SELECT date_diff('day', TIMESTAMP '2024-01-01',
                       date_trunc('day', ts)) AS t, count(*) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
xy AS MATERIALIZED (SELECT v.t, v.x, p.y FROM v JOIN p ON p.t = v.t),
ranked AS (
    -- 2*average-rank stays integral under ties: 2*#(below) + #(tied,
    -- incl. self) + ... ; the self-join is over the bounded day grid
    SELECT a.t,
           2 * SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
             + SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1 AS rx2,
           2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
             + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1 AS ry2
    FROM xy a JOIN xy b ON TRUE
    GROUP BY a.t, a.x, a.y
),
sums AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
           CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
           CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
           CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
    FROM ranked
)
SELECT m AS n_days, round({_CCF_R}, 6) + 0.0 AS rho
FROM sums
""")
def spearman_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-corrected: Pearson on average
    ranks) between the daily view and purchase count series — the
    monotone-dependence sibling of kendall_tau_daily.  2*avg_rank is
    integral even under ties, so every moment is an exact integer and
    rho shares the ccf_view_purchase Pearson spelling."""
    ev = load_table(spark, sf_dir, "events")
    v = _daily_counts(ev, "view").select("t", F.col("cnt").alias("x"))
    p = _daily_counts(ev, "purchase").select(F.col("t").alias("tp"),
                                             F.col("cnt").alias("y"))
    xy = v.join(p, F.col("tp") == F.col("t")).select("t", "x", "y")
    b = xy.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    ranked = (xy.join(F.broadcast(b))
              .groupBy("t", "x", "y")
              .agg((2 * F.sum(F.when(F.col("xb") < F.col("x"), 1)
                              .otherwise(0))
                    + F.sum(F.when(F.col("xb") == F.col("x"), 1)
                            .otherwise(0)) + 1).alias("rx2"),
                   (2 * F.sum(F.when(F.col("yb") < F.col("y"), 1)
                              .otherwise(0))
                    + F.sum(F.when(F.col("yb") == F.col("y"), 1)
                            .otherwise(0)) + 1).alias("ry2")))
    sums = ranked.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"))
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    r = F.when((m * sxx - sx * sx <= 0.0) | (m * syy - sy * sy <= 0.0),
               F.lit(None).cast("double")
               ).otherwise((m * sxy - sx * sy)
                           / (F.sqrt(m * sxx - sx * sx)
                              * F.sqrt(m * syy - sy * sy)))
    return sums.select(F.col("m").alias("n_days"),
                       (F.round(r, 6) + 0.0).alias("rho"))


# --- Kruskal-Wallis H across the 4 md5 order-value arms --------------------
#
#   R_arm (rank sum) from half-unit ranks: 2*R_arm = sum over value
#   groups cnt_arm_g * (2*cum_before_g + cnt_g + 1)   (exact decimal)
#   H  = 12/(N(N+1)) * sum_arms (R_arm^2 / n_arm) - 3(N+1)
#   Hc = H / (1 - sum(t^3 - t)/(N^3 - N))             (tie correction)
#
# (Kruskal & Wallis 1952, public.)  The 4-arm sum is a FIXED-ORDER
# expression tree (arm 0 + 1 + 2 + 3), identical in both engines; the
# big decimals bridge to double through their exact string rendering
# (parity.py magnitude hazard).
# ---------------------------------------------------------------------------

@register("kruskal_wallis_arms", f"""
WITH units AS (SELECT {_KW_ARM} AS arm, {_Y_DEC} AS y FROM orders),
vals AS (
    SELECT y, COUNT(*) AS cnt,
           SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
           SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1,
           SUM(CASE WHEN arm = 2 THEN 1 ELSE 0 END) AS c2,
           SUM(CASE WHEN arm = 3 THEN 1 ELSE 0 END) AS c3
    FROM units GROUP BY y
),
ranked AS (
    SELECT *, SUM(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cum
    FROM vals
),
agg AS (
    SELECT SUM(cnt) AS n,
           SUM(c0) AS n0, SUM(c1) AS n1, SUM(c2) AS n2, SUM(c3) AS n3,
           SUM(CAST(c0 AS DECIMAL(38,0))
               * (2 * (cum - cnt) + cnt + 1)) AS r20,
           SUM(CAST(c1 AS DECIMAL(38,0))
               * (2 * (cum - cnt) + cnt + 1)) AS r21,
           SUM(CAST(c2 AS DECIMAL(38,0))
               * (2 * (cum - cnt) + cnt + 1)) AS r22,
           SUM(CAST(c3 AS DECIMAL(38,0))
               * (2 * (cum - cnt) + cnt + 1)) AS r23,
           SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt) AS ties,
           SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS tie_groups
    FROM ranked
),
t AS (
    SELECT n, n0, n1, n2, n3, tie_groups,
           CAST(n AS DOUBLE) AS nd,
           CAST(CAST(r20 AS VARCHAR) AS DOUBLE) AS r20d,
           CAST(CAST(r21 AS VARCHAR) AS DOUBLE) AS r21d,
           CAST(CAST(r22 AS VARCHAR) AS DOUBLE) AS r22d,
           CAST(CAST(r23 AS VARCHAR) AS DOUBLE) AS r23d,
           CAST(CAST(ties AS VARCHAR) AS DOUBLE) AS tiesd
    FROM agg
),
t2 AS (
    SELECT *,
           12.0 / (nd * (nd + 1.0))
             * ((r20d / 2.0) * (r20d / 2.0) / n0
                + (r21d / 2.0) * (r21d / 2.0) / n1
                + (r22d / 2.0) * (r22d / 2.0) / n2
                + (r23d / 2.0) * (r23d / 2.0) / n3)
             - 3.0 * (nd + 1.0) AS h,
           1.0 - tiesd / (nd * nd * nd - nd) AS tie_denom
    FROM t
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n0 AS BIGINT) AS n_arm0, CAST(n1 AS BIGINT) AS n_arm1,
       CAST(n2 AS BIGINT) AS n_arm2, CAST(n3 AS BIGINT) AS n_arm3,
       CAST(tie_groups AS BIGINT) AS tie_groups,
       CASE WHEN n <= 1 OR n0 = 0 OR n1 = 0 OR n2 = 0 OR n3 = 0
            THEN NULL ELSE {round_sql('h')} + 0.0 END AS h_stat,
       CASE WHEN n <= 1 OR n0 = 0 OR n1 = 0 OR n2 = 0 OR n3 = 0
              OR tie_denom <= 0.0
            THEN NULL ELSE {round_sql('h / tie_denom')} + 0.0
       END AS h_tie_corrected
FROM t2
""")
def kruskal_wallis_arms(spark: SparkSession, sf_dir: str,
                        units: DataFrame | None = None) -> DataFrame:
    """Exact tie-corrected Kruskal-Wallis H across the 4 md5 customer
    arms on order values — the k-sample extension of
    mann_whitney_arms.  ``units`` (columns arm, y) lets stress tools
    drive this exact code path with synthetic arms."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    if units is None:
        orders = load_table(spark, sf_dir, "orders")
        units = orders.select(
            _kw_arm_col().alias("arm"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"))
    vals = units.groupBy("y").agg(
        F.count("*").alias("cnt"),
        *[F.sum(F.when(F.col("arm") == a, 1).otherwise(0))
          .alias(f"c{a}") for a in range(_KW_ARMS)])
    ranked = two_phase_ordered(
        vals, [F.col("y").asc()],
        bucket_on=F.col("y").cast("double"),
        cumsum_cols={"cnt": "cum"})
    rank2 = 2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1
    agg = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        *[F.sum(f"c{a}").cast("long").alias(f"n{a}")
          for a in range(_KW_ARMS)],
        *[F.sum(F.col(f"c{a}").cast("decimal(38,0)") * rank2)
          .alias(f"r2{a}") for a in range(_KW_ARMS)],
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")
              * F.col("cnt") - F.col("cnt")).alias("ties"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("long")
        .alias("tie_groups"))
    nd = F.col("n").cast("double")
    rd = [F.col(f"r2{a}").cast("string").cast("double")
          for a in range(_KW_ARMS)]
    tiesd = F.col("ties").cast("string").cast("double")
    h = (F.lit(12.0) / (nd * (nd + 1.0))
         * sum(((r / 2.0) * (r / 2.0) / F.col(f"n{a}"))
               for a, r in enumerate(rd))
         - 3.0 * (nd + 1.0))
    tie_denom = F.lit(1.0) - tiesd / (nd * nd * nd - nd)
    degenerate = (F.col("n") <= 1)
    for a in range(_KW_ARMS):
        degenerate = degenerate | (F.col(f"n{a}") == 0)
    nulld = F.lit(None).cast("double")
    return agg.select(
        "n", *[F.col(f"n{a}").alias(f"n_arm{a}") for a in range(_KW_ARMS)],
        "tie_groups",
        F.when(degenerate, nulld)
        .otherwise(F.round(h, 6) + 0.0).alias("h_stat"),
        F.when(degenerate | (tie_denom <= 0.0), nulld)
        .otherwise(F.round(h / tie_denom, 6) + 0.0)
        .alias("h_tie_corrected"))


# --- Cliff's delta between the experiment arms ------------------------------
#
#   delta = (#(t > c) - #(t < c)) / (n_t * n_c)
#
# the ordinal effect size companion of mann_whitney_arms' z (Cliff
# 1993; magnitude thresholds Romano et al. 2006 — public).  Pair
# counts come from the value-group cumsum: with control counts
# accumulated in value order,
#   #(t > c) = sum_g cnt_t_g * cumc_before_g
#   #(t < c) = sum_g cnt_t_g * (n_c - cumc_g)
#   #(t = c) = sum_g cnt_t_g * cnt_c_g
# — all exact decimals; same units relation as mann_whitney_arms.
# ---------------------------------------------------------------------------

def _cliffs_oracle() -> str:
    from travel_data_pipeline_spark.queries_round10 import ipw_units_sql

    return f"""
WITH {ipw_units_sql()},
vals AS (
    SELECT y, SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS ct,
           SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS cc
    FROM units GROUP BY y
),
ranked AS (
    SELECT *, SUM(cc) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cumc
    FROM vals
),
tot AS (SELECT SUM(ct) AS n_t, SUM(cc) AS n_c FROM vals),
agg AS (
    SELECT SUM(CAST(ct AS DECIMAL(38,0)) * (cumc - cc)) AS gt,
           SUM(CAST(ct AS DECIMAL(38,0)) * (tot.n_c - cumc)) AS lt,
           SUM(CAST(ct AS DECIMAL(38,0)) * cc) AS eq
    FROM ranked CROSS JOIN tot GROUP BY tot.n_t, tot.n_c
),
t AS (
    SELECT CAST(tot.n_t AS BIGINT) AS n_treat,
           CAST(tot.n_c AS BIGINT) AS n_ctrl,
           CAST(gt AS BIGINT) AS gt_pairs, CAST(lt AS BIGINT) AS lt_pairs,
           CAST(eq AS BIGINT) AS tie_pairs,
           CASE WHEN tot.n_t = 0 OR tot.n_c = 0 THEN NULL
                ELSE (CAST(CAST(gt AS VARCHAR) AS DOUBLE)
                      - CAST(CAST(lt AS VARCHAR) AS DOUBLE))
                     / (CAST(tot.n_t AS DOUBLE) * CAST(tot.n_c AS DOUBLE))
           END AS d
    FROM agg CROSS JOIN tot
)
SELECT n_treat, n_ctrl, gt_pairs, lt_pairs, tie_pairs,
       CASE WHEN d IS NULL THEN NULL
            ELSE {round_sql('d')} + 0.0 END AS cliffs_delta,
       CASE WHEN d IS NULL THEN 'undefined'
            WHEN abs(d) < 0.147 THEN 'negligible'
            WHEN abs(d) < 0.33 THEN 'small'
            WHEN abs(d) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM t
"""


@register("cliffs_delta_arms", lambda: _cliffs_oracle())
def cliffs_delta_arms(spark: SparkSession, sf_dir: str,
                      units: DataFrame | None = None) -> DataFrame:
    """Cliff's delta ordinal effect size between the experiment arms
    (exact pair counts via the value-group cumsum; Romano magnitude
    labels).  ``units`` (columns arm, y) is the stress-tool seam."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )
    from travel_data_pipeline_spark.queries_round10 import ipw_units

    if units is None:
        units = ipw_units(spark, sf_dir)
    units = units.select("arm", "y")
    vals = units.groupBy("y").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("cc"))
    ranked = two_phase_ordered(
        vals, [F.col("y").asc()],
        bucket_on=F.col("y").cast("double"),
        cumsum_cols={"cc": "cumc"})
    tot = vals.agg(F.sum("ct").cast("long").alias("n_t"),
                   F.sum("cc").cast("long").alias("n_c"))
    ctd = F.col("ct").cast("decimal(38,0)")
    agg = (ranked.crossJoin(F.broadcast(tot))
           .groupBy("n_t", "n_c")
           .agg(F.sum(ctd * (F.col("cumc") - F.col("cc"))).alias("gt"),
                F.sum(ctd * (F.col("n_c") - F.col("cumc"))).alias("lt"),
                F.sum(ctd * F.col("cc")).alias("eq")))
    d = F.when((F.col("n_t") == 0) | (F.col("n_c") == 0),
               F.lit(None).cast("double")).otherwise(
        (F.col("gt").cast("string").cast("double")
         - F.col("lt").cast("string").cast("double"))
        / (F.col("n_t").cast("double") * F.col("n_c").cast("double")))
    mag = (F.when(d.isNull(), "undefined")
           .when(F.abs(d) < 0.147, "negligible")
           .when(F.abs(d) < 0.33, "small")
           .when(F.abs(d) < 0.474, "medium")
           .otherwise("large"))
    return agg.select(
        F.col("n_t").alias("n_treat"), F.col("n_c").alias("n_ctrl"),
        F.col("gt").cast("long").alias("gt_pairs"),
        F.col("lt").cast("long").alias("lt_pairs"),
        F.col("eq").cast("long").alias("tie_pairs"),
        (F.round(d, 6) + 0.0).alias("cliffs_delta"),
        mag.alias("magnitude"))


# --- Brown-Forsythe (median-centered Levene) across the 4 arms -------------
#
# Variance-homogeneity test: z_i = |y_i - median(arm)|, then one-way
# ANOVA F on z (Brown & Forsythe 1974, public).  Everything runs in
# integer CENTS so all moments are exact:
#   med2_c = cents of (lo order stat + hi order stat)   (BIGINT)
#   z2c    = |2*y_c - med2_c|                           (BIGINT)
#   F      = (SSB/(k-1)) / (SSW/(N-k)) from per-arm (n, sum z2c,
#            sum z2c^2) — the cents scaling cancels in F.
# Per-arm medians come from the value-group cumsum: the Spark side
# rides ONE global two_phase_ordered pass in (arm, y) order with
# broadcast per-arm count offsets; the oracle uses the equivalent
# per-arm partitioned window.  No partitionless sort anywhere.
# ---------------------------------------------------------------------------

_BF_ARM = (f"CAST({md5_long_sql(chr(39) + 'bf:' + chr(39) + ' || CAST(o_custkey AS VARCHAR)')} % {_KW_ARMS} AS INT)")


def _bf_arm_col():
    return (md5_long(F.concat(F.lit("bf:"),
                              F.col("o_custkey").cast("string")))
            % _KW_ARMS).cast("int")


_BF_F_NUM = ("(n0 * (m0 - m) * (m0 - m) + n1 * (m1 - m) * (m1 - m)"
             " + n2 * (m2 - m) * (m2 - m) + n3 * (m3 - m) * (m3 - m))"
             " / 3.0")
_BF_F_DEN = ("((q0 - s0 * s0 / n0) + (q1 - s1 * s1 / n1)"
             " + (q2 - s2 * s2 / n2) + (q3 - s3 * s3 / n3))"
             " / (nn - 4.0)")


@register("brown_forsythe_arms", f"""
WITH units AS (
    SELECT {_BF_ARM} AS arm,
           CAST(o_totalprice * 100 AS BIGINT) AS yc
    FROM (SELECT {_Y_DEC} AS o_totalprice, o_custkey FROM orders)
),
vals AS (
    SELECT arm, yc, COUNT(*) AS cnt FROM units GROUP BY arm, yc
),
ranked AS (
    SELECT *, SUM(cnt) OVER (PARTITION BY arm ORDER BY yc
                             ROWS UNBOUNDED PRECEDING) AS cum_in
    FROM vals
),
arms AS (SELECT arm, SUM(cnt) AS n_arm FROM vals GROUP BY arm),
med AS (
    SELECT r.arm,
           SUM(yc * (CASE WHEN r.cum_in - r.cnt < (a.n_arm + 1) // 2
                           AND (a.n_arm + 1) // 2 <= r.cum_in
                          THEN 1 ELSE 0 END
                   + CASE WHEN r.cum_in - r.cnt < a.n_arm // 2 + 1
                           AND a.n_arm // 2 + 1 <= r.cum_in
                          THEN 1 ELSE 0 END)) AS med2c
    FROM ranked r JOIN arms a ON a.arm = r.arm
    GROUP BY r.arm
),
mom AS (
    SELECT v.arm, a.n_arm, m.med2c,
           SUM(CAST(v.cnt AS DECIMAL(38,0))
               * abs(2 * v.yc - m.med2c)) AS s1,
           SUM(CAST(v.cnt AS DECIMAL(38,0))
               * abs(2 * v.yc - m.med2c)
               * abs(2 * v.yc - m.med2c)) AS s2
    FROM vals v JOIN med m ON m.arm = v.arm
                JOIN arms a ON a.arm = v.arm
    GROUP BY v.arm, a.n_arm, m.med2c
),
wide AS (
    SELECT SUM(n_arm) AS n,
           SUM(CASE WHEN arm = 0 THEN n_arm END) AS w_n0,
           SUM(CASE WHEN arm = 1 THEN n_arm END) AS w_n1,
           SUM(CASE WHEN arm = 2 THEN n_arm END) AS w_n2,
           SUM(CASE WHEN arm = 3 THEN n_arm END) AS w_n3,
           SUM(CASE WHEN arm = 0 THEN s1 END) AS w_s0,
           SUM(CASE WHEN arm = 1 THEN s1 END) AS w_s1,
           SUM(CASE WHEN arm = 2 THEN s1 END) AS w_s2,
           SUM(CASE WHEN arm = 3 THEN s1 END) AS w_s3,
           SUM(CASE WHEN arm = 0 THEN s2 END) AS w_q0,
           SUM(CASE WHEN arm = 1 THEN s2 END) AS w_q1,
           SUM(CASE WHEN arm = 2 THEN s2 END) AS w_q2,
           SUM(CASE WHEN arm = 3 THEN s2 END) AS w_q3
    FROM mom
),
f AS (
    SELECT CAST(n AS DOUBLE) AS nn,
           CAST(w_n0 AS DOUBLE) AS n0, CAST(w_n1 AS DOUBLE) AS n1,
           CAST(w_n2 AS DOUBLE) AS n2, CAST(w_n3 AS DOUBLE) AS n3,
           CAST(CAST(w_s0 AS VARCHAR) AS DOUBLE) AS s0,
           CAST(CAST(w_s1 AS VARCHAR) AS DOUBLE) AS s1,
           CAST(CAST(w_s2 AS VARCHAR) AS DOUBLE) AS s2,
           CAST(CAST(w_s3 AS VARCHAR) AS DOUBLE) AS s3,
           CAST(CAST(w_q0 AS VARCHAR) AS DOUBLE) AS q0,
           CAST(CAST(w_q1 AS VARCHAR) AS DOUBLE) AS q1,
           CAST(CAST(w_q2 AS VARCHAR) AS DOUBLE) AS q2,
           CAST(CAST(w_q3 AS VARCHAR) AS DOUBLE) AS q3,
           (CAST(CAST(w_s0 AS VARCHAR) AS DOUBLE)
            + CAST(CAST(w_s1 AS VARCHAR) AS DOUBLE)
            + CAST(CAST(w_s2 AS VARCHAR) AS DOUBLE)
            + CAST(CAST(w_s3 AS VARCHAR) AS DOUBLE))
             / CAST(n AS DOUBLE) AS m,
           CAST(CAST(w_s0 AS VARCHAR) AS DOUBLE)
             / CAST(w_n0 AS DOUBLE) AS m0,
           CAST(CAST(w_s1 AS VARCHAR) AS DOUBLE)
             / CAST(w_n1 AS DOUBLE) AS m1,
           CAST(CAST(w_s2 AS VARCHAR) AS DOUBLE)
             / CAST(w_n2 AS DOUBLE) AS m2,
           CAST(CAST(w_s3 AS VARCHAR) AS DOUBLE)
             / CAST(w_n3 AS DOUBLE) AS m3
    FROM wide
),
fstat AS (
    -- empty-arm guard INSIDE the row (never drop it: the Spark side
    -- always emits one fstat row — review r11 cardinality parity)
    SELECT CASE WHEN n0 IS NULL OR n1 IS NULL OR n2 IS NULL
                  OR n3 IS NULL OR n0 = 0 OR n1 = 0 OR n2 = 0
                  OR n3 = 0 OR nn <= 4.0 OR {_BF_F_DEN} <= 0.0
                THEN NULL
                ELSE ({_BF_F_NUM}) / ({_BF_F_DEN}) END AS f_val
    FROM f
)
SELECT m.arm, CAST(a.n_arm AS BIGINT) AS n_arm,
       CAST(m.med2c AS DOUBLE) / 200.0 AS median_value,
       {round_sql('CAST(CAST(o.s1 AS VARCHAR) AS DOUBLE)'
                  ' / CAST(a.n_arm AS DOUBLE) / 200.0')} AS mean_absdev,
       CASE WHEN f_val IS NULL THEN NULL
            ELSE {round_sql('f_val')} END AS f_stat
FROM med m
JOIN arms a ON a.arm = m.arm
JOIN (SELECT arm, s1 FROM mom) o ON o.arm = m.arm
CROSS JOIN fstat
""")
def brown_forsythe_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity F across the 4 md5 arms on
    order values: median-centered absolute deviations (exact integer
    cents), one-way ANOVA F with a fixed-order 4-arm expression tree.
    One row per arm with the shared F repeated."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(
        _bf_arm_col().alias("arm"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("yc"))
    # vals feeds the two-phase rank (which itself scans it twice:
    # per-bucket stats + the windowed pass), the arm totals, and the
    # moment pass — a lazy localCheckpoint derives the groupBy ONCE
    # (the adamic_adar treatment; 51 -> ~18 exchanges in the audit)
    vals = (units.groupBy("arm", "yc").agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=False))
    # global (arm-major, value) order; per-arm cum = global cum minus
    # the broadcast offset of all lower arms. Arm spacing 2e17 keeps
    # bucket_on non-decreasing for the ENTIRE long domain of yc
    # (ADVICE r11: the old 1e9 spacing silently broke monotonicity
    # past yc = 1e11 cents; review r12: 1e17 still required
    # range(yc) < 1e19, which mixed-sign longs can exceed):
    # adjacent-arm monotonicity needs max(yc)/100 - min(yc)/100
    # <= spacing, and the full long range is 1.85e19/100 = 1.85e17
    # <= 2e17. arm*2e17 is exact in double, and round-to-nearest
    # addition is weakly monotone — so f(arm2,yc2) >= f(arm1,yc1)
    # whenever (arm2,yc2) >= (arm1,yc1), for ANY long yc. The
    # ~32-unit double granularity at 2e17 only coarsens quantile
    # SPLITS (perf), never the order contract two_phase_ordered
    # requires.
    ranked = two_phase_ordered(
        vals, [F.col("arm").asc(), F.col("yc").asc()],
        bucket_on=F.col("arm").cast("double") * 2e17
        + F.col("yc").cast("double") / 100.0,
        cumsum_cols={"cnt": "cum"})
    arms_tot = vals.groupBy("arm").agg(
        F.sum("cnt").cast("long").alias("n_arm"))
    w_off = (Window.orderBy("arm")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = arms_tot.select(
        "arm", "n_arm",
        F.coalesce(F.sum("n_arm").over(w_off), F.lit(0)).alias("off"))
    ranked = (ranked.join(F.broadcast(offs), "arm")
              .withColumn("cum_in", F.col("cum") - F.col("off")))
    lo = F.floor((F.col("n_arm") + 1) / 2)
    hi = F.floor(F.col("n_arm") / 2) + 1
    pick = (F.when((F.col("cum_in") - F.col("cnt") < lo)
                   & (lo <= F.col("cum_in")), 1).otherwise(0)
            + F.when((F.col("cum_in") - F.col("cnt") < hi)
                     & (hi <= F.col("cum_in")), 1).otherwise(0))
    med = (ranked.groupBy("arm")
           .agg(F.sum(F.col("yc") * pick).alias("med2c"))
           .localCheckpoint(eager=False))
    z2c = F.abs(2 * F.col("yc") - F.col("med2c"))
    # mom is 4 rows but its lineage carries the whole median pass —
    # checkpoint so wide + the final join derive it once
    mom = (vals.join(F.broadcast(med), "arm")
           .join(F.broadcast(arms_tot), "arm")
           .groupBy("arm", "n_arm", "med2c")
           .agg(F.sum(F.col("cnt").cast("decimal(38,0)") * z2c)
                .alias("s1"),
                F.sum(F.col("cnt").cast("decimal(38,0)") * z2c * z2c)
                .alias("s2"))
           .localCheckpoint(eager=False))
    wide = mom.agg(
        F.sum("n_arm").cast("long").alias("n"),
        *[F.sum(F.when(F.col("arm") == a, F.col("n_arm")))
          .cast("long").alias(f"w_n{a}") for a in range(_KW_ARMS)],
        *[F.sum(F.when(F.col("arm") == a, F.col("s1")))
          .alias(f"w_s{a}") for a in range(_KW_ARMS)],
        *[F.sum(F.when(F.col("arm") == a, F.col("s2")))
          .alias(f"w_q{a}") for a in range(_KW_ARMS)])
    nn = F.col("n").cast("double")
    nv = [F.col(f"w_n{a}").cast("double") for a in range(_KW_ARMS)]
    sv = [F.col(f"w_s{a}").cast("string").cast("double")
          for a in range(_KW_ARMS)]
    qv = [F.col(f"w_q{a}").cast("string").cast("double")
          for a in range(_KW_ARMS)]
    m = sum(sv[1:], sv[0]) / nn
    mv = [sv[a] / nv[a] for a in range(_KW_ARMS)]
    f_num = sum((nv[a] * (mv[a] - m) * (mv[a] - m)
                 for a in range(1, _KW_ARMS)),
                nv[0] * (mv[0] - m) * (mv[0] - m)) / F.lit(3.0)
    f_den = sum(((qv[a] - sv[a] * sv[a] / nv[a])
                 for a in range(1, _KW_ARMS)),
                qv[0] - sv[0] * sv[0] / nv[0]) / (nn - F.lit(4.0))
    any_empty = F.lit(False)
    for a in range(_KW_ARMS):
        any_empty = any_empty | (F.col(f"w_n{a}").isNull()
                                 | (F.col(f"w_n{a}") == 0))
    f_val = (F.when(any_empty | (nn <= 4.0) | (f_den <= 0.0),
                    F.lit(None).cast("double"))
             .otherwise(f_num / f_den))
    fstat = wide.select(f_val.alias("f_val"))
    return (med.join(F.broadcast(arms_tot), "arm")
            .join(F.broadcast(mom.select("arm", "s1")), "arm")
            .crossJoin(F.broadcast(fstat))
            .select("arm", "n_arm",
                    (F.col("med2c").cast("double") / 200.0)
                    .alias("median_value"),
                    F.round(F.col("s1").cast("string").cast("double")
                            / F.col("n_arm").cast("double") / 200.0, 6)
                    .alias("mean_absdev"),
                    F.round("f_val", 6).alias("f_stat")))


# --- Jonckheere-Terpstra ordered-alternative test ---------------------------
#
# Do order values trend MONOTONICALLY across the ordered priority
# classes 1-URGENT .. 5-LOW?  J = sum over class pairs i<j of the
# Mann-Whitney count U_ij = #(x_i < x_j) + 0.5 #(x_i = x_j)
# (Jonckheere 1954 / Terpstra 1952; tie-corrected null moments from
# Hollander & Wolfe — public).  Doubled counts stay integral:
#   2U_ij = sum_g c_j_g * (2 * cum_i_before_g + c_i_g)
# over value groups g, using one two_phase cumsum pass carrying ALL
# FIVE per-class counts.  Null moments from exact integer tallies:
#   2*E[J]  = sum_{i<j} n_i n_j          (integer)
#   72*VarA = N(N-1)(2N+5) - sum_i .. - sum_t ..   (the three-term
#             tie-corrected variance; every term an exact decimal)
# so the only doubles are the final sd and z.
# ---------------------------------------------------------------------------

_JT_K = 5
_JT_PAIRS = [(i, j) for i in range(1, _JT_K + 1)
             for j in range(i + 1, _JT_K + 1)]


def _jt_oracle() -> str:
    cnt_cols = ",\n           ".join(
        f"SUM(CASE WHEN grp = {g} THEN 1 ELSE 0 END) AS c{g}"
        for g in range(1, _JT_K + 1))
    cum_cols = ",\n           ".join(
        f"SUM(c{g}) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING) AS cum{g}"
        for g in range(1, _JT_K + 1))
    j2_terms = " + ".join(
        f"SUM(CAST(c{j} AS DECIMAL(38,0))"
        f" * (2 * (cum{i} - c{i}) + c{i}))"
        for i, j in _JT_PAIRS)
    n_sums = ",\n           ".join(
        f"SUM(c{g}) AS n{g}" for g in range(1, _JT_K + 1))
    mean2 = " + ".join(f"CAST(n{i} AS DECIMAL(38,0)) * n{j}"
                       for i, j in _JT_PAIRS)
    g1 = " + ".join(
        f"CAST(n{g} AS DECIMAL(38,0)) * (n{g} - 1) * (2 * n{g} + 5)"
        for g in range(1, _JT_K + 1))
    g2 = " + ".join(
        f"CAST(n{g} AS DECIMAL(38,0)) * (n{g} - 1) * (n{g} - 2)"
        for g in range(1, _JT_K + 1))
    g3 = " + ".join(f"CAST(n{g} AS DECIMAL(38,0)) * (n{g} - 1)"
                    for g in range(1, _JT_K + 1))
    return f"""
WITH units AS (
    SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS grp,
           CAST({_Y_DEC} * 100 AS BIGINT) AS yc
    FROM orders
),
vals AS (
    SELECT yc, COUNT(*) AS cnt,
           {cnt_cols}
    FROM units GROUP BY yc
),
ranked AS (
    SELECT *,
           {cum_cols}
    FROM vals
),
jsum AS (SELECT {j2_terms} AS j2 FROM ranked),
gstat AS (
    SELECT SUM(cnt) AS n, {n_sums},
           SUM(CAST(cnt AS DECIMAL(38,0)) * (cnt - 1)
               * (2 * cnt + 5)) AS t1,
           SUM(CAST(cnt AS DECIMAL(38,0)) * (cnt - 1)
               * (cnt - 2)) AS t2,
           SUM(CAST(cnt AS DECIMAL(38,0)) * (cnt - 1)) AS t3
    FROM vals
),
stat AS (
    SELECT j2, n, {mean2} AS mean2,
           CAST(n AS DOUBLE) AS nd,
           CAST(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)
                     - ({g1}) - t1 AS VARCHAR) AS DOUBLE) AS a_term,
           CAST(CAST(({g2}) * t2 AS VARCHAR) AS DOUBLE) AS b_num,
           CAST(CAST(({g3}) * t3 AS VARCHAR) AS DOUBLE) AS c_num
    FROM jsum CROSS JOIN gstat
),
v AS (
    SELECT j2, n, mean2,
           CASE WHEN n < 3 THEN NULL
                ELSE a_term / 72.0
                     + b_num / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
                     + c_num / (8.0 * nd * (nd - 1.0)) END AS var_j
    FROM stat
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(j2 AS BIGINT) AS j2_stat,
       CAST(mean2 AS BIGINT) AS mean2_j,
       CASE WHEN var_j IS NULL OR var_j <= 0.0 THEN NULL
            ELSE {round_sql('sqrt(var_j)')} END AS sd_j,
       CASE WHEN var_j IS NULL OR var_j <= 0.0 THEN NULL
            ELSE {round_sql('(CAST(CAST(j2 AS VARCHAR) AS DOUBLE)'
                            ' - CAST(CAST(mean2 AS VARCHAR) AS DOUBLE))'
                            ' / (2.0 * sqrt(var_j))')} + 0.0
       END AS z
FROM v
"""


@register("jonckheere_terpstra_trend", lambda: _jt_oracle())
def jonckheere_terpstra_trend(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for a monotone trend of order value
    across the ordered priority classes (tie-corrected null moments;
    doubled counts keep everything integral until sd/z)."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    K, PAIRS = _JT_K, _JT_PAIRS
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("yc"))
    vals = units.groupBy("yc").agg(
        F.count("*").alias("cnt"),
        *[F.sum(F.when(F.col("grp") == g, 1).otherwise(0))
          .alias(f"c{g}") for g in range(1, K + 1)])
    ranked = two_phase_ordered(
        vals, [F.col("yc").asc()],
        bucket_on=F.col("yc").cast("double"),
        cumsum_cols={f"c{g}": f"cum{g}" for g in range(1, K + 1)})
    j2 = None
    for i, j in PAIRS:
        term = F.sum(F.col(f"c{j}").cast("decimal(38,0)")
                     * (2 * (F.col(f"cum{i}") - F.col(f"c{i}"))
                        + F.col(f"c{i}")))
        j2 = term if j2 is None else j2 + term
    jsum = ranked.agg(j2.alias("j2"))
    gstat = vals.agg(
        F.sum("cnt").cast("long").alias("n"),
        *[F.sum(f"c{g}").cast("long").alias(f"n{g}")
          for g in range(1, K + 1)],
        F.sum(F.col("cnt").cast("decimal(38,0)") * (F.col("cnt") - 1)
              * (2 * F.col("cnt") + 5)).alias("t1"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * (F.col("cnt") - 1)
              * (F.col("cnt") - 2)).alias("t2"),
        F.sum(F.col("cnt").cast("decimal(38,0)")
              * (F.col("cnt") - 1)).alias("t3"))
    stat = jsum.crossJoin(F.broadcast(gstat))
    mean2 = None
    for i, j in PAIRS:
        t = F.col(f"n{i}").cast("decimal(38,0)") * F.col(f"n{j}")
        mean2 = t if mean2 is None else mean2 + t
    g1 = sum((F.col(f"n{g}").cast("decimal(38,0)")
              * (F.col(f"n{g}") - 1) * (2 * F.col(f"n{g}") + 5)
              for g in range(2, K + 1)),
             F.col("n1").cast("decimal(38,0)") * (F.col("n1") - 1)
             * (2 * F.col("n1") + 5))
    g2 = sum((F.col(f"n{g}").cast("decimal(38,0)")
              * (F.col(f"n{g}") - 1) * (F.col(f"n{g}") - 2)
              for g in range(2, K + 1)),
             F.col("n1").cast("decimal(38,0)") * (F.col("n1") - 1)
             * (F.col("n1") - 2))
    g3 = sum((F.col(f"n{g}").cast("decimal(38,0)")
              * (F.col(f"n{g}") - 1) for g in range(2, K + 1)),
             F.col("n1").cast("decimal(38,0)") * (F.col("n1") - 1))
    nd = F.col("n").cast("double")
    a_term = (F.col("n").cast("decimal(38,0)") * (F.col("n") - 1)
              * (2 * F.col("n") + 5) - g1 - F.col("t1")) \
        .cast("string").cast("double")
    b_num = (g2 * F.col("t2")).cast("string").cast("double")
    c_num = (g3 * F.col("t3")).cast("string").cast("double")
    var_j = (F.when(F.col("n") < 3, F.lit(None).cast("double"))
             .otherwise(a_term / 72.0
                        + b_num / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
                        + c_num / (8.0 * nd * (nd - 1.0))))
    stat = stat.select("n", "j2", mean2.alias("mean2"),
                       var_j.alias("var_j"))
    bad = F.col("var_j").isNull() | (F.col("var_j") <= 0.0)
    nulld = F.lit(None).cast("double")
    zz = ((F.col("j2").cast("string").cast("double")
           - F.col("mean2").cast("string").cast("double"))
          / (2.0 * F.sqrt("var_j")))
    return stat.select(
        "n",
        F.col("j2").cast("long").alias("j2_stat"),
        F.col("mean2").cast("long").alias("mean2_j"),
        F.when(bad, nulld).otherwise(F.round(F.sqrt("var_j"), 6))
        .alias("sd_j"),
        F.when(bad, nulld).otherwise(F.round(zz, 6) + 0.0).alias("z"))


# ---------------------------------------------------------------------------
# Batch C — graph structure, inequality decomposition, intermittent
# demand, and source-distribution similarity.
# ---------------------------------------------------------------------------

# --- degree assortativity of the co-purchase graph -------------------------
#
# Newman (2002, public) assortativity r = Pearson correlation of the
# endpoint degrees over the DIRECTED edge list (each undirected
# co-purchase edge contributes both orientations, so sx = sy and the
# symmetric 3-sum form applies).  Every moment is an exact decimal:
#   r = (m * sxy - sx^2) / (m * sxx - sx^2)
# with m = 2|E|.  Reuses queries_affinity's support-filtered capped
# pair relation (part_a < part_b); degrees are distinct-neighbor
# counts.  Scale shape: edges join the node-degree relation twice on
# the edge keys (shuffle joins AQE can re-plan); the quadratic pair
# expansion is already basket-capped upstream.
# ---------------------------------------------------------------------------

def _da_oracle() -> str:
    from travel_data_pipeline_spark.queries_affinity import _PAIRS_SQL

    return f"""
WITH {_PAIRS_SQL},
edges AS (SELECT part_a AS u, part_b AS v FROM pair_counts),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    ) GROUP BY node
),
directed AS (
    SELECT du.d AS x, dv.d AS y
    FROM edges e JOIN deg du ON du.node = e.u
                 JOIN deg dv ON dv.node = e.v
    UNION ALL
    SELECT dv.d AS x, du.d AS y
    FROM edges e JOIN deg du ON du.node = e.u
                 JOIN deg dv ON dv.node = e.v
),
sums AS (
    SELECT COUNT(*) AS m,
           SUM(CAST(x AS DECIMAL(38,0))) AS sx,
           SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
           SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
    FROM directed
),
t AS (
    SELECT m, CAST(m AS DOUBLE) AS md,
           CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
           CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
           CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
    FROM sums
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       CASE WHEN m = 0 OR md * sxxd - sxd * sxd <= 0.0 THEN NULL
            ELSE {round_sql('(md * sxyd - sxd * sxd)'
                            ' / (md * sxxd - sxd * sxd)')} + 0.0
       END AS assortativity
FROM t
"""


@register("degree_assortativity", lambda: _da_oracle())
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the support-filtered
    co-purchase graph (Pearson correlation of endpoint degrees over
    the directed edge list; exact integer moments)."""
    from travel_data_pipeline_spark.queries_affinity import (
        _order_items,
        _pair_counts,
    )

    # the capped pair expansion is referenced 6x below (degree union,
    # two degree joins, both orientations) — cut the lineage once so
    # the plan derives it once, not per reference (plan audit: 84 -> a
    # handful of exchanges)
    edges = (_pair_counts(_order_items(spark, sf_dir))
             .select(F.col("part_a").alias("u"),
                     F.col("part_b").alias("v"))
             .localCheckpoint(eager=False))
    deg = (edges.select(F.col("u").alias("node"))
           .unionAll(edges.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    joined = edges.join(du, "u").join(dv, "v")
    directed = (joined.select(F.col("dx").alias("x"),
                              F.col("dy").alias("y"))
                .unionAll(joined.select(F.col("dy").alias("x"),
                                        F.col("dx").alias("y"))))
    xd = F.col("x").cast("decimal(38,0)")
    sums = directed.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(xd).alias("sx"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(xd * F.col("y")).alias("sxy"))
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    md = F.col("m").cast("double")
    sxd = F.col("sx").cast("string").cast("double")
    sxxd = F.col("sxx").cast("string").cast("double")
    sxyd = F.col("sxy").cast("string").cast("double")
    r = F.when((F.col("m") == 0)
               | (md * sxxd - sxd * sxd <= 0.0),
               F.lit(None).cast("double")).otherwise(
        (md * sxyd - sxd * sxd) / (md * sxxd - sxd * sxd))
    return (sums.crossJoin(F.broadcast(n_nodes))
            .select((F.col("m") / 2).cast("long").alias("n_edges"),
                    "n_nodes",
                    (F.round(r, 6) + 0.0).alias("assortativity")))


# --- Adamic-Adar / Jaccard link prediction on the co-purchase graph --------
#
# Top-K NON-edge part pairs by common-neighbor count, scored with
# Jaccard and Adamic-Adar sum_z 1/ln(deg z) (Adamic & Adar 2003;
# Liben-Nowell & Kleinberg 2003 — public).  Scale discipline:
#   * adjacency is the support-filtered capped pair relation, and each
#    node's neighbor list is additionally capped at MAX_NEIGH (ordered
#    by neighbor id, mirrored in the oracle) so the two-hop expansion
#    is bounded at MAX_NEIGH^2 pairs per hub — the LSH max_bucket
#    pattern; degrees are counted on the SAME capped adjacency so the
#    statistic is self-consistent;
#   * the top-K selection is orderBy(cn DESC, a, b).limit(K) —
#     TakeOrderedAndProject, distributed (O3 family);
#   * the AA ln-fold runs only for the K winner pairs (z-sorted
#     position-pinned fold; every common neighbor has deg >= 2 so
#     ln(deg) > 0).
# ---------------------------------------------------------------------------

_AA_TOPK = 20
_AA_MAX_NEIGH = 256
# Bloom-prefiltered anti-join routing threshold (VERDICT r12 #5,
# measured round 13 at tools/stress_graph.py --compare-bloom):
# 10M edges -> 370.1 s plain vs 199.9 s bloom (1.85x, bit-identical);
# 200k edges -> 2.7 s plain vs 5.4 s bloom (fixed bitmap-build +
# probe-join overhead dominates small graphs). Route on edge count;
# a routing miss costs seconds never correctness (both arms are
# exactly the anti-join's output).
_AA_BLOOM_MIN_EDGES = 2_000_000


def _aa_oracle() -> str:
    from travel_data_pipeline_spark.queries_affinity import _PAIRS_SQL

    return f"""
WITH {_PAIRS_SQL},
adj0 AS (
    SELECT part_a AS s, part_b AS t FROM pair_counts
    UNION ALL
    SELECT part_b AS s, part_a AS t FROM pair_counts
),
adj AS (
    SELECT s, t FROM (
        SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY t) AS rn
        FROM adj0)
    WHERE rn <= {_AA_MAX_NEIGH}
),
deg AS (SELECT s AS node, COUNT(*) AS d FROM adj GROUP BY s),
cand AS (
    SELECT n1.t AS a, n2.t AS b, n1.s AS z
    FROM adj n1 JOIN adj n2 ON n1.s = n2.s AND n1.t < n2.t
),
nonedge AS (
    SELECT c.* FROM cand c
    LEFT JOIN pair_counts e ON e.part_a = c.a AND e.part_b = c.b
    WHERE e.part_a IS NULL
),
cn AS (
    SELECT a, b, COUNT(*) AS common_neighbors FROM nonedge GROUP BY a, b
),
top AS (
    SELECT a, b, common_neighbors,
           row_number() OVER (ORDER BY common_neighbors DESC, a, b)
             AS rnk
    FROM cn
    QUALIFY rnk <= {_AA_TOPK}
),
aa AS (
    SELECT n.a, n.b,
           {ordered_sum_sql("1.0 / ln(CAST(dz.d AS DOUBLE))", "n.z")} AS adamic_adar
    FROM nonedge n
    JOIN top tp ON tp.a = n.a AND tp.b = n.b
    JOIN deg dz ON dz.node = n.z
    GROUP BY n.a, n.b
)
SELECT t.a AS part_a, t.b AS part_b, t.common_neighbors,
       da.d AS deg_a, db.d AS deg_b,
       {round_sql('CAST(t.common_neighbors AS DOUBLE)'
                  ' / (da.d + db.d - t.common_neighbors)')} AS jaccard,
       {round_sql('aa.adamic_adar')} AS adamic_adar,
       CAST(t.rnk AS INT) AS rnk
FROM top t
JOIN deg da ON da.node = t.a
JOIN deg db ON db.node = t.b
JOIN aa ON aa.a = t.a AND aa.b = t.b
"""


@register("adamic_adar_links", lambda: _aa_oracle())
def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K non-edge co-purchase part pairs by common-neighbor count
    with Jaccard and Adamic-Adar link-prediction scores."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.queries_affinity import (
        _order_items,
        _pair_counts,
    )

    return adamic_adar_from_edges(
        spark, _pair_counts(_order_items(spark, sf_dir))
        .select("part_a", "part_b"))


def adamic_adar_from_edges(spark: SparkSession,
                           edges_in: DataFrame,
                           anti_join_bloom: bool | str = "auto"
                           ) -> DataFrame:
    """The capped two-hop link-prediction body over a distinct
    undirected (part_a < part_b) edge relation — factored out so
    tools/stress_graph.py can drive the REGISTERED code path at a
    synthetic 10M-edge graph (VERDICT r11 #4), the hits_from_edges
    seam pattern.

    ``anti_join_bloom`` (VERDICT r12 #5): split the candidate
    aggregate with a broadcast Bloom bitmap of the edge keys before
    the anti-join — rows failing any bit are DEFINITE non-edges and
    bypass the join entirely; only the ~|edges| + fp rows that pass
    all bits pay the real anti-join shuffle. No false negatives, so
    the union is exactly the anti-join's output. Measured 1.85x at
    the 10M-edge harness (tools/stress_graph.py --compare-bloom,
    bit-identical) but 0.5x at 200k edges, so the default ``"auto"``
    routes on edge count (>= _AA_BLOOM_MIN_EDGES) — which makes
    construction run ONE eager count action on that path (on top of
    the documented eager `top` checkpoint)."""
    # edges / adj / deg are each referenced several times below (the
    # two-hop expansion, the anti-join, three degree lookups) —
    # persist() makes the plan derive each ONCE (144 -> ~10 exchanges
    # in the audit); all three are edge-/node-sized. persist, not a
    # LAZY localCheckpoint (r14): lazy checkpoints still pay physical
    # planning + AQE stage kickoff at construction (toRdd), measured
    # build 3.12 -> 1.23 s at sf0.1 with identical results; persist
    # also keeps lineage, so an evicted block recomputes instead of
    # failing (the 'Block rdd_N does not exist' lesson).
    edges = edges_in.persist()
    adj0 = (edges.select(F.col("part_a").alias("s"),
                         F.col("part_b").alias("t"))
            .unionAll(edges.select(F.col("part_b").alias("s"),
                                   F.col("part_a").alias("t"))))
    w = Window.partitionBy("s").orderBy("t")
    adj = (adj0.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= _AA_MAX_NEIGH).drop("rn")
           .persist())
    deg = (adj.groupBy(F.col("s").alias("node"))
           .agg(F.count("*").alias("d")).persist())
    n1 = adj.select(F.col("s").alias("z"), F.col("t").alias("a"))
    n2 = adj.select(F.col("s").alias("z"), F.col("t").alias("b"))
    cand = n1.join(n2, "z").filter(F.col("a") < F.col("b"))
    # count FIRST, anti-join the (a, b) AGGREGATE against edges: the
    # anti-join probes |distinct candidate pairs| rows instead of the
    # full capped expansion (measured 962M rows at 10M edges)
    cn_all = cand.groupBy("a", "b").agg(
        F.count("*").alias("common_neighbors"))
    if anti_join_bloom == "auto":
        anti_join_bloom = edges.count() >= _AA_BLOOM_MIN_EDGES
    if anti_join_bloom:
        # 2^27 bits / 60-bit words ~ 2.2M bitmap rows: ~13 bits per
        # key at 10M edges (fp ~ 1-2% with k=3) — broadcastable.
        m_bits = 1 << 27
        word = 60
        k_hashes = 3

        def pos(a, b, s):
            return F.pmod(F.xxhash64(F.lit(s), a, b), F.lit(m_bits))

        positions = F.array(*[pos(F.col("part_a"), F.col("part_b"), s)
                              for s in range(k_hashes)])
        bloom = (edges.select(F.explode(positions).alias("pos"))
                 .select((F.col("pos") / word).cast("int")
                         .alias("word_idx"),
                         F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                                f"CAST(pos % {word} AS INT))")
                         .alias("mask"))
                 .groupBy("word_idx").agg(F.bit_or("mask").alias("w")))
        probe = cn_all
        passed = F.lit(True)
        for s in range(k_hashes):
            ps = pos(F.col("a"), F.col("b"), s)
            bw = bloom.select(F.col("word_idx").alias(f"wi{s}"),
                              F.col("w").alias(f"w{s}"))
            probe = (probe.withColumn(f"p{s}", ps)
                     .join(F.broadcast(bw),
                           (F.col(f"p{s}") / word).cast("int")
                           == F.col(f"wi{s}"), "left"))
            passed = passed & F.col(f"w{s}").isNotNull() & (
                F.col(f"w{s}").bitwiseAND(F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(p{s} % {word} AS INT))")) != 0)
        # persist, NOT localCheckpoint: the probed aggregate is
        # candidate-pair-sized (~500M rows at the 10M-edge cert) and
        # consumed twice (definite/maybe split) — a checkpoint block
        # evicted under heap pressure is unrecoverable (lineage cut,
        # 'Block rdd_N does not exist'), while persist keeps lineage
        # and recomputes evicted partitions
        from pyspark import StorageLevel
        probe = (probe.withColumn("_inbloom", passed)
                 .select("a", "b", "common_neighbors", "_inbloom")
                 .persist(StorageLevel.MEMORY_AND_DISK))
        probe_cache = probe
        definite = (probe.filter(~F.col("_inbloom"))
                    .drop("_inbloom"))
        maybe = probe.filter(F.col("_inbloom")).drop("_inbloom")
        cn = definite.unionAll(maybe.join(
            edges,
            (maybe.a == edges.part_a) & (maybe.b == edges.part_b),
            "left_anti"))
    else:
        probe_cache = None
        cn = cn_all.join(
            edges,
            (cn_all.a == edges.part_a) & (cn_all.b == edges.part_b),
            "left_anti")
    # NOTE (ADVICE r12): this eager checkpoint means merely
    # CONSTRUCTING the query materializes the full two-hop expansion
    # + anti-join — intentional: `top` is consumed three times below
    # (ta / tb / the cand_top re-join), a lazy checkpoint would
    # re-derive the expansion on each, and the bench accounts the
    # cost via build_sec. Plan audits pay it once at sf0.001.
    top = (cn.orderBy(F.col("common_neighbors").desc(), "a", "b")
           .limit(_AA_TOPK)
           .withColumn("rnk", F.row_number().over(
               Window.orderBy(F.col("common_neighbors").desc(),
                              "a", "b")))
           .localCheckpoint(eager=True))
    if probe_cache is not None:
        # the eager `top` checkpoint above was probe's LAST consumer —
        # release the candidate-pair-sized cache now, or it squeezes
        # whatever runs next in the same JVM (measured: the 10M-edge
        # k-core cert's first peel rounds slowed 3-4x behind the
        # leaked ~500M-row block store)
        probe_cache.unpersist()
    # the Adamic-Adar fold needs the common-neighbor LIST for the
    # _AA_TOPK winners only — REBUILD those pairs' z-sets from the
    # (broadcast) top node sets instead of re-deriving the full
    # expansion (which the previous spelling did: nonedge was
    # consumed twice with no checkpoint, so the 962M-pair expansion
    # and anti-join ran TWICE in the 10M-edge certification)
    ta = top.select(F.col("a")).distinct()
    tb = top.select(F.col("b")).distinct()
    na = (adj.join(F.broadcast(ta), adj.t == ta.a)
          .select(F.col("s").alias("z"), "a"))
    nb = (adj.join(F.broadcast(tb), adj.t == tb.b)
          .select(F.col("s").alias("z"), "b"))
    cand_top = (na.join(nb, "z")
                .join(F.broadcast(top.select("a", "b")), ["a", "b"]))
    aa = (cand_top
          .join(deg.select(F.col("node").alias("z"),
                           F.col("d").alias("dz")), "z")
          .groupBy("a", "b")
          .agg(ordered_sum(F.lit(1.0) / F.log(F.col("dz").cast("double")),
                           "z").alias("adamic_adar")))
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    out = (top.join(F.broadcast(aa), ["a", "b"])
           .join(da, "a").join(db, "b"))
    jac = (F.col("common_neighbors").cast("double")
           / (F.col("deg_a") + F.col("deg_b")
              - F.col("common_neighbors")))
    return out.select(
        F.col("a").alias("part_a"), F.col("b").alias("part_b"),
        "common_neighbors", "deg_a", "deg_b",
        F.round(jac, 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
        F.col("rnk").cast("int"))


# --- Generalized-entropy GE(2) inequality decomposition ---------------------
#
# GE(2) = (1/2) * ((1/n) * sum (x/mu)^2 - 1) — half the squared
# coefficient of variation — is the member of the generalized-entropy
# family (Shorrocks 1980, public) that decomposes additively as
#   GE2_total = GE2_between + sum_g (n_g/n) (mu_g/mu)^2 GE2_g
# WITHOUT any logarithms, so every group moment (n_g, sum x, sum x^2)
# is an exact decimal and only the final combination is a double
# tree.  The two cross-nation sums are position-pinned folds over the
# 25-row nation relation (nationkey-sorted).  gini_customer_revenue
# gives the rank-based view; this is the decomposable one.
# ---------------------------------------------------------------------------

@register("ge2_inequality_decomposition", f"""
WITH rev AS (
    SELECT o_custkey, SUM({_Y_DEC}) AS r FROM orders GROUP BY o_custkey
),
pern AS (
    SELECT c.c_nationkey AS nk, COUNT(*) AS n_g,
           SUM(rev.r) AS s_g,
           SUM(CAST(rev.r AS DECIMAL(18,2)) * rev.r) AS q_g
    FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
    GROUP BY c.c_nationkey
),
pern_d AS (
    SELECT nk, n_g,
           CAST(CAST(s_g AS VARCHAR) AS DOUBLE) AS sgd,
           CAST(CAST(q_g AS VARCHAR) AS DOUBLE) AS qgd
    FROM pern
),
tot AS (
    SELECT CAST(SUM(n_g) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(CAST(SUM(s_g) AS VARCHAR) AS DOUBLE) AS sd,
           CAST(CAST(SUM(q_g) AS VARCHAR) AS DOUBLE) AS qd
    FROM pern
),
folds AS (
    SELECT
        {ordered_sum_sql("sgd * sgd / n_g", "nk")}
          AS sum_b,
        {ordered_sum_sql("(CAST(n_g AS DOUBLE) / tot.n)"
                         " * ((sgd / n_g) / (tot.sd / tot.n))"
                         " * ((sgd / n_g) / (tot.sd / tot.n))"
                         " * ((n_g * qgd / (sgd * sgd) - 1.0) / 2.0)", "nk")}
          AS sum_w
    FROM pern_d CROSS JOIN tot
    GROUP BY tot.n, tot.sd
)
SELECT tot.n, tot.n_nations,
       {round_sql('(tot.n * tot.qd / (tot.sd * tot.sd) - 1.0) / 2.0')}
         AS ge2_total,
       {round_sql('(tot.n * folds.sum_b / (tot.sd * tot.sd) - 1.0)'
                  ' / 2.0')} AS ge2_between,
       {round_sql('folds.sum_w')} AS ge2_within
FROM tot CROSS JOIN folds
""")
def ge2_inequality_decomposition(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """GE(2) (half squared CV) of per-customer revenue, additively
    decomposed between/within nations — log-free exact moments."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    rev = (orders.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("decimal(18,2)").alias("r")))
    pern = (rev.join(cust, rev.o_custkey == cust.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nk"))
            .agg(F.count("*").alias("n_g"),
                 F.sum("r").alias("s_g"),
                 F.sum(F.col("r") * F.col("r")).alias("q_g")))
    pern_d = pern.select(
        "nk", "n_g",
        F.col("s_g").cast("string").cast("double").alias("sgd"),
        F.col("q_g").cast("string").cast("double").alias("qgd"))
    tot = pern.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_nations"),
        F.sum("s_g").cast("string").cast("double").alias("sd"),
        F.sum("q_g").cast("string").cast("double").alias("qd"))
    joined = pern_d.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    mu = F.col("sd") / nd
    ngd = F.col("n_g").cast("double")
    term_b = F.col("sgd") * F.col("sgd") / F.col("n_g")
    mu_g = F.col("sgd") / F.col("n_g")
    ge2_g = (F.col("n_g") * F.col("qgd")
             / (F.col("sgd") * F.col("sgd")) - 1.0) / 2.0
    term_w = (ngd / F.col("n")) * (mu_g / mu) * (mu_g / mu) * ge2_g
    folds = (joined.groupBy("n", "sd")
             .agg(ordered_sum(term_b, "nk").alias("sum_b"),
                  ordered_sum(term_w, "nk").alias("sum_w")))
    out = tot.crossJoin(F.broadcast(folds.select("sum_b", "sum_w")))
    ge2_total = (F.col("n") * F.col("qd")
                 / (F.col("sd") * F.col("sd")) - 1.0) / 2.0
    ge2_between = (F.col("n") * F.col("sum_b")
                   / (F.col("sd") * F.col("sd")) - 1.0) / 2.0
    return out.select(
        "n", "n_nations",
        F.round(ge2_total, 6).alias("ge2_total"),
        F.round(ge2_between, 6).alias("ge2_between"),
        F.round(F.col("sum_w"), 6).alias("ge2_within"))


# --- Croston's method for intermittent per-brand demand ---------------------
#
# Sparse-demand forecasting (Croston 1972; SBA correction Syntetos &
# Boylan 2005 — public): two exponential smoothers over NONZERO-demand
# days only —
#   Z_j = round(A * z_j + (1-A) * Z_{j-1}, 6)      (demand size)
#   P_j = round(A * i_j + (1-A) * P_{j-1}, 6)      (inter-arrival gap)
# with init Z_1 = z_1, P_1 = 1, i_j = day_j - day_{j-1}; forecast per
# period = Z/P, SBA-corrected = (1 - A/2) * Z/P.
#
# Exact-decimal recurrence discipline (holt_winters precedent): every
# state is DECIMAL(18,6) re-rounded each step, so the Spark array fold
# and the DuckDB recursive walk produce identical numbers; only the
# final ratios are doubles.  Scale shape: one corpus-sized grouped
# sum; the per-brand fold runs over that brand's nonzero DAY list —
# day-grid-bounded, never row-scaled.
# ---------------------------------------------------------------------------

_CR_A, _CR_A1 = "0.2", "0.8"


def _croston_oracle() -> str:
    a = f"CAST({_CR_A} AS DECIMAL(9,6))"
    a1 = f"CAST({_CR_A1} AS DECIMAL(9,6))"
    zt = (f"CAST(round({a} * CAST(g.z AS DECIMAL(18,6))"
          f" + {a1} * w.zs, 6) AS DECIMAL(18,6))")
    pt = (f"CAST(round({a} * CAST(date_diff('day', w.day, g.day)"
          f" AS DECIMAL(18,6)) + {a1} * w.ps, 6) AS DECIMAL(18,6))")
    return f"""
WITH RECURSIVE nz AS MATERIALIZED (
    SELECT p.p_brand AS brand, CAST(o.o_orderdate AS DATE) AS day,
           SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS z
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY brand, day
),
idx AS MATERIALIZED (
    SELECT *, row_number() OVER (PARTITION BY brand ORDER BY day) AS rn
    FROM nz
),
walk AS (
    SELECT brand, day, rn,
           CAST(z AS DECIMAL(18,6)) AS zs,
           CAST(1 AS DECIMAL(18,6)) AS ps
    FROM idx WHERE rn = 1
    UNION ALL
    SELECT g.brand, g.day, g.rn, {zt} AS zs, {pt} AS ps
    FROM idx g JOIN walk w ON g.brand = w.brand AND g.rn = w.rn + 1
),
fin AS (
    SELECT brand, zs, ps,
           row_number() OVER (PARTITION BY brand ORDER BY rn DESC) AS rr
    FROM walk
),
stats AS (
    SELECT brand, COUNT(*) AS n_demand_days,
           CAST(CAST(SUM(z) AS VARCHAR) AS DOUBLE) AS total_qty
    FROM nz GROUP BY brand
)
SELECT s.brand, CAST(s.n_demand_days AS BIGINT) AS n_demand_days,
       s.total_qty,
       CAST(f.zs AS DOUBLE) AS z_level,
       CAST(f.ps AS DOUBLE) AS p_interval,
       {round_sql('CAST(f.zs AS DOUBLE) / CAST(f.ps AS DOUBLE)')}
         AS forecast,
       {round_sql(f'(1.0 - {_CR_A} / 2.0)'
                  ' * (CAST(f.zs AS DOUBLE) / CAST(f.ps AS DOUBLE))')}
         AS forecast_sba
FROM stats s JOIN fin f ON f.brand = s.brand AND f.rr = 1
"""


@register("croston_intermittent_demand", lambda: _croston_oracle())
def croston_intermittent_demand(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Croston/SBA intermittent-demand state per part brand from the
    nonzero daily-demand series (exact DECIMAL(18,6) recurrence)."""
    a = F.expr(f"CAST({_CR_A} AS DECIMAL(9,6))")
    a1 = F.expr(f"CAST({_CR_A1} AS DECIMAL(9,6))")

    def dec(c):
        return c.cast("decimal(18,6)")

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("day"))
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand"))
    nz = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(part, li.l_partkey == part.p_partkey)
          .groupBy("brand", "day")
          .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
               .cast("decimal(18,2)").alias("z")))
    g = (nz.groupBy("brand")
         .agg(F.array_sort(F.collect_list(F.struct("day", "z")))
              .alias("s"),
              F.count("*").cast("long").alias("n_demand_days"),
              F.sum("z").cast("string").cast("double")
              .alias("total_qty")))
    seed = F.struct(
        F.element_at("s", 1)["day"].alias("day"),
        dec(F.element_at("s", 1)["z"]).alias("zs"),
        dec(F.lit(1.0)).alias("ps"))

    def step(prev, x):
        interval = dec(F.datediff(x["day"], prev["day"]))
        return F.struct(
            x["day"].alias("day"),
            dec(F.round(a * dec(x["z"]) + a1 * prev["zs"], 6))
            .alias("zs"),
            dec(F.round(a * interval + a1 * prev["ps"], 6))
            .alias("ps"))

    # The recurrence carries ONLY the running (day, zs, ps) struct —
    # no per-step array growth — and is projected ONCE into ``st``
    # before field extraction (VERDICT r11 #2): CollapseProject does
    # not inline a non-cheap expression consumed twice, so the
    # ~2,500-step decimal fold renders a single time in the plan
    # (PLANS.md previously showed it duplicated for z_level and
    # p_interval). Arithmetic is unchanged step-for-step — same
    # casts, rounds, and order — so output is bit-identical.
    folded = F.aggregate(
        F.slice("s", 2, F.greatest(F.size("s") - 1, F.lit(0))),
        seed, step)
    state = g.select("brand", "n_demand_days", "total_qty",
                     folded.alias("st"))
    out = state.select(
        "brand", "n_demand_days", "total_qty",
        F.col("st")["zs"].cast("double").alias("z_level"),
        F.col("st")["ps"].cast("double").alias("p_interval"))
    fc = F.col("z_level") / F.col("p_interval")
    return out.select(
        "brand", "n_demand_days", "total_qty",
        "z_level", "p_interval",
        F.round(fc, 6).alias("forecast"),
        F.round((1.0 - float(_CR_A) / 2.0) * fc, 6)
        .alias("forecast_sba"))


# --- Jensen-Shannon divergence between source unigram distributions --------
#
# Mixture-similarity readout for corpus curation (Lin 1991, public):
# per-source token distributions over the global top-TOPV terms plus
# an <OTHER> bucket (so distributions are BOUNDED 1+TOPV-dimensional
# regardless of vocabulary growth), then for every source pair
#   JSD = 0.5 * sum p ln(p/m) + 0.5 * sum q ln(q/m),  m = (p+q)/2
# in bits.  Per-bucket terms share ONE ln spelling; the per-pair
# cross-bucket sum is a position-pinned fold (bucket-sorted).  Scale
# shape: token counting is the corpus-sized pass; everything after
# operates on |sources| x (TOPV+1) rows.  Top-TOPV selection is
# TakeOrdered (cnt DESC, token) — distributed, total order.
# ---------------------------------------------------------------------------

_JSD_TOPV = 100
_JSD_OTHER = "<OTHER>"


def _jsd_oracle() -> str:
    import math

    ln2 = repr(math.log(2.0))
    term = ("(CASE WHEN c1 = 0 THEN 0.0 ELSE (CAST(c1 AS DOUBLE) / t1)"
            " * ln((CAST(c1 AS DOUBLE) / t1) / ((CAST(c1 AS DOUBLE) / t1"
            " + CAST(c2 AS DOUBLE) / t2) / 2.0)) END"
            " + CASE WHEN c2 = 0 THEN 0.0 ELSE (CAST(c2 AS DOUBLE) / t2)"
            " * ln((CAST(c2 AS DOUBLE) / t2) / ((CAST(c1 AS DOUBLE) / t1"
            " + CAST(c2 AS DOUBLE) / t2) / 2.0)) END)")
    return f"""
WITH toks AS MATERIALIZED (
    SELECT source, unnest(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS token
    FROM documents
),
vocab AS (
    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
),
top AS (
    SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rn
        FROM vocab) WHERE rn <= {_JSD_TOPV}
),
bucketed AS MATERIALIZED (
    SELECT t.source,
           CASE WHEN tp.token IS NULL THEN '{_JSD_OTHER}'
                ELSE t.token END AS bucket,
           COUNT(*) AS c
    FROM toks t LEFT JOIN top tp ON tp.token = t.token
    GROUP BY 1, 2
),
totals AS (SELECT source, SUM(c) AS t FROM bucketed GROUP BY source),
buckets AS (SELECT DISTINCT bucket FROM bucketed),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.t AS t1, b.t AS t2
    FROM totals a JOIN totals b ON a.source < b.source
),
grid AS (
    SELECT p.source_a, p.source_b, p.t1, p.t2, bk.bucket,
           COALESCE(c1.c, 0) AS c1, COALESCE(c2.c, 0) AS c2
    FROM pairs p CROSS JOIN buckets bk
    LEFT JOIN bucketed c1 ON c1.source = p.source_a
                          AND c1.bucket = bk.bucket
    LEFT JOIN bucketed c2 ON c2.source = p.source_b
                          AND c2.bucket = bk.bucket
),
folded AS (
    SELECT source_a, source_b,
           {ordered_sum_sql(term, "bucket")} AS s
    FROM grid GROUP BY source_a, source_b
)
SELECT source_a, source_b,
       {round_sql(f's / 2.0 / {ln2}')} + 0.0 AS jsd_bits
FROM folded
"""


@register("jsd_source_topterms", lambda: _jsd_oracle())
def jsd_source_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between per-source
    unigram distributions over the global top-100 terms + <OTHER>."""
    import math

    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    # token_array already normalizes and drops empties (ADVICE r11:
    # the previous extra normalize_text + empty filter was redundant
    # double work on the corpus-sized pass)
    toks = docs.select(
        "source",
        F.explode(text.token_array(F.col("text"))).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    top = (vocab.orderBy(F.col("cnt").desc(), F.col("token").asc())
           .limit(_JSD_TOPV).select("token", F.lit(1).alias("is_top")))
    bucketed = (toks.join(F.broadcast(top), "token", "left")
                .select("source",
                        F.when(F.col("is_top").isNull(),
                               F.lit(_JSD_OTHER))
                        .otherwise(F.col("token")).alias("bucket"))
                .groupBy("source", "bucket")
                .agg(F.count("*").alias("c")))
    totals = bucketed.groupBy("source").agg(F.sum("c").alias("t"))
    buckets = bucketed.select("bucket").distinct()
    a = totals.select(F.col("source").alias("source_a"),
                      F.col("t").alias("t1"))
    b = totals.select(F.col("source").alias("source_b"),
                      F.col("t").alias("t2"))
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    c1 = bucketed.select(F.col("source").alias("source_a"),
                         "bucket", F.col("c").alias("c1"))
    c2 = bucketed.select(F.col("source").alias("source_b"),
                         "bucket", F.col("c").alias("c2"))
    grid = (pairs.crossJoin(F.broadcast(buckets))
            .join(c1, ["source_a", "bucket"], "left")
            .join(c2, ["source_b", "bucket"], "left")
            .select("source_a", "source_b", "t1", "t2", "bucket",
                    F.coalesce("c1", F.lit(0)).alias("c1"),
                    F.coalesce("c2", F.lit(0)).alias("c2")))
    pp = F.col("c1").cast("double") / F.col("t1")
    qq = F.col("c2").cast("double") / F.col("t2")
    mm = (pp + qq) / 2.0
    term = (F.when(F.col("c1") == 0, 0.0).otherwise(pp * F.log(pp / mm))
            + F.when(F.col("c2") == 0, 0.0).otherwise(qq * F.log(qq / mm)))
    folded = (grid.groupBy("source_a", "source_b")
              .agg(ordered_sum(term, "bucket").alias("s")))
    ln2 = float(repr(math.log(2.0)))
    return folded.select(
        "source_a", "source_b",
        (F.round(F.col("s") / 2.0 / F.lit(ln2), 6) + 0.0)
        .alias("jsd_bits"))


# ---------------------------------------------------------------------------
# Batch D — residual/changepoint/trend diagnostics over the daily
# series and the priority classes.  Same discipline as Batch A: the
# daily relation is day-bounded, so pair enumeration is a broadcast
# self-join, cross-day scans are position-pinned folds, and every
# pre-statistic moment is an exact integer (OLS residuals are kept as
# SCALED integers — the common denominator cancels in the ratio
# statistics).
# ---------------------------------------------------------------------------

# --- Wald-Wolfowitz runs test around the median ----------------------------

@register("runs_test_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
med AS (
    SELECT cnt AS m FROM (
        SELECT cnt, row_number() OVER (ORDER BY cnt, t) AS rn,
               count(*) OVER () AS n
        FROM daily) WHERE rn = (n + 1) // 2
),
kept AS (
    SELECT t, CASE WHEN cnt > m THEN 1 ELSE 0 END AS s
    FROM daily CROSS JOIN med WHERE cnt <> m
),
folded AS (
    -- COALESCE: an all-median series keeps zero rows and the
    -- degenerate branch must actually fire (review r11)
    SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) AS n1,
           CAST(COALESCE(SUM(1 - s), 0) AS BIGINT) AS n2,
           list(s ORDER BY t) AS seq
    FROM kept
),
runs AS (
    SELECT n1, n2,
           CASE WHEN n1 + n2 = 0 THEN 0 ELSE 1 +
             len(list_filter(
                 list_zip(seq[1:-2], seq[2:]),
                 z -> z[1] <> z[2])) END AS r
    FROM folded
)
SELECT n1 AS n_above, n2 AS n_below, CAST(r AS BIGINT) AS n_runs,
       CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
            ELSE {round_sql('1.0 + 2.0 * n1 * n2 / (n1 + n2)')}
       END AS mean_runs,
       CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 <= 1 THEN NULL
            ELSE {round_sql(
                'CASE WHEN 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)'
                ' / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) <= 0.0'
                ' THEN NULL ELSE'
                ' (r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))'
                ' / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)'
                ' / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))) END')}
              + 0.0
       END AS z
FROM runs
""")
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of randomness on the daily total
    series around its lower median (median-equal days discarded,
    the textbook treatment); run count from a t-ordered pinned
    adjacent-pair scan."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    n_df = daily.agg(F.count("*").alias("n"))
    # lower median via sort-free rank: count of (cnt, t) pairs at-or-
    # below each row over the bounded grid
    a = daily.select(F.col("cnt").alias("ca"), F.col("t").alias("ta"))
    ranked = (daily.join(F.broadcast(a))
              .groupBy("t", "cnt", )
              .agg(F.sum(F.when((F.col("ca") < F.col("cnt"))
                                | ((F.col("ca") == F.col("cnt"))
                                   & (F.col("ta") <= F.col("t"))), 1)
                         .otherwise(0)).alias("rn")))
    med = (ranked.crossJoin(F.broadcast(n_df))
           .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
           .select(F.col("cnt").alias("m")))
    kept = (daily.crossJoin(F.broadcast(med))
            .filter(F.col("cnt") != F.col("m"))
            .select("t", F.when(F.col("cnt") > F.col("m"), 1)
                    .otherwise(0).alias("s")))
    folded = kept.agg(
        F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum(1 - F.col("s")), F.lit(0)).cast("long")
        .alias("n2"),
        F.array_sort(F.collect_list(F.struct("t", "s"))).alias("seq"))
    seq_s = F.transform("seq", lambda x: x["s"])
    transitions = F.size(F.filter(
        F.zip_with(F.slice(seq_s, 1, F.greatest(F.size(seq_s) - 1,
                                                F.lit(0))),
                   F.slice(seq_s, 2, F.greatest(F.size(seq_s) - 1,
                                                F.lit(0))),
                   lambda p, q: p != q),
        lambda b: b))
    r = F.when(F.col("n1") + F.col("n2") == 0, F.lit(0)) \
        .otherwise(1 + transitions)
    folded = folded.select("n1", "n2", r.cast("long").alias("r"))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    mean_r = 1.0 + 2.0 * n1d * n2d / (n1d + n2d)
    var_r = (2.0 * n1d * n2d * (2.0 * n1d * n2d - n1d - n2d)
             / ((n1d + n2d) * (n1d + n2d) * (n1d + n2d - 1.0)))
    nulld = F.lit(None).cast("double")
    empty = (F.col("n1") == 0) | (F.col("n2") == 0)
    return folded.select(
        F.col("n1").alias("n_above"), F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.when(empty, nulld).otherwise(F.round(mean_r, 6))
        .alias("mean_runs"),
        F.when(empty | (F.col("n1") + F.col("n2") <= 1), nulld)
        .otherwise(F.when(var_r <= 0.0, nulld)
                   .otherwise(F.round((F.col("r") - mean_r)
                                      / F.sqrt(var_r), 6) + 0.0))
        .alias("z"))


# --- Durbin-Watson autocorrelation of OLS residuals -------------------------
#
# DW = sum_(t>=2) (e_t - e_{t-1})^2 / sum e_t^2 over the residuals of
# the OLS fit of daily count on day index (Durbin & Watson 1950,
# public).  Residuals are kept as SCALED integers:
#   E_t = N*Bd*y_t - (Sy*Bd - Bn*St) - N*Bn*t
# (Bn/Bd the slope numerator/denominator) — the common divisor N*Bd
# cancels in DW, so both quadratic sums are exact DECIMAL(38,0)
# tallies over lag-joined pairs and DW is one string-bridged ratio.
# ---------------------------------------------------------------------------

@register("durbin_watson_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS BIGINT) AS st,
           CAST(sum(cnt) AS BIGINT) AS sy,
           CAST(sum(t * t) AS BIGINT) AS stt,
           CAST(sum(CAST(t AS BIGINT) * cnt) AS BIGINT) AS sty
    FROM daily
),
coef AS (
    SELECT n, CAST(n AS DECIMAL(38,0)) * sty - CAST(st AS DECIMAL(38,0))
              * sy AS bn,
           CAST(n AS DECIMAL(38,0)) * stt
             - CAST(st AS DECIMAL(38,0)) * st AS bd,
           st, sy
    FROM mom
),
resid AS (
    SELECT d.t,
           CAST(c.n AS DECIMAL(38,0)) * c.bd * d.cnt
             - (CAST(c.sy AS DECIMAL(38,0)) * c.bd - c.bn * c.st)
             - CAST(c.n AS DECIMAL(38,0)) * c.bn * d.t AS e
    FROM daily d CROSS JOIN coef c
),
sums AS (
    SELECT (SELECT SUM(e * e) FROM resid) AS see,
           (SELECT SUM((b.e - a.e) * (b.e - a.e))
            FROM resid a JOIN resid b ON b.t = a.t + 1) AS sdd
),
t AS (
    SELECT CAST(CAST(see AS VARCHAR) AS DOUBLE) AS seed,
           CAST(CAST(sdd AS VARCHAR) AS DOUBLE) AS sddd,
           (SELECT n FROM mom) AS n,
           (SELECT CASE WHEN bd = 0 THEN NULL
                        ELSE CAST(CAST(bn AS VARCHAR) AS DOUBLE)
                             / CAST(CAST(bd AS VARCHAR) AS DOUBLE) END
            FROM coef) AS slope
    FROM sums
)
SELECT n AS n_days, {round_sql('slope')} + 0.0 AS ols_slope,
       CASE WHEN seed <= 0.0 THEN NULL
            ELSE {round_sql('sddd / seed')} END AS dw_stat
FROM t
""")
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the OLS daily-trend residuals
    (scaled-integer residuals — the divisor cancels in the ratio)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("cnt").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t").cast("long") * F.col("cnt")).cast("long")
        .alias("sty"))
    nd38 = F.col("n").cast("decimal(38,0)")
    coef = mom.select(
        "n", "st", "sy",
        (nd38 * F.col("sty")
         - F.col("st").cast("decimal(38,0)") * F.col("sy")).alias("bn"),
        (nd38 * F.col("stt")
         - F.col("st").cast("decimal(38,0)") * F.col("st")).alias("bd"))
    resid = (daily.crossJoin(F.broadcast(coef))
             .select("t", (F.col("n").cast("decimal(38,0)")
                           * F.col("bd") * F.col("cnt")
                           - (F.col("sy").cast("decimal(38,0)")
                              * F.col("bd")
                              - F.col("bn") * F.col("st"))
                           - F.col("n").cast("decimal(38,0)")
                           * F.col("bn") * F.col("t")).alias("e")))
    see = resid.agg(F.sum(F.col("e") * F.col("e")).alias("see"))
    a = resid.select(F.col("t").alias("ta"), F.col("e").alias("ea"))
    sdd = (resid.join(F.broadcast(a), F.col("t") == F.col("ta") + 1)
           .agg(F.sum((F.col("e") - F.col("ea"))
                      * (F.col("e") - F.col("ea"))).alias("sdd")))
    slope = (F.when(F.col("bd") == 0, F.lit(None).cast("double"))
             .otherwise(F.col("bn").cast("string").cast("double")
                        / F.col("bd").cast("string").cast("double")))
    seed = F.col("see").cast("string").cast("double")
    sddd = F.col("sdd").cast("string").cast("double")
    return (see.crossJoin(F.broadcast(sdd))
            .crossJoin(F.broadcast(coef.select("n", "bn", "bd")))
            .select(F.col("n").alias("n_days"),
                    (F.round(slope, 6) + 0.0).alias("ols_slope"),
                    F.when(seed <= 0.0, F.lit(None).cast("double"))
                    .otherwise(F.round(sddd / seed, 6))
                    .alias("dw_stat")))


# --- Pettitt change-point test ----------------------------------------------
#
# Rank-based single change-point detection (Pettitt 1979, public):
# U_t = sum_{i<=t, j>t} sgn(x_j - x_i); the candidate split is
# argmax |U_t| (t < max day), with the classic significance
# approximation p ~ 2 exp(-6 K^2 / (n^3 + n^2)).  The O(n^2) sgn
# table collapses to per-day deltas over the bounded grid:
#   delta_t = #(x_j > x_t) - #(x_j < x_t)   over ALL other days,
#   U_t = cumulative sum of delta up to t     (exact integers)
# so one broadcast self-join + one bounded-window cumsum.  argmax
# ties break on the SMALLEST t (both engines).
# ---------------------------------------------------------------------------

@register("pettitt_changepoint", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
delta AS (
    SELECT a.t,
           CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
                         WHEN b.cnt < a.cnt THEN -1 ELSE 0 END)
                AS BIGINT) AS d
    FROM daily a JOIN daily b ON b.t <> a.t
    GROUP BY a.t
),
u AS (
    SELECT t, SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS u_t,
           (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n,
           max(t) OVER () AS t_max
    FROM delta
),
best AS (
    SELECT n, t AS t_star, abs(u_t) AS k_stat
    FROM u WHERE t < t_max
    ORDER BY abs(u_t) DESC, t ASC LIMIT 1
)
SELECT n AS n_days, CAST(t_star AS BIGINT) AS t_star,
       CAST(k_stat AS BIGINT) AS k_stat,
       {round_sql('2.0 * exp(-6.0 * k_stat * k_stat'
                  ' / (CAST(n AS DOUBLE) * n * n'
                  ' + CAST(n AS DOUBLE) * n))')} AS p_approx
FROM best
""")
def pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based change-point over the daily total series:
    split day maximizing |U_t|, with the exponential p approximation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    delta = (daily.join(F.broadcast(b), F.col("tb") != F.col("t"))
             .groupBy("t")
             .agg(F.sum(F.when(F.col("xb") > F.col("cnt"), 1)
                        .when(F.col("xb") < F.col("cnt"), -1)
                        .otherwise(0)).cast("long").alias("d")))
    # bounded day grid: the cumsum window and the top-1 sort both run
    # over <= |days| rows
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    scalars = daily.agg(F.count("*").cast("long").alias("n"),
                        F.max("t").alias("t_max"))
    u = (delta.withColumn("u_t", F.sum("d").over(w))
         .crossJoin(F.broadcast(scalars)))
    best = (u.filter(F.col("t") < F.col("t_max"))
            .orderBy(F.abs("u_t").desc(), F.col("t").asc()).limit(1))
    nd = F.col("n_days").cast("double")
    p = 2.0 * F.exp(-6.0 * F.col("k_stat") * F.col("k_stat")
                    / (nd * nd * nd + nd * nd))
    return (best.select(F.col("n").alias("n_days"),
                        F.col("t").cast("long").alias("t_star"),
                        F.abs("u_t").cast("long").alias("k_stat"))
            .select("n_days", "t_star", "k_stat",
                    F.round(p, 6).alias("p_approx")))


# --- Cochran-Armitage trend in proportions ----------------------------------
#
# Does the share of FULFILLED orders trend across the ordered
# priority classes 1..5?  (Cochran 1954 / Armitage 1955, public.)
# With scores w_g = g, successes r_g, sizes n_g:
#   T      = sum w_g * (r_g - n_g * R / N)
#   Var(T) = (R/N) * (1 - R/N) * (sum w_g^2 n_g - (sum w_g n_g)^2 / N)
#   z      = T / sqrt(Var)
# N*T = sum w_g * (N r_g - n_g R) is an exact integer, so only the
# final ratio is a double (fixed 5-class expression tree).
# ---------------------------------------------------------------------------

@register("cochran_armitage_trend", f"""
WITH g AS (
    SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS grp,
           COUNT(*) AS n_g,
           SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS r_g
    FROM orders GROUP BY 1
),
agg AS (
    SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(r_g) AS BIGINT) AS r,
           CAST(SUM(grp * n_g) AS BIGINT) AS swn,
           CAST(SUM(grp * grp * n_g) AS BIGINT) AS swwn,
           CAST(SUM(CAST(grp AS DECIMAL(38,0)) * r_g) AS BIGINT) AS swr,
           CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM g
),
t AS (
    SELECT n, r, n_groups,
           CAST(n AS DOUBLE) AS nd, CAST(r AS DOUBLE) AS rd,
           CAST(CAST(CAST(n AS DECIMAL(38,0)) * swr
                     - CAST(r AS DECIMAL(38,0)) * swn AS VARCHAR)
                AS DOUBLE) AS nt,
           CAST(swn AS DOUBLE) AS swnd, CAST(swwn AS DOUBLE) AS swwnd
    FROM agg
),
t2 AS (
    SELECT *,
           (rd / nd) * (1.0 - rd / nd)
             * (swwnd - swnd * swnd / nd) AS var_t
    FROM t
)
SELECT n, r AS n_success, n_groups,
       {round_sql('nt / nd')} + 0.0 AS t_stat,
       CASE WHEN r = 0 OR r = n OR var_t <= 0.0 THEN NULL
            ELSE {round_sql('(nt / nd) / sqrt(var_t)')} + 0.0
       END AS z
FROM t2
""")
def cochran_armitage_trend(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a linear trend in the fulfilled-order
    proportion across the 5 ordered priority classes."""
    orders = load_table(spark, sf_dir, "orders")
    g = (orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("grp"))
        .agg(F.count("*").alias("n_g"),
             F.sum(F.when(F.col("o_orderstatus") == "F", 1)
                   .otherwise(0)).alias("r_g")))
    agg = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("r_g").cast("long").alias("r"),
        F.sum(F.col("grp") * F.col("n_g")).cast("long").alias("swn"),
        F.sum(F.col("grp") * F.col("grp") * F.col("n_g")).cast("long")
        .alias("swwn"),
        F.sum(F.col("grp").cast("decimal(38,0)") * F.col("r_g"))
        .cast("long").alias("swr"),
        F.count("*").cast("long").alias("n_groups"))
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    nt = (F.col("n").cast("decimal(38,0)") * F.col("swr")
          - F.col("r").cast("decimal(38,0)") * F.col("swn")) \
        .cast("string").cast("double")
    swnd = F.col("swn").cast("double")
    swwnd = F.col("swwn").cast("double")
    var_t = (rd / nd) * (1.0 - rd / nd) * (swwnd - swnd * swnd / nd)
    nulld = F.lit(None).cast("double")
    return agg.select(
        "n", F.col("r").alias("n_success"), "n_groups",
        (F.round(nt / nd, 6) + 0.0).alias("t_stat"),
        F.when((F.col("r") == 0) | (F.col("r") == F.col("n"))
               | (var_t <= 0.0), nulld)
        .otherwise(F.round((nt / nd) / F.sqrt(var_t), 6) + 0.0)
        .alias("z"))


# --- Ljung-Box portmanteau test ---------------------------------------------
#
# LB = n (n+2) sum_{k=1..h} r_k^2 / (n - k) over the first h = 7
# autocorrelations of the daily total series (Ljung & Box 1978,
# public), with the STANDARD full-series estimator
#   r_k = c_k / c_0,  n^2 c_k = sum_t (n x_t - S)(n x_{t+k} - S)
# — scaled-integer autocovariances (the 1/n and the mean's divisor
# cancel in the ratio), so each r_k is one exact-integer ratio and LB
# is a fixed-order 7-term tree.  acf_daily_counts reports the
# windowed Pearson variant; this is the portmanteau companion.
# ---------------------------------------------------------------------------

_LB_H = 7

@register("ljung_box_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS s
    FROM daily
),
lags AS (SELECT unnest(generate_series(0, {_LB_H})) AS lag),
ck AS (
    SELECT l.lag,
           SUM((CAST(m.n AS DECIMAL(38,0)) * a.cnt - m.s)
               * (CAST(m.n AS DECIMAL(38,0)) * b.cnt - m.s)) AS c
    FROM lags l
    CROSS JOIN mom m
    JOIN daily a ON TRUE
    JOIN daily b ON b.t = a.t + l.lag
    GROUP BY l.lag
),
r AS (
    SELECT lag,
           CAST(CAST(c AS VARCHAR) AS DOUBLE)
             / (SELECT CAST(CAST(c AS VARCHAR) AS DOUBLE)
                FROM ck WHERE lag = 0) AS rk
    FROM ck WHERE lag > 0
),
lb AS (
    SELECT (SELECT n FROM mom) AS n,
           {' + '.join(f'''(SELECT rk * rk / ((SELECT n FROM mom) - {k})
             FROM r WHERE lag = {k})''' for k in range(1, _LB_H + 1))}
             AS s7
    FROM (SELECT 1)
)
SELECT n AS n_days, CAST({_LB_H} AS INT) AS h,
       CASE WHEN n <= {_LB_H} THEN NULL
            ELSE {round_sql('CAST(n AS DOUBLE) * (n + 2.0) * s7')}
       END AS lb_stat
FROM lb
""")
def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic (h = 7) of the daily total
    series from scaled-integer autocovariances."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    mom = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("cnt").cast("long").alias("s"))
    lags = spark.range(0, _LB_H + 1).select(
        F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("xa"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    nd38 = F.col("n").cast("decimal(38,0)")
    ck = (lags.crossJoin(F.broadcast(mom))
          .crossJoin(F.broadcast(a))
          .join(F.broadcast(b),
                F.col("tb") == F.col("ta") + F.col("lag"))
          .groupBy("lag", "n")
          .agg(F.sum((nd38 * F.col("xa") - F.col("s"))
                     * (nd38 * F.col("xb") - F.col("s"))).alias("c")))
    c0 = (ck.filter(F.col("lag") == 0)
          .select(F.col("c").cast("string").cast("double").alias("c0")))
    rks = (ck.filter(F.col("lag") > 0)
           .crossJoin(F.broadcast(c0))
           .select("lag", "n",
                   (F.col("c").cast("string").cast("double")
                    / F.col("c0")).alias("rk")))
    # fixed-order 7-term tree: pivot the bounded lag relation wide.
    # GLOBAL agg + broadcast n so a pairless series (1-day / fully
    # gapped) still emits the one NULL-stat row the oracle emits
    # (review r11 cardinality parity)
    wide = (rks.agg(*[F.sum(F.when(F.col("lag") == k, F.col("rk")))
                      .alias(f"r{k}") for k in range(1, _LB_H + 1)])
            .crossJoin(F.broadcast(mom.select("n"))))
    nd = F.col("n").cast("double")
    s7 = None
    for k in range(1, _LB_H + 1):
        term = F.col(f"r{k}") * F.col(f"r{k}") / (nd - F.lit(float(k)))
        s7 = term if s7 is None else s7 + term
    return wide.select(
        F.col("n").alias("n_days"),
        F.lit(_LB_H).cast("int").alias("h"),
        F.when(F.col("n") <= _LB_H, F.lit(None).cast("double"))
        .otherwise(F.round(nd * (nd + 2.0) * s7, 6)).alias("lb_stat"))


# ---------------------------------------------------------------------------
# Batch E — population estimation, blocked ranks, survival area,
# caliper matching, and bounded k-core peeling.
# ---------------------------------------------------------------------------

# --- Chapman capture-recapture estimate of the user population --------------

@register("capture_recapture_users", f"""
WITH mind AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
tagged AS (
    SELECT user_id,
           MAX(CASE WHEN date_diff('day', d0, date_trunc('day', ts)) < 15
                    THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN date_diff('day', d0, date_trunc('day', ts)) >= 15
                    THEN 1 ELSE 0 END) AS in_b
    FROM events CROSS JOIN mind GROUP BY user_id
),
cnt AS (
    SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
           CAST(SUM(in_b) AS BIGINT) AS n_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_true
    FROM tagged
)
SELECT n_a, n_b, m, n_true,
       {round_sql('(CAST(n_a AS DOUBLE) + 1.0) * (n_b + 1.0)'
                  ' / (m + 1.0) - 1.0')} AS n_hat_chapman,
       {round_sql(
           'sqrt((CAST(n_a AS DOUBLE) + 1.0) * (n_b + 1.0)'
           ' * (n_a - m) * (n_b - m)'
           ' / ((m + 1.0) * (m + 1.0) * (m + 2.0)))')} AS se_chapman
FROM cnt
""")
def capture_recapture_users(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the total user population
    from the half-window activity split (Chapman 1951, public): users
    'captured' in days 0-14, 'recaptured' in days 15+; n_true is the
    known census for the audit."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    dd = F.datediff(F.date_trunc("day", "ts"), "d0")
    tagged = (ev.crossJoin(F.broadcast(d0))
              .groupBy("user_id")
              .agg(F.max(F.when(dd < 15, 1).otherwise(0)).alias("in_a"),
                   F.max(F.when(dd >= 15, 1).otherwise(0))
                   .alias("in_b")))
    cnt = tagged.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("m"),
        F.count("*").cast("long").alias("n_true"))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    md = F.col("m").cast("double")
    n_hat = (na + 1.0) * (nb + 1.0) / (md + 1.0) - 1.0
    se = F.sqrt((na + 1.0) * (nb + 1.0) * (na - md) * (nb - md)
                / ((md + 1.0) * (md + 1.0) * (md + 2.0)))
    return cnt.select(
        "n_a", "n_b", "m", "n_true",
        F.round(n_hat, 6).alias("n_hat_chapman"),
        F.round(se, 6).alias("se_chapman"))


# --- Friedman test: day-of-week effects blocked by ISO week -----------------
#
# Blocked k-sample rank test (Friedman 1937; tie-corrected form per
# Conover 1999 — public): within each COMPLETE week (all 7 days
# observed) rank the 7 daily counts, then
#   Q = n(k-1) * sum_j (R_j - n(k+1)/2)^2
#       / (sum_{b,j} r_bj^2 - n k (k+1)^2 / 4)
# Doubled ranks keep tied averages integral, and the doubling cancels
# between the two quadratic forms, so Q is one exact-integer ratio.
# Within-block ranking is a 7x7 self-join per week — block-bounded.
# ---------------------------------------------------------------------------

_FR_K = 7


@register("friedman_dow_weeks", f"""
WITH daily AS (
    SELECT date_trunc('week', ts) AS wk, dayofweek(ts) AS dow,
           count(*) AS cnt
    FROM events GROUP BY wk, dow
),
complete AS (
    SELECT wk FROM daily GROUP BY wk HAVING count(*) = {_FR_K}
),
obs AS MATERIALIZED (
    SELECT d.wk, d.dow, d.cnt FROM daily d
    JOIN complete c ON c.wk = d.wk
),
ranked AS (
    SELECT a.wk, a.dow,
           2 * SUM(CASE WHEN b.cnt < a.cnt THEN 1 ELSE 0 END)
             + SUM(CASE WHEN b.cnt = a.cnt THEN 1 ELSE 0 END) + 1 AS r2
    FROM obs a JOIN obs b ON b.wk = a.wk
    GROUP BY a.wk, a.dow, a.cnt
),
byj AS (
    SELECT dow, CAST(SUM(r2) AS BIGINT) AS r2_j FROM ranked GROUP BY dow
),
agg AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM complete) AS n,
           (SELECT CAST(SUM(CAST(r2 AS DECIMAL(38,0)) * r2) AS BIGINT)
            FROM ranked) AS ssq,
           CAST(SUM(CAST((r2_j - (SELECT count(*) FROM complete)
                          * ({_FR_K} + 1)) AS DECIMAL(38,0))
                    * (r2_j - (SELECT count(*) FROM complete)
                       * ({_FR_K} + 1))) AS BIGINT) AS snum
    FROM byj
)
SELECT n AS n_blocks, CAST({_FR_K} AS INT) AS k,
       CASE WHEN n = 0 OR (CAST(ssq AS DOUBLE)
                           - CAST(n AS DOUBLE) * {_FR_K}
                             * ({_FR_K} + 1.0) * ({_FR_K} + 1.0)) <= 0.0
            THEN NULL
            ELSE {round_sql(
                f'CAST(n AS DOUBLE) * ({_FR_K} - 1.0)'
                f' * CAST(snum AS DOUBLE)'
                f' / (CAST(ssq AS DOUBLE) - CAST(n AS DOUBLE) * {_FR_K}'
                f' * ({_FR_K} + 1.0) * ({_FR_K} + 1.0))')} + 0.0
       END AS q_stat
FROM agg
""")
def friedman_dow_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Friedman Q for a day-of-week effect on daily
    event counts, blocked by complete ISO weeks."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("week", "ts").alias("wk"),
                        F.dayofweek("ts").alias("dow"))
             .agg(F.count("*").alias("cnt")))
    complete = (daily.groupBy("wk").agg(F.count("*").alias("nd"))
                .filter(F.col("nd") == _FR_K).select("wk"))
    obs = daily.join(F.broadcast(complete), "wk")
    b = obs.select(F.col("wk").alias("wkb"), F.col("cnt").alias("cb"))
    ranked = (obs.join(F.broadcast(b), F.col("wkb") == F.col("wk"))
              .groupBy("wk", "dow", "cnt")
              .agg((2 * F.sum(F.when(F.col("cb") < F.col("cnt"), 1)
                              .otherwise(0))
                    + F.sum(F.when(F.col("cb") == F.col("cnt"), 1)
                            .otherwise(0)) + 1).alias("r2")))
    n_df = complete.agg(F.count("*").cast("long").alias("n"))
    ssq = ranked.agg(F.sum(F.col("r2").cast("decimal(38,0)")
                           * F.col("r2")).cast("long").alias("ssq"))
    byj = ranked.groupBy("dow").agg(F.sum("r2").cast("long")
                                    .alias("r2_j"))
    snum = (byj.crossJoin(F.broadcast(n_df))
            .agg(F.sum((F.col("r2_j") - F.col("n") * (_FR_K + 1))
                       .cast("decimal(38,0)")
                       * (F.col("r2_j") - F.col("n") * (_FR_K + 1)))
                 .cast("long").alias("snum")))
    agg = (n_df.crossJoin(F.broadcast(ssq))
           .crossJoin(F.broadcast(snum)))
    nd = F.col("n").cast("double")
    den = (F.col("ssq").cast("double")
           - nd * _FR_K * (_FR_K + 1.0) * (_FR_K + 1.0))
    q = (nd * (_FR_K - 1.0) * F.col("snum").cast("double") / den)
    return agg.select(
        F.col("n").alias("n_blocks"),
        F.lit(_FR_K).cast("int").alias("k"),
        F.when((F.col("n") == 0) | (den <= 0.0),
               F.lit(None).cast("double"))
        .otherwise(F.round(q, 6) + 0.0).alias("q_stat"))


# --- Restricted mean survival time per experiment arm -----------------------
#
# RMST(tau) = integral_0^tau S(t) dt of the per-arm Kaplan-Meier curve
# over active-day lifetimes (Royston & Parmar 2013 popularized the
# readout; the estimator is classical — public).  Lifetimes/censoring
# follow logrank_arms (active-day count; censored = active on the max
# day); tau = 21 days.  The KM product AND the running area accumulate
# in ONE t-sorted fold per arm, mirrored by the oracle's recursive
# walk (kaplan_meier_lifetime precedent), so the doubles are
# bit-identical step by step.
# ---------------------------------------------------------------------------

_RMST_TAU = 21


def _rmst_oracle() -> str:
    return f"""
WITH RECURSIVE life AS MATERIALIZED (
    SELECT user_id, {_LR_ARM} AS arm,
           count(DISTINCT date_trunc('day', ts)) AS t,
           CASE WHEN max(date_trunc('day', ts))
                     = (SELECT max(date_trunc('day', ts)) FROM events)
                THEN 1 ELSE 0 END AS censored
    FROM events GROUP BY user_id
),
byt AS (
    SELECT arm, t, CAST(SUM(1 - censored) AS BIGINT) AS d,
           CAST(SUM(censored) AS BIGINT) AS c
    FROM life GROUP BY arm, t
),
risk AS (
    SELECT arm, t, d,
           SUM(d + c) OVER (PARTITION BY arm)
             - COALESCE(SUM(d + c) OVER (PARTITION BY arm ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS n_risk
    FROM byt
),
steps AS MATERIALIZED (
    SELECT arm, t, d, CAST(n_risk AS BIGINT) AS n_risk,
           row_number() OVER (PARTITION BY arm ORDER BY t) AS rn
    FROM risk WHERE d > 0 AND t <= {_RMST_TAU}
),
walk AS (
    SELECT arm, t, rn,
           1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s,
           0.0 + 1.0 * CAST(t AS DOUBLE) AS area
    FROM steps WHERE rn = 1
    UNION ALL
    SELECT st.arm, st.t, st.rn,
           w.s * (1.0 - CAST(st.d AS DOUBLE) / CAST(st.n_risk AS DOUBLE)),
           w.area + w.s * CAST(st.t - w.t AS DOUBLE)
    FROM steps st JOIN walk w ON st.arm = w.arm AND st.rn = w.rn + 1
),
fin AS (
    SELECT arm, t, s, area,
           row_number() OVER (PARTITION BY arm ORDER BY rn DESC) AS rr
    FROM walk
),
per_arm AS (
    SELECT a.arm, a.n_users,
           COALESCE(f.area + f.s * CAST({_RMST_TAU} - f.t AS DOUBLE),
                    CAST({_RMST_TAU} AS DOUBLE)) AS rmst
    FROM (SELECT arm, CAST(count(*) AS BIGINT) AS n_users
          FROM life GROUP BY arm) a
    LEFT JOIN fin f ON f.arm = a.arm AND f.rr = 1
)
SELECT arm, n_users, CAST({_RMST_TAU} AS BIGINT) AS tau,
       {round_sql('rmst')} AS rmst
FROM per_arm
"""


@register("rmst_arms", lambda: _rmst_oracle())
def rmst_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (tau = 21 active days) of the
    per-arm KM curves — the effect-size companion of logrank_arms."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    arm = (md5_long(F.concat(F.lit("ab:"),
                             F.col("user_id").cast("string"))) % 2)
    life = (ev.groupBy("user_id")
            .agg(F.countDistinct(day).alias("t"),
                 F.max(day).alias("last_d"), arm.alias("arm")))
    max_day = ev.agg(F.max(day).alias("max_d"))
    life = (life.crossJoin(F.broadcast(max_day))
            .select("arm", F.col("t").cast("long").alias("t"),
                    F.when(F.col("last_d") == F.col("max_d"), 1)
                    .otherwise(0).alias("censored")))
    byt = (life.groupBy("arm", "t")
           .agg(F.sum(1 - F.col("censored")).alias("d"),
                F.sum("censored").alias("c")))
    w_all = Window.partitionBy("arm")
    w_prev = (Window.partitionBy("arm").orderBy("t")
              .rowsBetween(Window.unboundedPreceding, -1))
    risk = byt.select(
        "arm", "t", "d",
        (F.sum(F.col("d") + F.col("c")).over(w_all)
         - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev),
                      F.lit(0))).alias("n_risk"))
    steps = (risk.filter((F.col("d") > 0) & (F.col("t") <= _RMST_TAU))
             .select("arm", "t", "d",
                     F.col("n_risk").cast("long").alias("n_risk")))
    folded = steps.groupBy("arm").agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "n_risk")))
        .alias("ss"))
    # fold state: (prev_t, s, area) — the first step seeds
    # s = 1 - d/n, area = 1.0 * t (full survival before any death)
    seed_t = F.element_at("ss", 1)

    def step(acc, x):
        s_new = acc["s"] * (F.lit(1.0) - x["d"].cast("double")
                            / x["n_risk"].cast("double"))
        return F.struct(
            x["t"].alias("t"),
            s_new.alias("s"),
            (acc["area"] + acc["s"]
             * (x["t"] - acc["t"]).cast("double")).alias("area"))

    seed = F.struct(
        seed_t["t"].alias("t"),
        (F.lit(1.0) - seed_t["d"].cast("double")
         / seed_t["n_risk"].cast("double")).alias("s"),
        (F.lit(0.0) + F.lit(1.0) * seed_t["t"].cast("double"))
        .alias("area"))
    fin = F.aggregate(F.slice("ss", 2, F.greatest(F.size("ss") - 1,
                                                  F.lit(0))),
                      seed, step)
    per_step = folded.select(
        "arm",
        (fin["area"] + fin["s"]
         * (F.lit(_RMST_TAU) - fin["t"]).cast("double")).alias("rmst"))
    arms_tot = life.groupBy("arm").agg(F.count("*").cast("long")
                                       .alias("n_users"))
    out = (arms_tot.join(per_step, "arm", "left")
           .select("arm", "n_users",
                   F.lit(_RMST_TAU).cast("long").alias("tau"),
                   F.round(F.coalesce(F.col("rmst"),
                                      F.lit(float(_RMST_TAU))), 6)
                   .alias("rmst")))
    return out


# --- Caliper nearest-neighbor covariate matching (ATT) ----------------------
#
# Matching estimator for the md5 experiment (Rosenbaum & Rubin 1985
# caliper matching, with replacement — public): each treated customer
# matches the control with the smallest |acctbal difference| within a
# CALIPER of +/- _PSM_CALIPER, tie-broken on control custkey; the ATT
# is the mean matched outcome difference (decimal-exact sums).
#
# Scale shape: 1-D nearest neighbour needs only the ADJACENT controls
# in balance order, never the full in-caliper candidate set (which
# grows linearly with data density — a candidates-join measured
# quadratic at 200k dense units, tools/stress_matching.py).  Controls
# dedupe to one row per distinct balance (min-custkey representative —
# exactly the (dist, ck) argmin's tie-break), then per-treated
# prev/next controls come from ignore-nulls window scans PARTITIONED
# BY the caliper-width bucket, with each bucket's first/last control
# (a bucket-count-sized aggregate) joined in as the cross-boundary
# fallback — anything beyond the adjacent bucket is > CALIPER away by
# construction.  Unmatched treated (no control within the caliper)
# are counted, not silently dropped.
# ---------------------------------------------------------------------------

_PSM_CALIPER = 500


def _psm_oracle() -> str:
    return f"""
WITH rev AS (
    SELECT o_custkey, SUM({_Y_DEC}) AS y FROM orders GROUP BY o_custkey
),
units AS MATERIALIZED (
    SELECT c.c_custkey,
           ({md5_long_sql("'exp:' || CAST(c.c_custkey AS VARCHAR)")} % 2)
             AS arm,
           CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal,
           COALESCE(rev.y, 0) AS y
    FROM customer c LEFT JOIN rev ON rev.o_custkey = c.c_custkey
),
t AS (SELECT * FROM units WHERE arm = 1),
c AS (SELECT * FROM units WHERE arm = 0),
ctrl_d AS MATERIALIZED (
    -- one control per distinct balance: the min-custkey representative
    -- IS the (dist, ck) argmin's tie-break within a balance group
    SELECT bal AS cbal, min(c_custkey) AS ck,
           arg_min(y, c_custkey) AS yc,
           CAST(floor(bal / {_PSM_CALIPER}) AS BIGINT) AS bucket
    FROM c GROUP BY bal
),
allr AS (
    SELECT bucket, cbal AS bal, 0 AS flag,
           cbal AS c_bal, ck AS c_ck, yc AS c_yc,
           CAST(NULL AS BIGINT) AS tk,
           CAST(NULL AS DECIMAL(18,2)) AS tbal,
           CAST(NULL AS DECIMAL(38,2)) AS yt
    FROM ctrl_d
    UNION ALL
    SELECT CAST(floor(bal / {_PSM_CALIPER}) AS BIGINT), bal, 1,
           NULL, NULL, NULL, c_custkey, bal, CAST(y AS DECIMAL(38,2))
    FROM t
),
scanned AS (
    SELECT *,
           last_value(c_bal IGNORE NULLS) OVER w_prev AS p_bal,
           last_value(c_ck IGNORE NULLS) OVER w_prev AS p_ck,
           last_value(c_yc IGNORE NULLS) OVER w_prev AS p_yc,
           first_value(c_bal IGNORE NULLS) OVER w_next AS n_bal,
           first_value(c_ck IGNORE NULLS) OVER w_next AS n_ck,
           first_value(c_yc IGNORE NULLS) OVER w_next AS n_yc
    FROM allr
    WINDOW w_prev AS (PARTITION BY bucket ORDER BY bal, flag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_next AS (PARTITION BY bucket ORDER BY bal, flag
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
bk AS (
    SELECT bucket, max(cbal) AS l_bal, arg_max(ck, cbal) AS l_ck,
           arg_max(yc, cbal) AS l_yc, min(cbal) AS f_bal,
           arg_min(ck, cbal) AS f_ck, arg_min(yc, cbal) AS f_yc
    FROM ctrl_d GROUP BY bucket
),
joined AS (
    SELECT s.tk, s.tbal, s.yt,
           COALESCE(s.p_bal, lo.l_bal) AS p_bal,
           COALESCE(s.p_ck, lo.l_ck) AS p_ck,
           COALESCE(s.p_yc, lo.l_yc) AS p_yc,
           COALESCE(s.n_bal, hi.f_bal) AS n_bal,
           COALESCE(s.n_ck, hi.f_ck) AS n_ck,
           COALESCE(s.n_yc, hi.f_yc) AS n_yc
    FROM scanned s
    LEFT JOIN bk lo ON lo.bucket = s.bucket - 1
    LEFT JOIN bk hi ON hi.bucket = s.bucket + 1
    WHERE s.flag = 1
),
chosen AS (
    SELECT tk, yt,
           CASE WHEN vp AND (NOT vn OR dp < dn
                             OR (dp = dn AND p_ck < n_ck))
                THEN p_ck WHEN vn THEN n_ck END AS ck,
           CASE WHEN vp AND (NOT vn OR dp < dn
                             OR (dp = dn AND p_ck < n_ck))
                THEN p_yc WHEN vn THEN n_yc END AS yc,
           CASE WHEN vp AND (NOT vn OR dp < dn
                             OR (dp = dn AND p_ck < n_ck))
                THEN dp WHEN vn THEN dn END AS dist
    FROM (
        SELECT *, tbal - p_bal AS dp, n_bal - tbal AS dn,
               p_bal IS NOT NULL
                 AND tbal - p_bal <= {_PSM_CALIPER} AS vp,
               n_bal IS NOT NULL
                 AND n_bal - tbal <= {_PSM_CALIPER} AS vn
        FROM joined)
),
best AS (
    SELECT tk, yt, ck, yc, dist FROM chosen WHERE ck IS NOT NULL
),
agg AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_treated,
           CAST(count(*) AS BIGINT) AS n_matched,
           SUM(CAST(yt AS DECIMAL(28,2)) - yc) AS diff_sum,
           SUM(CAST(dist AS DECIMAL(28,2))) AS dist_sum
    FROM best
)
SELECT n_treated, n_matched,
       n_treated - n_matched AS n_unmatched,
       CASE WHEN n_matched = 0 THEN NULL
            ELSE {round_sql('CAST(CAST(diff_sum AS VARCHAR) AS DOUBLE)'
                            ' / n_matched')} + 0.0 END AS att,
       CASE WHEN n_matched = 0 THEN NULL
            ELSE {round_sql('CAST(CAST(dist_sum AS VARCHAR) AS DOUBLE)'
                            ' / n_matched')} END AS mean_match_dist
FROM agg
"""


@register("psm_att_matching", lambda: _psm_oracle())
def psm_att_matching(spark: SparkSession, sf_dir: str,
                     units: DataFrame | None = None) -> DataFrame:
    """Caliper nearest-control matching on acctbal (with replacement):
    ATT and match-quality readout for the md5 'exp:' split.

    ``units`` (columns c_custkey, arm, bal decimal(18,2), y
    decimal(18,2)) lets tools/stress_matching.py drive this exact
    code path with a synthetic 10M-unit relation."""
    if units is None:
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal")
        rev = (orders.groupBy("o_custkey")
               .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("decimal(18,2)").alias("yr")))
        arm = (md5_long(F.concat(F.lit("exp:"),
                                 F.col("c_custkey").cast("string"))) % 2)
        zero = F.lit(0).cast("decimal(18,2)")
        units = (cust.join(rev, cust.c_custkey == rev.o_custkey, "left")
                 .select("c_custkey", arm.alias("arm"),
                         F.col("c_acctbal").cast("decimal(18,2)")
                         .alias("bal"),
                         F.coalesce("yr", zero).alias("y")))
    t = units.filter(F.col("arm") == 1).select(
        F.col("c_custkey").alias("tk"), F.col("bal").alias("tbal"),
        F.col("y").cast("decimal(38,2)").alias("yt"),
        F.floor(F.col("bal") / _PSM_CALIPER).cast("long")
        .alias("bucket"))
    ctrl_d = (units.filter(F.col("arm") == 0)
              .groupBy(F.col("bal").alias("cbal"))
              .agg(F.min("c_custkey").alias("ck"),
                   F.min_by("y", "c_custkey").alias("yc"))
              .withColumn("bucket",
                          F.floor(F.col("cbal") / _PSM_CALIPER)
                          .cast("long")))
    nulld18 = F.lit(None).cast("decimal(18,2)")
    nulll = F.lit(None).cast("long")
    allr = (ctrl_d.select(
        "bucket", F.col("cbal").alias("bal"), F.lit(0).alias("flag"),
        F.col("cbal").alias("c_bal"), F.col("ck").alias("c_ck"),
        F.col("yc").alias("c_yc"), nulll.alias("tk"),
        nulld18.alias("tbal"),
        F.lit(None).cast("decimal(38,2)").alias("yt"))
        .unionAll(t.select(
            "bucket", F.col("tbal").alias("bal"), F.lit(1).alias("flag"),
            nulld18.alias("c_bal"), nulll.alias("c_ck"),
            nulld18.alias("c_yc"), "tk", "tbal", "yt")))
    # both scans are RUNNING frames (unboundedPreceding -> current):
    # Spark evaluates those in one O(n) pass, while a frame ending at
    # unboundedFollowing re-scans forward per row — O(n^2) in the
    # partition (measured: a 10M stress run hung in exactly that
    # stage).  "next control" = running last over the REVERSED order;
    # flag desc puts equal-balance controls after treated there, so
    # the next scan stays strictly-greater while prev is inclusive.
    w_prev = (Window.partitionBy("bucket").orderBy("bal", "flag")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_next = (Window.partitionBy("bucket")
              .orderBy(F.col("bal").desc(), F.col("flag").desc())
              .rowsBetween(Window.unboundedPreceding, 0))
    scanned = (allr
               .withColumn("p_bal", F.last("c_bal", True).over(w_prev))
               .withColumn("p_ck", F.last("c_ck", True).over(w_prev))
               .withColumn("p_yc", F.last("c_yc", True).over(w_prev))
               .withColumn("n_bal", F.last("c_bal", True).over(w_next))
               .withColumn("n_ck", F.last("c_ck", True).over(w_next))
               .withColumn("n_yc", F.last("c_yc", True).over(w_next))
               .filter(F.col("flag") == 1))
    bk = (ctrl_d.groupBy("bucket")
          .agg(F.max("cbal").alias("l_bal"),
               F.max_by("ck", "cbal").alias("l_ck"),
               F.max_by("yc", "cbal").alias("l_yc"),
               F.min("cbal").alias("f_bal"),
               F.min_by("ck", "cbal").alias("f_ck"),
               F.min_by("yc", "cbal").alias("f_yc")))
    lo = bk.select((F.col("bucket") + 1).alias("bucket"),
                   "l_bal", "l_ck", "l_yc")
    hi = bk.select((F.col("bucket") - 1).alias("bucket"),
                   "f_bal", "f_ck", "f_yc")
    joined = (scanned.join(lo, "bucket", "left")
              .join(hi, "bucket", "left")
              .select("tk", "tbal", "yt",
                      F.coalesce("p_bal", "l_bal").alias("p_bal"),
                      F.coalesce("p_ck", "l_ck").alias("p_ck"),
                      F.coalesce("p_yc", "l_yc").alias("p_yc"),
                      F.coalesce("n_bal", "f_bal").alias("n_bal"),
                      F.coalesce("n_ck", "f_ck").alias("n_ck"),
                      F.coalesce("n_yc", "f_yc").alias("n_yc")))
    dp = F.col("tbal") - F.col("p_bal")
    dn = F.col("n_bal") - F.col("tbal")
    vp = F.col("p_bal").isNotNull() & (dp <= _PSM_CALIPER)
    vn = F.col("n_bal").isNotNull() & (dn <= _PSM_CALIPER)
    pick_p = vp & (~vn | (dp < dn)
                   | ((dp == dn) & (F.col("p_ck") < F.col("n_ck"))))
    chosen = joined.select(
        "tk", "yt",
        F.when(pick_p, F.col("p_ck")).when(vn, F.col("n_ck"))
        .alias("ck"),
        F.when(pick_p, F.col("p_yc")).when(vn, F.col("n_yc"))
        .alias("yc"),
        F.when(pick_p, dp).when(vn, dn).alias("dist"))
    best = chosen.filter(F.col("ck").isNotNull())
    n_t = t.agg(F.count("*").cast("long").alias("n_treated"))
    agg = best.agg(
        F.count("*").cast("long").alias("n_matched"),
        F.sum(F.col("yt").cast("decimal(28,2)") - F.col("yc"))
        .alias("diff_sum"),
        F.sum(F.col("dist").cast("decimal(28,2)")).alias("dist_sum"))
    out = agg.crossJoin(F.broadcast(n_t))
    nm = F.col("n_matched").cast("double")
    att = (F.col("diff_sum").cast("string").cast("double") / nm)
    mdist = (F.col("dist_sum").cast("string").cast("double") / nm)
    nulld = F.lit(None).cast("double")
    return out.select(
        "n_treated", "n_matched",
        (F.col("n_treated") - F.col("n_matched")).cast("long")
        .alias("n_unmatched"),
        F.when(F.col("n_matched") == 0, nulld)
        .otherwise(F.round(att, 6) + 0.0).alias("att"),
        F.when(F.col("n_matched") == 0, nulld)
        .otherwise(F.round(mdist, 6)).alias("mean_match_dist"))


# --- Bounded k-core peel of the co-purchase graph ---------------------------
#
# k-core membership (Seidman 1983, public) via _N_PEEL rounds of
# degree peeling (remove nodes with degree < k, recompute) for
# k in {2, 3}.  Peeling shrinks the node set MONOTONICALLY, so equal
# consecutive survivor counts certify convergence — the `converged`
# flag reports whether the bounded peel already reached the true
# k-core (the HITS fixed-iteration posture: bounded rounds, honesty
# flag instead of an unbounded loop).  Spark runs the same unrolled
# loop with a lag-1 localCheckpoint per round (the iterative-lineage
# memory rule); the oracle unrolls CTEs.
# ---------------------------------------------------------------------------

_KCORE_KS = (2, 3)
_N_PEEL = 4


def _kcore_oracle() -> str:
    from travel_data_pipeline_spark.queries_affinity import _PAIRS_SQL

    blocks, selects = [], []
    for k in _KCORE_KS:
        prev = f"nodes_k{k}"
        blocks.append(f"{prev} AS (SELECT node FROM nodes)")
        for i in range(1, _N_PEEL + 1):
            cur = f"s{i}_k{k}"
            blocks.append(f"""{cur} AS (
    SELECT node FROM (
        SELECT x.node, count(*) AS deg FROM (
            SELECT e.u AS node, e.v AS other FROM edges e
            UNION ALL SELECT e.v, e.u FROM edges e
        ) x
        JOIN {prev} a ON a.node = x.node
        JOIN {prev} b ON b.node = x.other
        GROUP BY x.node
    ) WHERE deg >= {k}
)""")
            prev = cur
        selects.append(f"""
SELECT {k} AS k,
       (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM s{_N_PEEL}_k{k})
         AS n_core_nodes,
       (SELECT count(*) FROM s{_N_PEEL - 1}_k{k})
         = (SELECT count(*) FROM s{_N_PEEL}_k{k}) AS converged""")
    return f"""
WITH {_PAIRS_SQL},
edges AS MATERIALIZED (
    SELECT part_a AS u, part_b AS v FROM pair_counts
),
nodes AS MATERIALIZED (
    SELECT DISTINCT node FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
),
{','.join(blocks)}
{' UNION ALL '.join(selects)}
"""


@register("kcore_membership", lambda: _kcore_oracle())
def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel (4 rounds, k = 2 and 3) of the co-purchase
    graph with a monotone-count convergence certificate."""
    from travel_data_pipeline_spark.queries_affinity import (
        _order_items,
        _pair_counts,
    )

    return kcore_from_edges(
        spark, _pair_counts(_order_items(spark, sf_dir))
        .select(F.col("part_a").alias("u"),
                F.col("part_b").alias("v")))


def kcore_from_edges(spark: SparkSession, edges_in: DataFrame,
                     round_seconds: list | None = None) -> DataFrame:
    """The bounded k-core peel body over a distinct undirected (u, v)
    edge relation — factored out so tools/stress_graph.py can drive
    the REGISTERED code path at a synthetic 10M-edge graph (VERDICT
    r11 #4), the hits_from_edges seam pattern.

    ``round_seconds``, when a list, receives one wall-clock float per
    peel round; each round's survivor checkpoint becomes EAGER so the
    measurement brackets real work — flat values certify the peel's
    per-round wall doesn't grow with lineage. The registered query
    passes None (lazy checkpoints, one materialization at the end).
    """
    import time as _time

    eager = round_seconds is not None
    edges = edges_in.localCheckpoint(eager=False)
    directed = (edges.select(F.col("u").alias("node"),
                             F.col("v").alias("other"))
                .unionAll(edges.select(F.col("v").alias("node"),
                                       F.col("u").alias("other"))))
    if eager:
        directed = directed.localCheckpoint(eager=True)
    # Checkpoint the node set: round 1 of EVERY k joins against
    # ``surv = nodes``, and an unmaterialized ``nodes`` re-runs the
    # full |2E|-row distinct shuffle once per k (the "first-round-of-k
    # spike" the r13 10M-edge cert surfaced — a fresh-session rerun
    # reproduced it, refuting the co-resident-JVM theory; the real
    # cause was this recomputation). One materialization makes every
    # round join a bounded survivor set.
    nodes = directed.select("node").distinct().localCheckpoint(eager=eager)
    n_nodes = nodes.agg(F.count("*").cast("long").alias("n_nodes"))
    out = None
    for k in _KCORE_KS:
        surv = nodes
        tail = []  # survivor sets of the last two rounds
        for _ in range(_N_PEEL):
            t0 = _time.perf_counter()
            a = surv.select(F.col("node"))
            b = surv.select(F.col("node").alias("other"))
            deg = (directed.join(a, "node").join(b, "other")
                   .groupBy("node").agg(F.count("*").alias("deg")))
            surv = (deg.filter(F.col("deg") >= k).select("node")
                    .localCheckpoint(eager=eager))
            if eager:
                round_seconds.append(_time.perf_counter() - t0)
            tail = (tail + [surv])[-2:]
        n_prev = tail[0].agg(F.count("*").alias("n_prev"))
        n_core = tail[1].agg(F.count("*").cast("long")
                             .alias("n_core_nodes"))
        row = (n_core.crossJoin(F.broadcast(n_prev))
               .crossJoin(F.broadcast(n_nodes))
               .select(F.lit(k).cast("int").alias("k"), "n_nodes",
                       "n_core_nodes",
                       (F.col("n_prev") == F.col("n_core_nodes"))
                       .alias("converged")))
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# Batch F — ranking evaluation, extreme values, LM smoothing,
# proportion intervals, and sequential drift.
# ---------------------------------------------------------------------------

# --- mean reciprocal rank of PROMO parts within brand rankings --------------
#
# MRR over per-brand popularity rankings (order count DESC, partkey
# ASC): the first PROMO part's rank per brand needs NO window — it is
# 1 + #(parts strictly ahead of the best promo part), all grouped
# aggregations, so the shape survives any parts-per-brand skew.
# ---------------------------------------------------------------------------

@register("mrr_brand_promo", f"""
WITH cnts AS (
    SELECT p.p_brand AS brand, p.p_partkey AS pk,
           CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS pos,
           COALESCE(c.cnt, 0) AS cnt
    FROM part p LEFT JOIN (
        SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1
    ) c ON c.l_partkey = p.p_partkey
),
bestc AS (
    SELECT brand, max(cnt) AS bcnt FROM cnts WHERE pos = 1
    GROUP BY brand
),
best AS (
    SELECT c.brand, b.bcnt, min(c.pk) AS bpk
    FROM cnts c JOIN bestc b ON b.brand = c.brand AND c.cnt = b.bcnt
    WHERE c.pos = 1 GROUP BY c.brand, b.bcnt
),
ranked AS (
    SELECT c.brand, b.bpk, b.bcnt,
           CAST(1 + SUM(CASE WHEN c.cnt > b.bcnt
                              OR (c.cnt = b.bcnt AND c.pk < b.bpk)
                             THEN 1 ELSE 0 END) AS BIGINT) AS rnk,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM cnts c JOIN best b ON b.brand = c.brand
    GROUP BY c.brand, b.bpk, b.bcnt
),
rows_out AS (
    SELECT brand, n_parts, rnk AS first_promo_rank,
           {round_sql('1.0 / rnk')} AS reciprocal_rank
    FROM ranked
)
SELECT brand, n_parts, first_promo_rank, reciprocal_rank FROM rows_out
UNION ALL
SELECT 'ALL', (SELECT CAST(count(*) AS BIGINT) FROM cnts),
       CAST(0 AS BIGINT),
       {round_sql(f"(SELECT {ordered_sum_sql('1.0 / rnk', 'brand')}"
                  " / count(*) FROM ranked)")}
""")
def mrr_brand_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first PROMO part in each brand's
    popularity ranking + the cross-brand MRR summary row ('ALL',
    rank 0 sentinel); window-free rank via grouped aggregations."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("pk"),
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0)
        .alias("pos"))
    cnts = (parts.join(li.groupBy(F.col("l_partkey").alias("pk"))
                       .agg(F.count("*").alias("cnt")), "pk", "left")
            .select("brand", "pk", "pos",
                    F.coalesce("cnt", F.lit(0)).alias("cnt")))
    promo = cnts.filter(F.col("pos") == 1)
    bestc = promo.groupBy("brand").agg(F.max("cnt").alias("bcnt"))
    best = (promo.join(bestc, "brand")
            .filter(F.col("cnt") == F.col("bcnt"))
            .groupBy("brand", "bcnt").agg(F.min("pk").alias("bpk")))
    ranked = (cnts.join(best, "brand")
              .groupBy("brand", "bpk", "bcnt")
              .agg((1 + F.sum(F.when(
                  (F.col("cnt") > F.col("bcnt"))
                  | ((F.col("cnt") == F.col("bcnt"))
                     & (F.col("pk") < F.col("bpk"))), 1).otherwise(0)))
                  .cast("long").alias("rnk"),
                  F.count("*").cast("long").alias("n_parts")))
    rows_out = ranked.select(
        "brand", "n_parts", F.col("rnk").alias("first_promo_rank"),
        F.round(F.lit(1.0) / F.col("rnk"), 6).alias("reciprocal_rank"))
    n_all = cnts.agg(F.count("*").cast("long").alias("n"))
    mrr = (ranked.agg(
        ordered_sum(F.lit(1.0) / F.col("rnk"), "brand").alias("s"),
        F.count("*").alias("nb"))
        .crossJoin(F.broadcast(n_all))
        .select(F.lit("ALL").alias("brand"),
                F.col("n").alias("n_parts"),
                F.lit(0).cast("long").alias("first_promo_rank"),
                F.round(F.col("s") / F.col("nb"), 6)
                .alias("reciprocal_rank")))
    return rows_out.unionAll(mrr)



# --- Gumbel block-maxima fit of weekly peak load -----------------------------
#
# Extreme-value readout (Gumbel 1958, method of moments — public):
# block maxima = the max daily count of each ISO week;
#   beta = sqrt(6 * var / pi^2),  mu = mean - gamma * beta
# (gamma = Euler-Mascheroni), and the T-block return level
#   x_T = mu - beta * ln(-ln(1 - 1/T))       (T = 4 weeks)
# Block maxima and their two moments are exact integers; the literal
# constants bridge through exact repr strings (parity hazard c).
# ---------------------------------------------------------------------------

_GUMBEL_T = 4


@register("gumbel_weekly_maxima", f"""
WITH daily AS (
    SELECT date_trunc('week', ts) AS wk,
           date_trunc('day', ts) AS day, count(*) AS cnt
    FROM events GROUP BY wk, day
),
maxima AS (SELECT wk, max(cnt) AS m FROM daily GROUP BY wk),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(m) AS BIGINT) AS s,
           CAST(sum(m * m) AS BIGINT) AS ss
    FROM maxima
),
t AS (
    SELECT n, CAST(n AS DOUBLE) AS nd, CAST(s AS DOUBLE) AS sd,
           CAST(ss AS DOUBLE) AS ssd
    FROM mom
),
fit AS (
    SELECT n, sd / nd AS mean_max,
           CASE WHEN n <= 1 THEN NULL
                ELSE (ssd - sd * sd / nd) / (nd - 1.0) END AS var_max
    FROM t
),
fit2 AS (
    SELECT n, mean_max, var_max,
           CASE WHEN var_max IS NULL OR var_max <= 0.0 THEN NULL
                ELSE sqrt(6.0 * var_max
                          / CAST('9.869604401089358' AS DOUBLE)) END AS beta
    FROM fit
)
SELECT n AS n_blocks, {round_sql('mean_max')} AS mean_max,
       {round_sql('var_max')} AS var_max,
       CASE WHEN beta IS NULL THEN NULL
            ELSE {round_sql('beta')} END AS beta,
       CASE WHEN beta IS NULL THEN NULL
            ELSE {round_sql(
                f"mean_max - CAST('0.5772156649015329' AS DOUBLE) * beta")}
       END AS mu,
       CASE WHEN beta IS NULL THEN NULL
            ELSE {round_sql(
                f"(mean_max - CAST('0.5772156649015329' AS DOUBLE) * beta)"
                f" - beta * ln(-ln(1.0 - 1.0 / {_GUMBEL_T}.0))")}
       END AS return_level_4wk
FROM fit2
""")
def gumbel_weekly_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel method-of-moments fit of weekly peak daily load with the
    4-week return level."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("week", "ts").alias("wk"),
                        F.date_trunc("day", "ts").alias("day"))
             .agg(F.count("*").alias("cnt")))
    maxima = daily.groupBy("wk").agg(F.max("cnt").alias("m"))
    mom = maxima.agg(F.count("*").cast("long").alias("n"),
                     F.sum("m").cast("long").alias("s"),
                     F.sum(F.col("m") * F.col("m")).cast("long")
                     .alias("ss"))
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mean_max = sd / nd
    var_max = F.when(F.col("n") <= 1, F.lit(None).cast("double")) \
        .otherwise((ssd - sd * sd / nd) / (nd - 1.0))
    gamma = F.lit(float("0.5772156649015329"))
    beta = F.when(var_max.isNull() | (var_max <= 0.0),
                  F.lit(None).cast("double")) \
        .otherwise(F.sqrt(6.0 * var_max / F.lit(float("9.869604401089358"))))
    mu = mean_max - gamma * beta
    ret = mu - beta * F.log(-F.log(F.lit(1.0)
                                   - F.lit(1.0)
                                   / float(_GUMBEL_T)))
    nulld = F.lit(None).cast("double")
    return mom.select(
        F.col("n").alias("n_blocks"),
        F.round(mean_max, 6).alias("mean_max"),
        F.round(var_max, 6).alias("var_max"),
        F.when(beta.isNull(), nulld).otherwise(F.round(beta, 6))
        .alias("beta"),
        F.when(beta.isNull(), nulld).otherwise(F.round(mu, 6))
        .alias("mu"),
        F.when(beta.isNull(), nulld).otherwise(F.round(ret, 6))
        .alias("return_level_4wk"))


# --- Good-Turing frequency smoothing audit -----------------------------------
#
# Frequency-of-frequencies estimator (Good 1953, public): with N_r =
# #types seen r times, the smoothed count r* = (r+1) N_{r+1} / N_r and
# the unseen probability mass p0 = N_1 / N_tokens — the LM-smoothing
# companion of kn_bigram_ppl's Kneser-Ney.  Every quantity is an
# exact-integer ratio over the bounded frequency ladder r = 1..8
# (NULL r* where the ladder has a hole, the textbook caveat).
# ---------------------------------------------------------------------------

_GT_MAX_R = 8


@register("good_turing_smoothing", f"""
WITH toks AS (
    SELECT unnest(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS token
    FROM documents
),
freq AS (SELECT token, count(*) AS r FROM toks GROUP BY token),
fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM freq GROUP BY r),
tot AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM toks) AS n_tokens,
           (SELECT CAST(count(*) AS BIGINT) FROM freq) AS n_types
),
grid AS (
    SELECT g.r, COALESCE(f.n_r, 0) AS n_r, COALESCE(f2.n_r, 0) AS n_r1
    FROM (SELECT unnest(generate_series(1, {_GT_MAX_R})) AS r) g
    LEFT JOIN fof f ON f.r = g.r
    LEFT JOIN fof f2 ON f2.r = g.r + 1
)
SELECT CAST(grid.r AS INT) AS r, grid.n_r,
       CASE WHEN grid.n_r = 0 OR grid.n_r1 = 0 THEN NULL
            ELSE {round_sql('(grid.r + 1.0) * grid.n_r1 / grid.n_r')}
       END AS r_star,
       tot.n_tokens, tot.n_types,
       {round_sql('''(SELECT COALESCE(SUM(CASE WHEN r = 1
                 THEN CAST(n_r AS DOUBLE) END), 0.0) FROM fof)
             / tot.n_tokens''')} AS p0_unseen
FROM grid CROSS JOIN tot
""")
def good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing r* ladder (r = 1..8) and unseen mass p0 over the
    corpus unigram frequencies."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text.token_array(F.col("text"))).alias("token"))
    freq = toks.groupBy("token").agg(F.count("*").alias("r"))
    fof = freq.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    tot = (toks.agg(F.count("*").cast("long").alias("n_tokens"))
           .crossJoin(F.broadcast(
               freq.agg(F.count("*").cast("long").alias("n_types")))))
    n1 = (fof.filter(F.col("r") == 1)
          .agg(F.coalesce(F.sum("n_r"), F.lit(0)).cast("double")
               .alias("n1")))
    grid = (freq.sparkSession.range(1, _GT_MAX_R + 1)
            .select(F.col("id").cast("int").alias("r"))
            .join(F.broadcast(fof), "r", "left")
            .join(F.broadcast(fof.select((F.col("r") - 1).alias("r"),
                                         F.col("n_r").alias("n_r1"))),
                  "r", "left")
            .select("r", F.coalesce("n_r", F.lit(0)).alias("n_r"),
                    F.coalesce("n_r1", F.lit(0)).alias("n_r1")))
    r_star = (F.when((F.col("n_r") == 0) | (F.col("n_r1") == 0),
                     F.lit(None).cast("double"))
              .otherwise(F.round((F.col("r") + 1.0) * F.col("n_r1")
                                 / F.col("n_r"), 6)))
    return (grid.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(n1))
            .select("r", "n_r", r_star.alias("r_star"),
                    "n_tokens", "n_types",
                    F.round(F.col("n1") / F.col("n_tokens"), 6)
                    .alias("p0_unseen")))


# --- Wilson score intervals for per-type purchase conversion -----------------
#
# Per event type: of the users who did the type, how many ever
# purchased — with the Wilson (1927, public) 95% score interval,
# which stays inside [0,1] and behaves at small n unlike the Wald
# interval.  z = 1.96 literal; counts exact; one shared double tree.
# ---------------------------------------------------------------------------

_WILSON_Z = "1.96"


@register("wilson_ci_conversion", f"""
WITH buyers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
per_type AS (
    SELECT e.event_type,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n,
           CAST(count(DISTINCT CASE WHEN b.user_id IS NOT NULL
                                    THEN e.user_id END) AS BIGINT) AS x
    FROM events e LEFT JOIN buyers b ON b.user_id = e.user_id
    GROUP BY e.event_type
),
t AS (
    SELECT event_type, n, x,
           CAST(x AS DOUBLE) / n AS p,
           CAST({_WILSON_Z} AS DOUBLE) AS z, CAST(n AS DOUBLE) AS nd
    FROM per_type
)
SELECT event_type, n AS n_users, x AS n_converted,
       {round_sql('p')} AS p_hat,
       {round_sql('''(p + z * z / (2.0 * nd)
            - z * sqrt(p * (1.0 - p) / nd
                       + z * z / (4.0 * nd * nd)))
           / (1.0 + z * z / nd)''')} + 0.0 AS wilson_lo,
       {round_sql('''(p + z * z / (2.0 * nd)
            + z * sqrt(p * (1.0 - p) / nd
                       + z * z / (4.0 * nd * nd)))
           / (1.0 + z * z / nd)''')} AS wilson_hi
FROM t
""")
def wilson_ci_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval of the purchase-conversion rate per
    event type (users who did the type vs those who ever purchased)."""
    ev = load_table(spark, sf_dir, "events")
    # per-user flag via groupBy (capture_recapture shape) — buyers is
    # user-cardinality, never broadcast it (review r11 pass 2)
    flags = (ev.groupBy("user_id")
             .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("is_buyer")))
    pairs = ev.select("event_type", "user_id").distinct()
    per_type = (pairs.join(flags, "user_id")
                .groupBy("event_type")
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum("is_buyer").cast("long").alias("x")))
    p = F.col("x").cast("double") / F.col("n")
    z = F.lit(float(_WILSON_Z))
    nd = F.col("n").cast("double")
    half = z * z / (2.0 * nd)
    rad = z * F.sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))
    den = F.lit(1.0) + z * z / nd
    return per_type.select(
        "event_type", F.col("n").alias("n_users"),
        F.col("x").alias("n_converted"),
        F.round(p, 6).alias("p_hat"),
        (F.round((p + half - rad) / den, 6) + 0.0).alias("wilson_lo"),
        F.round((p + half + rad) / den, 6).alias("wilson_hi"))


# --- Page-Hinkley sequential drift statistic ---------------------------------
#
# Sequential mean-shift monitor (Page 1954 / Hinkley 1971, public)
# over the daily total series with delta = 0:
#   m_t  = sum_{i<=t} (x_i - mean(x_1..x_i))
#   PH_t = m_t - min_{i<=t} m_i          (upward-shift form)
# The fold carries (sum, m, min m, max PH, argmax day) through one
# day-sorted pinned pass; the per-step running mean is the ONE shared
# double division.  Output: the final and maximal PH with the argmax
# day (ties -> earliest).  Oracle: recursive walk (holt precedent).
# ---------------------------------------------------------------------------

def _ph_oracle() -> str:
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
    {_DAILY_SQL.format(where="")}
),
idx AS MATERIALIZED (
    SELECT t, cnt, row_number() OVER (ORDER BY t) AS rn FROM daily
),
walk AS (
    SELECT rn, t, CAST(cnt AS BIGINT) AS s,
           cnt - CAST(cnt AS DOUBLE) AS m,
           cnt - CAST(cnt AS DOUBLE) AS minm,
           CAST(0.0 AS DOUBLE) AS maxph, t AS argmax_t
    FROM idx WHERE rn = 1
    UNION ALL
    SELECT g.rn, g.t, w.s + g.cnt,
           w.m + g.cnt - CAST(w.s + g.cnt AS DOUBLE) / g.rn,
           LEAST(w.minm,
                 w.m + g.cnt - CAST(w.s + g.cnt AS DOUBLE) / g.rn),
           CASE WHEN (w.m + g.cnt
                      - CAST(w.s + g.cnt AS DOUBLE) / g.rn)
                     - LEAST(w.minm, w.m + g.cnt
                             - CAST(w.s + g.cnt AS DOUBLE) / g.rn)
                     > w.maxph
                THEN (w.m + g.cnt
                      - CAST(w.s + g.cnt AS DOUBLE) / g.rn)
                     - LEAST(w.minm, w.m + g.cnt
                             - CAST(w.s + g.cnt AS DOUBLE) / g.rn)
                ELSE w.maxph END,
           CASE WHEN (w.m + g.cnt
                      - CAST(w.s + g.cnt AS DOUBLE) / g.rn)
                     - LEAST(w.minm, w.m + g.cnt
                             - CAST(w.s + g.cnt AS DOUBLE) / g.rn)
                     > w.maxph
                THEN g.t ELSE w.argmax_t END
    FROM idx g JOIN walk w ON g.rn = w.rn + 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       {round_sql('m - minm')} AS ph_final,
       {round_sql('maxph')} AS ph_max,
       CAST(argmax_t AS BIGINT) AS drift_day
FROM walk WHERE rn = (SELECT max(rn) FROM idx)
"""


@register("page_hinkley_drift", lambda: _ph_oracle())
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward mean-shift statistic over the daily series:
    final PH, maximal PH and its (earliest) argmax day."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    g = daily.agg(
        F.array_sort(F.collect_list(F.struct("t", "cnt"))).alias("ss"),
        F.count("*").cast("long").alias("n_days"))
    first = F.element_at("ss", 1)
    m0 = (first["cnt"] - first["cnt"].cast("double"))
    seed = F.struct(
        F.lit(1).cast("long").alias("rn"),
        first["cnt"].cast("long").alias("s"),
        m0.alias("m"), m0.alias("minm"),
        F.lit(0.0).alias("maxph"),
        first["t"].cast("long").alias("argmax_t"))

    def step(acc, x):
        rn = acc["rn"] + 1
        s = acc["s"] + x["cnt"]
        m = acc["m"] + x["cnt"] - s.cast("double") / rn
        minm = F.least(acc["minm"], m)
        ph = m - minm
        improved = ph > acc["maxph"]
        return F.struct(
            rn.alias("rn"), s.alias("s"), m.alias("m"),
            minm.alias("minm"),
            F.when(improved, ph).otherwise(acc["maxph"]).alias("maxph"),
            F.when(improved, x["t"].cast("long"))
            .otherwise(acc["argmax_t"]).alias("argmax_t"))

    # fold projected ONCE into ``st`` before the 4 field extractions
    # (the croston single-render treatment, VERDICT r11 #2:
    # CollapseProject keeps a non-cheap expression consumed more than
    # once in its own projection, so the day-long recurrence renders
    # a single time in the plan)
    fin = F.aggregate(F.slice("ss", 2, F.greatest(F.size("ss") - 1,
                                                  F.lit(0))),
                      seed, step)
    state = g.select("n_days", fin.alias("st"))
    return state.select(
        "n_days",
        F.round(F.col("st")["m"] - F.col("st")["minm"], 6)
        .alias("ph_final"),
        F.round(F.col("st")["maxph"], 6).alias("ph_max"),
        F.col("st")["argmax_t"].alias("drift_day"))
