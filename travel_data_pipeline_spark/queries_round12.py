"""Round-12 candidate queries (written in round 8) — nonparametric /
robust experiment readouts, sequence information, and forecast
combination:

- mann_whitney_arms: exact tie-adjusted Mann-Whitney U / rank-sum
  z between the experiment arms — the nonparametric sibling of the
  mean-based ATE (outliers can't dominate it). Ranks are kept in
  HALF-UNITS (2*rank is integer even for tied average ranks), so the
  whole statistic is exact integer/decimal until the final z ratio.
- trimmed_mean_ate: 5%-trimmed per-arm means and their difference —
  the robust-ATE companion (exact rank-based trimming through
  two_phase_ordered; no approximate percentiles).
- markov_entropy_rate: the entropy rate of the event-type Markov
  chain, composed FROM the registered transition matrix and
  stationary distribution (H = -sum_i pi_i sum_j p_ij ln p_ij) —
  the sequence-information readout of the behavior model.
- forecast_ensemble_wape: inverse-error (Bates-Granger 1969, public)
  combination of naive / seasonal-naive / Holt-Winters one-step
  forecasts on the shared zero-filled grid, with the combined WAPE —
  the model-selection readout of the timeseries family.

Float discipline (registry.py docstring is authoritative): exact
integer/decimal moments; ln on shared per-row trees (entropy
precedent); bounded folds over SORTED lists; big decimal->double
casts bridged through the exact decimal string (parity.py magnitude
hazard); rounded outputs via parity.round_sql + `+ 0.0` where a
rounded negative zero is possible.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions.parity import (
    ordered_fold, ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.queries_cleaning import (
    _NORM as _CLEAN_NORM,
)
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

_LN2 = repr(math.log(2.0))

# ---------------------------------------------------------------------------
# Mann-Whitney U between experiment arms.
#
#   2*avg_rank(value group) = 2*cum_before + cnt + 1   (integer!)
#   2*R_t  = sum over groups cnt_t * (2*cum_before + cnt + 1)
#   2*U_t  = 2*R_t - n_t*(n_t + 1)
#   E[2U]  = n_t*n_c
#   Var(U) = n_t*n_c/12 * ((N+1) - sum(t^3 - t) / (N*(N-1)))
#   z      = (U - E[U]) / sqrt(Var(U))       (no continuity correction)
#
# The half-unit trick keeps tied AVERAGE ranks integral, so R/U are
# exact decimals; only z is a double tree. The global rank cumsum
# rides two_phase_ordered over the (value -> counts) GROUP relation
# (cumsum_cols takes exact longs), so no single-partition sort ever
# sees the data-scaled value list.
# ---------------------------------------------------------------------------


@register("mann_whitney_arms", lambda: _mw_oracle())
def mann_whitney_arms(spark: SparkSession, sf_dir: str,
                      units: DataFrame | None = None) -> DataFrame:
    """Exact tie-adjusted Mann-Whitney U / z between the arms.

    ``units`` lets tools/stress_stats.py drive this exact code path
    with a synthetic 20M-row arm (certifying the two-phase rank has no
    hidden single-partition sort); default is the registered
    ipw_units split."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )
    from travel_data_pipeline_spark.queries_round10 import ipw_units

    if units is None:
        units = ipw_units(spark, sf_dir)
    units = units.select("arm", "y")
    vals = units.groupBy("y").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("cnt_t"))
    ranked = two_phase_ordered(
        vals, [F.col("y").asc()],
        bucket_on=F.col("y").cast("double"),
        cumsum_cols={"cnt": "cum"})
    contrib = ranked.select(
        "y", "cnt", "cnt_t",
        (F.col("cnt_t").cast("decimal(38,0)")
         * (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1))
        .alias("r2_term"),
        (F.col("cnt").cast("decimal(38,0)") * F.col("cnt")
         * F.col("cnt") - F.col("cnt")).alias("tie_term"),
        F.when(F.col("cnt") > 1, 1).otherwise(0).alias("is_tie_grp"))
    agg = contrib.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_t").cast("long").alias("n_t"),
        F.sum("r2_term").alias("r2"),
        F.sum("tie_term").alias("ties"),
        F.sum("is_tie_grp").cast("long").alias("tie_groups"))
    n_t = F.col("n_t").cast("double")
    n_c = (F.col("n") - F.col("n_t")).cast("double")
    nd = F.col("n").cast("double")
    # string-bridge the big decimals (parity.py magnitude hazard)
    u2 = (F.col("r2").cast("string").cast("double")
          - n_t * (n_t + F.lit(1.0)))
    tie_adj = (F.col("ties").cast("string").cast("double")
               / (nd * (nd - F.lit(1.0))))
    var_u = (n_t * n_c / F.lit(12.0)
             * ((nd + F.lit(1.0)) - tie_adj))
    z = (u2 / F.lit(2.0) - n_t * n_c / F.lit(2.0)) / F.sqrt(var_u)
    degenerate = ((F.col("n_t") == 0) | (F.col("n_t") == F.col("n"))
                  | (F.col("n") <= 1))
    nulld = F.lit(None).cast("double")
    return agg.select(
        F.col("n_t").alias("n_treat"),
        (F.col("n") - F.col("n_t")).cast("long").alias("n_ctrl"),
        "tie_groups",
        F.when(degenerate, nulld)
        .otherwise(F.round(u2 / F.lit(2.0), 6)).alias("u_stat"),
        F.when(degenerate, nulld)
        .otherwise(F.round(n_t * n_c / F.lit(2.0), 6)).alias("mean_u"),
        F.when(degenerate | (var_u == 0.0), nulld)
        .otherwise(F.round(z, 6) + F.lit(0.0)).alias("z"))


def _mw_oracle() -> str:
    from travel_data_pipeline_spark.queries_round10 import (
        ipw_units_sql,
    )

    units_cte = ipw_units_sql()
    return f"""
WITH {units_cte},
vals AS (
    SELECT y, COUNT(*) AS cnt,
           SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS cnt_t
    FROM units GROUP BY y
),
ranked AS (
    SELECT y, cnt, cnt_t,
           SUM(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cum
    FROM vals
),
agg AS (
    SELECT SUM(cnt) AS n, SUM(cnt_t) AS n_t,
           SUM(CAST(cnt_t AS DECIMAL(38,0))
               * (2 * (cum - cnt) + cnt + 1)) AS r2,
           SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt) AS ties,
           SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS tie_groups
    FROM ranked
),
t AS (
    SELECT n, n_t, tie_groups,
           CAST(n_t AS DOUBLE) AS ntd,
           CAST(n - n_t AS DOUBLE) AS ncd,
           CAST(n AS DOUBLE) AS nd,
           CAST(CAST(r2 AS VARCHAR) AS DOUBLE) AS r2d,
           CAST(CAST(ties AS VARCHAR) AS DOUBLE) AS tiesd
    FROM agg
),
t2 AS (
    SELECT *,
           r2d - ntd * (ntd + 1.0) AS u2,
           ntd * ncd / 12.0
             * ((nd + 1.0) - tiesd / (nd * (nd - 1.0))) AS var_u
    FROM t
)
SELECT CAST(n_t AS BIGINT) AS n_treat,
       CAST(n - n_t AS BIGINT) AS n_ctrl,
       CAST(tie_groups AS BIGINT) AS tie_groups,
       CASE WHEN n_t = 0 OR n_t = n OR n <= 1 THEN NULL
            ELSE {round_sql('u2 / 2.0')} END AS u_stat,
       CASE WHEN n_t = 0 OR n_t = n OR n <= 1 THEN NULL
            ELSE {round_sql('ntd * ncd / 2.0')} END AS mean_u,
       CASE WHEN n_t = 0 OR n_t = n OR n <= 1 OR var_u = 0.0 THEN NULL
            ELSE {round_sql('(u2 / 2.0 - ntd * ncd / 2.0)'
                            ' / sqrt(var_u)')} + 0.0 END AS z
FROM t2
"""


# ---------------------------------------------------------------------------
# 5%-trimmed-mean ATE — the robust companion of the stratified ATE:
# trim the lowest and highest floor(n/20) outcomes per arm by exact
# rank (two_phase_ordered — no approximate percentile, no
# single-partition sort), then difference the kept-decimal means.
# ---------------------------------------------------------------------------

_TRIM_DENOM = 20  # floor(n/20) = 5% each tail


@register("trimmed_mean_ate", lambda: _tm_oracle())
def trimmed_mean_ate(spark: SparkSession, sf_dir: str,
                     units: DataFrame | None = None) -> DataFrame:
    """Exact 5%-trimmed per-arm means and the trimmed ATE.

    ``units`` lets tools/stress_stats.py drive this exact code path
    with a synthetic 20M-row arm; default is the registered
    ipw_units split."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )
    from travel_data_pipeline_spark.queries_round10 import ipw_units

    if units is None:
        units = ipw_units(spark, sf_dir)
    units = units.select("c_custkey", "arm", "y")
    sides = []
    for arm_v in (0, 1):
        side = units.filter(F.col("arm") == arm_v)
        n_agg = side.agg(F.count("*").alias("n"))
        ranked = two_phase_ordered(
            side, [F.col("y").asc(), F.col("c_custkey").asc()],
            bucket_on=F.col("y").cast("double"), rank_col="rk")
        kept = (ranked.crossJoin(F.broadcast(n_agg))
                .filter((F.col("rk") > F.floor(F.col("n")
                                               / _TRIM_DENOM))
                        & (F.col("rk") <= F.col("n")
                           - F.floor(F.col("n") / _TRIM_DENOM)))
                .agg(F.min("n").alias("n"),
                     F.count("*").alias("n_kept"),
                     F.sum("y").alias("sy"))
                # an EMPTY arm yields 0 rows in the oracle's kept CTE
                # (inner join -> 0 output rows); a global agg over an
                # empty frame still emits one row here — drop it so
                # both engines agree on cardinality (review r08 #2)
                .filter(F.col("n").isNotNull()))
        sides.append(kept.select(
            F.lit(arm_v).alias("arm"), "n", "n_kept", "sy"))
    a1 = sides[1].select(F.col("n").alias("n1"),
                         F.col("n_kept").alias("k1"),
                         F.col("sy").alias("s1"))
    a0 = sides[0].select(F.col("n").alias("n0"),
                         F.col("n_kept").alias("k0"),
                         F.col("sy").alias("s0"))
    m1 = F.col("s1").cast("double") / F.col("k1").cast("double")
    m0 = F.col("s0").cast("double") / F.col("k0").cast("double")
    nulld = F.lit(None).cast("double")
    bad = (F.col("k1") <= 0) | (F.col("k0") <= 0)
    return (a1.crossJoin(F.broadcast(a0))
            .select(F.col("n1").cast("long").alias("n_treat"),
                    F.col("n0").cast("long").alias("n_ctrl"),
                    F.col("k1").cast("long").alias("kept_treat"),
                    F.col("k0").cast("long").alias("kept_ctrl"),
                    F.when(bad, nulld)
                    .otherwise(F.round(m1, 6)).alias("mean_treat"),
                    F.when(bad, nulld)
                    .otherwise(F.round(m0, 6)).alias("mean_ctrl"),
                    F.when(bad, nulld)
                    .otherwise(F.round(m1 - m0, 6) + F.lit(0.0))
                    .alias("trimmed_ate")))


def _tm_oracle() -> str:
    from travel_data_pipeline_spark.queries_round10 import (
        ipw_units_sql,
    )

    units_cte = ipw_units_sql()
    return f"""
WITH {units_cte},
ranked AS (
    SELECT arm, y,
           ROW_NUMBER() OVER (PARTITION BY arm
                              ORDER BY y, c_custkey) AS rk,
           COUNT(*) OVER (PARTITION BY arm) AS n
    FROM units
),
kept AS (
    SELECT arm, MIN(n) AS n, COUNT(*) AS n_kept, SUM(y) AS sy
    FROM ranked
    WHERE rk > n // {_TRIM_DENOM} AND rk <= n - n // {_TRIM_DENOM}
    GROUP BY arm
)
SELECT CAST(a1.n AS BIGINT) AS n_treat, CAST(a0.n AS BIGINT) AS n_ctrl,
       CAST(a1.n_kept AS BIGINT) AS kept_treat,
       CAST(a0.n_kept AS BIGINT) AS kept_ctrl,
       CASE WHEN a1.n_kept <= 0 OR a0.n_kept <= 0 THEN NULL
            ELSE {round_sql('CAST(a1.sy AS DOUBLE)'
                            ' / CAST(a1.n_kept AS DOUBLE)')}
       END AS mean_treat,
       CASE WHEN a1.n_kept <= 0 OR a0.n_kept <= 0 THEN NULL
            ELSE {round_sql('CAST(a0.sy AS DOUBLE)'
                            ' / CAST(a0.n_kept AS DOUBLE)')}
       END AS mean_ctrl,
       CASE WHEN a1.n_kept <= 0 OR a0.n_kept <= 0 THEN NULL
            ELSE {round_sql(
                'CAST(a1.sy AS DOUBLE) / CAST(a1.n_kept AS DOUBLE)'
                ' - CAST(a0.sy AS DOUBLE) / CAST(a0.n_kept AS DOUBLE)')}
                 + 0.0
       END AS trimmed_ate
FROM kept a1 JOIN kept a0 ON a1.arm = 1 AND a0.arm = 0
"""


# ---------------------------------------------------------------------------
# Markov entropy rate — composed from the registered transition
# matrix and stationary distribution (both publish 6-dp values, so
# both engines walk identical inputs):
#   H = -sum_i pi_i * sum_j p_ij * ln(p_ij)     [nats; /ln2 -> bits]
# The fold runs over the bounded |types|^2 cell relation in pinned
# (from_type, to_type) order; ln is the per-row entropy precedent.
# ---------------------------------------------------------------------------


def _me_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    tm = ORACLES["event_transition_matrix"]
    sd = ORACLES["markov_stationary_distribution"]
    tm_sql = tm() if callable(tm) else tm
    sd_sql = sd() if callable(sd) else sd
    return f"""
WITH tm AS MATERIALIZED (
{tm_sql}
),
sd AS MATERIALIZED (
{sd_sql}
),
cells AS (
    SELECT t.from_type, t.to_type,
           s.stationary_p * t.p * ln(t.p) AS term
    FROM tm t JOIN sd s ON s.event_type = t.from_type
    WHERE t.p > 0
),
folded AS (
    SELECT COUNT(*) AS n_cells,
           {ordered_sum_sql("term", "from_type, to_type")} AS s
    FROM cells
),
ns AS (SELECT COUNT(*) AS n_states FROM sd)
SELECT CAST(ns.n_states AS BIGINT) AS n_states,
       CAST(f.n_cells AS BIGINT) AS n_cells,
       CASE WHEN f.n_cells = 0 THEN NULL
            ELSE {round_sql('-s')} + 0.0 END AS entropy_nats,
       CASE WHEN f.n_cells = 0 THEN NULL
            ELSE {round_sql(f'-s / {_LN2}')} + 0.0 END AS entropy_bits
FROM folded f CROSS JOIN ns
"""


@register("markov_entropy_rate", _me_oracle)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate (nats + bits) of the event-type Markov chain."""
    from travel_data_pipeline_spark.queries_core import (
        event_transition_matrix,
    )
    from travel_data_pipeline_spark.queries_round9 import (
        markov_stationary_distribution,
    )

    tm = event_transition_matrix(spark, sf_dir)
    sd = markov_stationary_distribution(spark, sf_dir).select(
        "event_type", "stationary_p")
    cells = (tm.filter(F.col("p") > 0)
             .join(F.broadcast(sd),
                   tm.from_type == sd.event_type)
             .select("from_type", "to_type",
                     (F.col("stationary_p") * F.col("p")
                      * F.log(F.col("p"))).alias("term")))
    folded = cells.agg(
        F.count("*").alias("n_cells"),
        ordered_sum("term", "from_type", "to_type").alias("s"))
    s = F.col("s")
    ns = sd.agg(F.count("*").alias("n_states"))
    nulld = F.lit(None).cast("double")
    return (folded.crossJoin(F.broadcast(ns))
            .select(F.col("n_states").cast("long").alias("n_states"),
                    F.col("n_cells").cast("long").alias("n_cells"),
                    F.when(F.col("n_cells") == 0, nulld)
                    .otherwise(F.round(-s, 6) + F.lit(0.0))
                    .alias("entropy_nats"),
                    F.when(F.col("n_cells") == 0, nulld)
                    .otherwise(F.round(-s / F.lit(float(_LN2)), 6)
                               + F.lit(0.0)).alias("entropy_bits")))


# ---------------------------------------------------------------------------
# Forecast combination (Bates-Granger inverse-error weights) on the
# Holt-Winters grid: naive (lag-1), seasonal-naive (lag-7), and the
# HW one-step forecast are evaluated with WAPE per event type; the
# ensemble weights each model by 1/serr (inverse absolute error —
# actual cancels, so weights equal inverse-WAPE weights) and reports
# the combined forecast's WAPE. A model with ZERO error (degenerate
# fixture) takes the whole weight, split evenly among zero-error
# models — the branch is spelled identically in both engines.
#
# Scale shape: rides the bounded HW state relation; two folds over
# <= |days| structs per type (error pass, then the weighted combo),
# no second shuffle — the per-type day array is built once.
# ---------------------------------------------------------------------------

_FE_M = 7  # seasonal-naive lag == the HW season


def _fe_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    hw = ORACLES["holt_winters_daily"]
    hw_sql = hw() if callable(hw) else hw
    w_expr = ("CASE WHEN zc > 0 THEN "
              "(CASE WHEN {s} = 0.0 THEN 1.0 / zc ELSE 0.0 END) "
              "ELSE (1.0 / {s}) / (1.0 / sn + 1.0 / ss + 1.0 / sh) "
              "END")
    wn = w_expr.format(s="sn")
    ws = w_expr.format(s="ss")
    wh = w_expr.format(s="sh")
    return f"""
WITH base AS MATERIALIZED (
{hw_sql}
),
seqd AS (
    SELECT event_type, day, cnt, forecast,
           lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day)
               AS pcnt,
           lag(cnt, {_FE_M}) OVER (PARTITION BY event_type
                                   ORDER BY day) AS scnt
    FROM base
),
ev AS (
    SELECT event_type, day, cnt,
           CAST(pcnt AS DOUBLE) AS f_n, CAST(scnt AS DOUBLE) AS f_s,
           forecast AS f_h
    FROM seqd WHERE forecast IS NOT NULL
),
folded AS (
    SELECT event_type, COUNT(*) AS n_eval, SUM(cnt) AS actual,
           {ordered_sum_sql("abs(CAST(cnt AS DOUBLE) - f_n)", "day")} AS sn,
           {ordered_sum_sql("abs(CAST(cnt AS DOUBLE) - f_s)", "day")} AS ss,
           {ordered_sum_sql("abs(CAST(cnt AS DOUBLE) - f_h)", "day")} AS sh,
           list(ROW(cnt, f_n, f_s, f_h) ORDER BY day) AS rows_
    FROM ev GROUP BY event_type
),
wtd AS (
    SELECT event_type, n_eval, actual, sn, ss, sh,
           (CASE WHEN sn = 0.0 THEN 1 ELSE 0 END
            + CASE WHEN ss = 0.0 THEN 1 ELSE 0 END
            + CASE WHEN sh = 0.0 THEN 1 ELSE 0 END) AS zc,
           rows_
    FROM folded
),
combo AS (
    SELECT event_type, n_eval, actual, sn, ss, sh, zc,
           {wn} AS w_n, {ws} AS w_s, {wh} AS w_h,
           list_reduce(list_transform(rows_, r ->
               abs(CAST(r[1] AS DOUBLE)
                   - ({wn} * r[2] + {ws} * r[3] + {wh} * r[4]))),
               (x, y) -> x + y) AS se
    FROM wtd
)
SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval,
       CASE WHEN actual = 0 THEN NULL
            ELSE {round_sql('sn / CAST(actual AS DOUBLE)')}
       END AS wape_naive,
       CASE WHEN actual = 0 THEN NULL
            ELSE {round_sql('ss / CAST(actual AS DOUBLE)')}
       END AS wape_snaive,
       CASE WHEN actual = 0 THEN NULL
            ELSE {round_sql('sh / CAST(actual AS DOUBLE)')}
       END AS wape_hw,
       {round_sql('w_n')} AS w_naive,
       {round_sql('w_s')} AS w_snaive,
       {round_sql('w_h')} AS w_hw,
       CASE WHEN actual = 0 THEN NULL
            ELSE {round_sql('se / CAST(actual AS DOUBLE)')}
       END AS wape_ensemble
FROM combo
"""


@register("forecast_ensemble_wape", _fe_oracle)
def forecast_ensemble_wape(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Inverse-error ensemble of naive / seasonal-naive / HW one-step
    forecasts with per-model and combined WAPE."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.queries_round11 import _hw_states

    base = _hw_states(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    seqd = (base.withColumn("pcnt", F.lag("cnt", 1).over(w))
            .withColumn("scnt", F.lag("cnt", _FE_M).over(w)))
    ev = (seqd.filter(F.col("forecast").isNotNull())
          .select("event_type", "day", "cnt",
                  F.col("pcnt").cast("double").alias("f_n"),
                  F.col("scnt").cast("double").alias("f_s"),
                  F.col("forecast").alias("f_h")))
    folded = (ev.groupBy("event_type")
              .agg(F.count("*").alias("n_eval"),
                   F.sum("cnt").alias("actual"),
                   F.array_sort(F.collect_list(F.struct(
                       "day", "cnt", "f_n", "f_s", "f_h")))
                   .alias("rows")))
    err = lambda fld: ordered_fold(  # noqa: E731
        "rows", lambda r: F.abs(r["cnt"].cast("double") - r[fld]))
    sn, ss, sh = err("f_n"), err("f_s"), err("f_h")
    wtd = folded.select(
        "event_type", "n_eval", "actual", "rows",
        sn.alias("sn"), ss.alias("ss"), sh.alias("sh"),
        (F.when(sn == 0.0, 1).otherwise(0)
         + F.when(ss == 0.0, 1).otherwise(0)
         + F.when(sh == 0.0, 1).otherwise(0)).alias("zc"))

    def weight(s):
        zero_branch = (F.when(F.col(s) == 0.0,
                              F.lit(1.0) / F.col("zc"))
                       .otherwise(F.lit(0.0)))
        inv_branch = ((F.lit(1.0) / F.col(s))
                      / (F.lit(1.0) / F.col("sn")
                         + F.lit(1.0) / F.col("ss")
                         + F.lit(1.0) / F.col("sh")))
        return F.when(F.col("zc") > 0, zero_branch).otherwise(inv_branch)

    w_n, w_s, w_h = weight("sn"), weight("ss"), weight("sh")
    se = ordered_fold("rows", lambda r: F.abs(
        r["cnt"].cast("double")
        - (w_n * r["f_n"] + w_s * r["f_s"] + w_h * r["f_h"])))
    zero = F.col("actual") == 0
    nulld = F.lit(None).cast("double")
    ad = F.col("actual").cast("double")
    return wtd.select(
        "event_type", F.col("n_eval").cast("long").alias("n_eval"),
        F.when(zero, nulld).otherwise(F.round(F.col("sn") / ad, 6))
        .alias("wape_naive"),
        F.when(zero, nulld).otherwise(F.round(F.col("ss") / ad, 6))
        .alias("wape_snaive"),
        F.when(zero, nulld).otherwise(F.round(F.col("sh") / ad, 6))
        .alias("wape_hw"),
        F.round(w_n, 6).alias("w_naive"),
        F.round(w_s, 6).alias("w_snaive"),
        F.round(w_h, 6).alias("w_hw"),
        F.when(zero, nulld).otherwise(F.round(se / ad, 6))
        .alias("wape_ensemble"))


# ---------------------------------------------------------------------------
# Strength of seasonality / trend (Hyndman & Athanasopoulos, FPP3,
# public): from the published Holt-Winters states,
#   R_t      = cnt - fc                (one-step residual)
#   S_t-     = seasonal part of fc     (lag-7 of the season state)
#   F_season = max(0, 1 - Var(R) / Var(R + S_t-))
#   F_trend  = max(0, 1 - Var(R) / Var(cnt - S_t-))
# — the "is this series worth a seasonal model" readout that belongs
# next to the backtest. Variances are population moments over the
# bounded per-type day list, folded in pinned day order (the inputs
# are the 6-dp published states, identical in both engines).
# ---------------------------------------------------------------------------


def _ss_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    hw = ORACLES["holt_winters_daily"]
    hw_sql = hw() if callable(hw) else hw
    var = ("(list_reduce(list_transform({v}, x -> x * x),"
           " (x, y) -> x + y) / n_eval"
           " - (list_reduce({v}, (x, y) -> x + y) / n_eval)"
           " * (list_reduce({v}, (x, y) -> x + y) / n_eval))")
    vr = var.format(v="rs")
    vsr = var.format(v="srs")
    vtr = var.format(v="trs")
    return f"""
WITH base AS MATERIALIZED (
{hw_sql}
),
seqd AS (
    SELECT event_type, day, cnt, forecast,
           lag(season, 7) OVER (PARTITION BY event_type
                                ORDER BY day) AS s_lag
    FROM base
),
ev AS (
    SELECT event_type, day,
           CAST(cnt AS DOUBLE) - forecast AS r,
           CAST(cnt AS DOUBLE) - forecast + s_lag AS sr,
           CAST(cnt AS DOUBLE) - s_lag AS tr
    FROM seqd WHERE forecast IS NOT NULL
),
folded AS (
    SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n_eval,
           list(r ORDER BY day) AS rs,
           list(sr ORDER BY day) AS srs,
           list(tr ORDER BY day) AS trs
    FROM ev GROUP BY event_type
)
SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval,
       {round_sql(vr)} + 0.0 AS var_resid,
       CASE WHEN {vsr} = 0.0 THEN NULL
            ELSE {round_sql(
                f'LEAST(1.0, GREATEST(0.0, 1.0 - {vr} / {vsr}))')}
       END AS strength_seasonal,
       CASE WHEN {vtr} = 0.0 THEN NULL
            ELSE {round_sql(
                f'LEAST(1.0, GREATEST(0.0, 1.0 - {vr} / {vtr}))')}
       END AS strength_trend
FROM folded
"""


@register("seasonal_strength", _ss_oracle)
def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman strength-of-seasonality / strength-of-trend per event
    type from the published Holt-Winters states."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.queries_round11 import _hw_states

    base = _hw_states(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    seqd = base.withColumn("s_lag", F.lag("season", 7).over(w))
    cd = F.col("cnt").cast("double")
    ev = (seqd.filter(F.col("forecast").isNotNull())
          .select("event_type", "day",
                  (cd - F.col("forecast")).alias("r"),
                  (cd - F.col("forecast") + F.col("s_lag")).alias("sr"),
                  (cd - F.col("s_lag")).alias("tr")))
    folded = (ev.groupBy("event_type")
              .agg(F.count("*").cast("double").alias("n_eval"),
                   F.array_sort(F.collect_list(F.struct(
                       "day", "r", "sr", "tr"))).alias("ts")))
    def var(fld):
        m = ordered_fold("ts", fld) / F.col("n_eval")
        return (ordered_fold("ts", lambda t: t[fld] * t[fld])
                / F.col("n_eval") - m * m)

    vr, vsr, vtr = var("r"), var("sr"), var("tr")
    nulld = F.lit(None).cast("double")
    return folded.select(
        "event_type", F.col("n_eval").cast("long").alias("n_eval"),
        (F.round(vr, 6) + F.lit(0.0)).alias("var_resid"),
        # clamped to [0, 1] in BOTH engines: E[x^2]-m^2 cancellation
        # can push a ratio of near-zero variances past 1 (review r08)
        F.when(vsr == 0.0, nulld)
        .otherwise(F.round(F.least(F.lit(1.0), F.greatest(
            F.lit(0.0), F.lit(1.0) - vr / vsr)), 6))
        .alias("strength_seasonal"),
        F.when(vtr == 0.0, nulld)
        .otherwise(F.round(F.least(F.lit(1.0), F.greatest(
            F.lit(0.0), F.lit(1.0) - vr / vtr)), 6))
        .alias("strength_trend"))


# ---------------------------------------------------------------------------
# Token-weighted dedup savings — the curation readout budget owners
# actually want: exact-duplicate docs cost TOKENS, not doc counts.
# Per source: docs flagged by the exact-dup rule (non-minimal doc_id
# within an md5(text) group — the dedup family's keep-earliest
# convention), their token mass, and the share of the source's token
# budget that dedup returns.
# ---------------------------------------------------------------------------

@register("dedup_token_savings", f"""
WITH toked AS (
    SELECT doc_id, source, md5(text) AS tk,
           len(list_filter(string_split({_CLEAN_NORM}, ' '),
               x -> x <> '')) AS n_tokens
    FROM documents
),
keyed AS (
    SELECT doc_id, source, n_tokens,
           MIN(doc_id) OVER (PARTITION BY tk) AS keeper
    FROM toked
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
            AS BIGINT) AS dup_docs,
       CAST(SUM(CASE WHEN doc_id <> keeper THEN n_tokens ELSE 0 END)
            AS BIGINT) AS dup_tokens,
       CASE WHEN SUM(n_tokens) = 0 THEN NULL
            ELSE {round_sql(
                "SUM(CASE WHEN doc_id <> keeper THEN n_tokens ELSE 0 END)"
                " / CAST(SUM(n_tokens) AS DOUBLE)")}
       END AS token_savings_share
FROM keyed GROUP BY source
""")
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token mass returned by exact dedup (keep-earliest)."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "source", F.md5("text").alias("tk"),
        text.whitespace_token_count(F.col("text")).alias("n_tokens"))
    wk = Window.partitionBy("tk")
    keyed = toked.withColumn("keeper", F.min("doc_id").over(wk))
    dup = F.col("doc_id") != F.col("keeper")
    zero = F.sum("n_tokens") == 0
    return (keyed.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.sum(F.when(dup, 1).otherwise(0)).cast("long")
                 .alias("dup_docs"),
                 F.sum(F.when(dup, F.col("n_tokens")).otherwise(0))
                 .cast("long").alias("dup_tokens"),
                 F.when(zero, F.lit(None).cast("double"))
                 .otherwise(F.round(
                     F.sum(F.when(dup, F.col("n_tokens")).otherwise(0))
                     / F.sum("n_tokens").cast("double"), 6))
                 .alias("token_savings_share")))
