"""Round-10 candidate queries (written in round 7) — extending the
LLM-training-data-pipeline and experimentation coverage into
distribution drift, experiment design, privacy accounting, causal
estimation, conformal calibration, and sampling-table construction:

- length_drift_wasserstein: per-source Wasserstein-1 distance between
  the source's doc-length distribution and the corpus distribution on
  a bounded bin grid — the earth-mover sibling of ks_source_drift (KS
  sees the worst POINT gap; W1 sees the total transported mass, which
  is what a mixture rebalancer actually pays).
- ab_power_mde: minimal detectable effect of the current A/B split at
  80/90/95% power — the experiment-design readout that belongs NEXT TO
  ab_assignment_outcomes' realized z-test (is this experiment even
  powered to see the lift we care about?).
- dp_noisy_event_counts: differentially-private count release with
  deterministic pseudo-Laplace noise (md5 inverse-CDF — the Poisson
  bootstrap discipline applied to DP) and per-release epsilon
  accounting. Deterministic noise keeps the release oracle-testable;
  swapping the md5 unit for a real RNG is a one-line production change.

Float discipline (registry.py docstring is authoritative): exact
integer/decimal moments everywhere; transcendental CONSTANTS are
python literals embedded in both engines; per-row ln/sqrt on shared
expression trees only (sqrt is IEEE correctly-rounded; ln follows the
entropy/log-odds precedent); bounded-cardinality float sums fold over
SORTED arrays; rounded outputs use parity.round_sql in the oracle and
`+ 0.0` wherever a rounded value can be a negative zero.
"""

from __future__ import annotations

import math

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
# Wasserstein-1 length drift by source.
#
# Doc lengths are histogrammed into 50-char bins (n_chars is bounded,
# so the grid is a CONSTANT ~12 bins regardless of corpus size). For
# each source, W1 between the source CDF and the corpus CDF on that
# grid is sum_b |F_src(b) - F_all(b)| (in bin units; multiply by the
# bin width for chars). Everything after the first (source, bin)
# grouped count runs on bounded relations: the cross of |sources| x
# |bins| cells, per-source windows over <= |bins| rows, and a sorted
# fold of <= |bins| double terms per source.
#
# Scale shape: ONE corpus-sized shuffle (the grouped count); no
# data-scaled window, no data-scaled sort. At 100 TB the histogram is
# still |sources| x |bins| rows.
# ---------------------------------------------------------------------------

_LD_BIN = 50


@register("length_drift_wasserstein", f"""
WITH b AS (
    SELECT source, CAST(floor(n_chars / {_LD_BIN}.0) AS BIGINT) AS bin
    FROM documents
),
src AS (SELECT source, COUNT(*) AS tot_s FROM b GROUP BY source),
grid AS (SELECT DISTINCT bin FROM b),
tot AS (SELECT COUNT(*) AS tot_all FROM b),
sb AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY source, bin),
gb AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
cells AS (
    SELECT s.source, s.tot_s, g.bin,
           COALESCE(sb.c, 0) AS c_s, gb.c AS c_all
    FROM src s CROSS JOIN grid g
    LEFT JOIN sb ON sb.source = s.source AND sb.bin = g.bin
    JOIN gb ON gb.bin = g.bin
),
cums AS (
    SELECT source, tot_s, bin,
           SUM(c_s) OVER (PARTITION BY source ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS cum_s,
           SUM(c_all) OVER (PARTITION BY source ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS cum_all
    FROM cells
),
terms AS (
    SELECT source, tot_s, bin,
           abs(CAST(cum_s AS DOUBLE) / CAST(tot_s AS DOUBLE)
               - CAST(cum_all AS DOUBLE) / CAST(tot_all AS DOUBLE)) AS term
    FROM cums CROSS JOIN tot
),
folded AS (
    SELECT source, MIN(tot_s) AS n_docs, COUNT(*) AS n_bins,
           {ordered_sum_sql("term", "bin")} AS w1
    FROM terms GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_bins AS BIGINT) AS n_bins,
       {round_sql('w1')} AS w1_bins
FROM folded
""")
def length_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source W1 distance between source and corpus length CDFs.

    The CDF shares are one shared double expression per cell (exact
    integer cumsums over the bounded bin grid divided at readout);
    the per-source W1 folds its <= |bins| terms in pinned bin order.
    `w1_bins` is in grid-bin units (x {_LD_BIN} for characters)."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        F.floor(F.col("n_chars") / F.lit(float(_LD_BIN)))
        .cast("long").alias("bin"))
    src = b.groupBy("source").agg(F.count("*").alias("tot_s"))
    grid = b.select("bin").distinct()
    tot = b.agg(F.count("*").alias("tot_all"))
    sb = b.groupBy("source", "bin").agg(F.count("*").alias("c_s"))
    gb = b.groupBy("bin").agg(F.count("*").alias("c_all"))
    cells = (src.crossJoin(F.broadcast(grid))
             .join(sb, ["source", "bin"], "left")
             .join(F.broadcast(gb), "bin")
             .select("source", "tot_s", "bin",
                     F.coalesce(F.col("c_s"), F.lit(0)).alias("c_s"),
                     "c_all"))
    w = (Window.partitionBy("source").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    cums = (cells.withColumn("cum_s", F.sum("c_s").over(w))
            .withColumn("cum_all", F.sum("c_all").over(w))
            .crossJoin(F.broadcast(tot)))
    term = F.abs(F.col("cum_s").cast("double")
                 / F.col("tot_s").cast("double")
                 - F.col("cum_all").cast("double")
                 / F.col("tot_all").cast("double"))
    folded = (cums.select("source", "tot_s", "bin", term.alias("term"))
              .groupBy("source")
              .agg(F.min("tot_s").alias("n_docs"),
                   F.count("*").alias("n_bins"),
                   ordered_sum("term", "bin").alias("w1")))
    return folded.select("source", "n_docs", "n_bins",
                         F.round("w1", 6).alias("w1_bins"))


# ---------------------------------------------------------------------------
# A/B power analysis — minimal detectable effect of the current split.
#
# Trial = event, success = purchase — the SAME Bernoulli model
# ab_sprt_curve tests sequentially, with arms split by the md5 'ab:'
# user hash. For a two-proportion z-test at alpha = 5% two-sided, the
# MDE at power 1-beta is
#   (z_{1-a/2} + z_{1-beta}) * sqrt(p*(1-p) * (1/n0 + 1/n1))
# evaluated at the pooled rate. The z constants are STANDARD normal
# quantiles embedded as python literals (both engines see identical
# doubles); sqrt is IEEE correctly-rounded, so the whole expression is
# deterministic without any rounding tricks before the 6-dp readout.
# (Event-grain trials assume independence; same-user correlation
# inflates the true variance — cluster_sampling_design_effect is the
# registered correction factor for that.)
#
# Scale shape: ONE 2-row arm aggregate over the events scan, a
# broadcast 3-row power grid. Never data-scaled past the first agg.
# ---------------------------------------------------------------------------

_Z_ALPHA = 1.959963984540054          # Phi^-1(0.975)
_POWER_Z = [("power_80", 0.8416212335729143),
            ("power_90", 1.2815515655446004),
            ("power_95", 1.6448536269514722)]

_AB_ARM = md5_long_sql("'ab:' || CAST(user_id AS VARCHAR)")


@register("ab_power_mde", f"""
WITH trials AS (
    SELECT ({_AB_ARM} % 2) AS arm,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
    FROM events
),
arms AS (
    SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
           SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
           SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS x0,
           SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x1
    FROM trials
),
expanded AS (
    SELECT n0, n1, x0, x1, v.power_level, v.zb,
           CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS p_pool
    FROM arms CROSS JOIN (VALUES
        ('{_POWER_Z[0][0]}', {_POWER_Z[0][1]!r}),
        ('{_POWER_Z[1][0]}', {_POWER_Z[1][1]!r}),
        ('{_POWER_Z[2][0]}', {_POWER_Z[2][1]!r})) v(power_level, zb)
)
SELECT power_level,
       CAST(n0 AS BIGINT) AS n_ctrl, CAST(n1 AS BIGINT) AS n_treat,
       CAST(x0 AS BIGINT) AS x_ctrl, CAST(x1 AS BIGINT) AS x_treat,
       {round_sql('p_pool')} AS p_pool,
       {round_sql(f'''({_Z_ALPHA!r} + zb)
           * sqrt(p_pool * (1.0 - p_pool)
                  * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))''')}
           AS mde_abs,
       {round_sql(f'''({_Z_ALPHA!r} + zb)
           * sqrt(p_pool * (1.0 - p_pool)
                  * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
           / p_pool''')} AS mde_rel
FROM expanded
""")
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDE of the current A/B split at three standard power levels."""
    events = load_table(spark, sf_dir, "events")
    arm = (md5_long(F.concat(F.lit("ab:"),
                             F.col("user_id").cast("string"))) % 2)
    trials = events.select(
        arm.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        .alias("conv"))
    arms = trials.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))
              .otherwise(0)).alias("x0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv"))
              .otherwise(0)).alias("x1"))
    powers = F.explode(F.array(*[
        F.struct(F.lit(lbl).alias("power_level"), F.lit(zb).alias("zb"))
        for lbl, zb in _POWER_Z])).alias("pw")
    exp = (arms.select("*", powers)
           .select("n0", "n1", "x0", "x1",
                   F.col("pw.power_level").alias("power_level"),
                   F.col("pw.zb").alias("zb"),
                   ((F.col("x0") + F.col("x1")).cast("double")
                    / (F.col("n0") + F.col("n1")).cast("double"))
                   .alias("p_pool")))
    mde = ((F.lit(_Z_ALPHA) + F.col("zb"))
           * F.sqrt(F.col("p_pool") * (F.lit(1.0) - F.col("p_pool"))
                    * (F.lit(1.0) / F.col("n0").cast("double")
                       + F.lit(1.0) / F.col("n1").cast("double"))))
    return exp.select(
        "power_level",
        F.col("n0").alias("n_ctrl"), F.col("n1").alias("n_treat"),
        F.col("x0").alias("x_ctrl"), F.col("x1").alias("x_treat"),
        F.round("p_pool", 6).alias("p_pool"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.col("p_pool"), 6).alias("mde_rel"))


# ---------------------------------------------------------------------------
# Differentially-private count release with deterministic pseudo-noise.
#
# Laplace mechanism for per-event_type counts (sensitivity 1, eps = 1):
# noise = -(1/eps) * sign(u - 1/2) * ln(1 - 2|u - 1/2|), the standard
# inverse-CDF draw, with u derived from md5 of the release key — the
# SAME trick poisson_bootstrap_ci uses for replicate weights, applied
# to DP. Deterministic noise keeps the release oracle-verifiable and
# replayable (a real deployment swaps the md5 unit for a secure RNG —
# nothing else changes). u = (md5 % 1e6 + 0.5)/1e6 lies in (0,1) and
# never equals 1/2, so the ln argument is >= 1e-6.
#
# epsilon accounting: each row carries its per-release epsilon and the
# sequential-composition total over the whole release (bounded window
# over |event types| rows).
# ---------------------------------------------------------------------------

_DP_EPS = 1.0

_DP_KEY = md5_long_sql("'dp:' || event_type")
_DP_U = f"((({_DP_KEY}) % 1000000 + 0.5) / 1000000.0)"
_DP_NOISE = (f"(-(1.0 / {_DP_EPS!r}) * sign({_DP_U} - 0.5)"
             f" * ln(1.0 - 2.0 * abs({_DP_U} - 0.5)))")


@register("dp_noisy_event_counts", f"""
WITH counts AS (
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       {_DP_EPS!r} AS epsilon,
       CAST(COUNT(*) OVER () AS DOUBLE) * {_DP_EPS!r} AS epsilon_total,
       {round_sql(_DP_NOISE)} + 0.0 AS noise,
       {round_sql(f'CAST(n AS DOUBLE) + {_DP_NOISE}')} + 0.0
           AS noisy_count
FROM counts
""")
def dp_noisy_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release with epsilon accounting.

    The noise expression is one shared double tree (md5 unit ->
    inverse CDF); `+ 0.0` guards both rounded columns (noise is
    symmetric around zero and can round to -0.0)."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("event_type").agg(F.count("*").alias("n"))
    u = ((md5_long(F.concat(F.lit("dp:"), F.col("event_type")))
          % 1000000).cast("double") + F.lit(0.5)) / F.lit(1000000.0)
    noise = (F.lit(-1.0 / _DP_EPS) * F.signum(u - F.lit(0.5))
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))))
    # the release set is |event types| rows — the unpartitioned count
    # window is bounded, never data-scaled
    w_all = Window.partitionBy()
    return counts.select(
        "event_type", "n",
        F.lit(_DP_EPS).alias("epsilon"),
        (F.count("*").over(w_all).cast("double") * F.lit(_DP_EPS))
        .alias("epsilon_total"),
        (F.round(noise, 6) + F.lit(0.0)).alias("noise"),
        (F.round(F.col("n").cast("double") + noise, 6) + F.lit(0.0))
        .alias("noisy_count"))


# ---------------------------------------------------------------------------
# Stratified IPW / ATE — causal readout of the deterministic A/B split.
#
# Unit = customer with >= 1 order; treatment = md5 'exp:' split;
# outcome = total order spend (DECIMAL(18,2) sums — order-independent);
# strata = c_mktsegment (bounded, 5 values). Within a stratum the
# propensity e_s = n_treat/n is constant, so the IPW (Hajek) estimator
# reduces to the stratified difference of means:
#   ATE = sum_s (n_s / N) * (mean_treat_s - mean_ctrl_s)
# Every moment is an exact integer/decimal aggregate; the only float
# work is per-row ratio trees and a sorted fold over the <= 5 stratum
# terms. Since the split is md5-random, ATE ~ 0 — the estimator's
# correctness is the observable, not the effect.
#
# Scale shape: one orders->customer broadcast-ready join, one grouped
# aggregate on (segment, arm); everything after is bounded.
# ---------------------------------------------------------------------------



def ipw_units(spark: SparkSession, sf_dir: str,
              salt: str = "exp:") -> DataFrame:
    """(customer, segment, arm, y) units of the md5 ``salt`` split —
    shared by ipw_ate_stratified, queries_round11.aipw_doubly_robust
    and the placebo refutation (plan-identical to the former inline
    spelling; the default salt is the real experiment's 'exp:')."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    arm = (md5_long(F.concat(F.lit(salt),
                             F.col("c_custkey").cast("string"))) % 2)
    return (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy(F.col("c_custkey"),
                     F.col("c_mktsegment").alias("segment"),
                     arm.alias("arm"))
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .alias("y")))


def ipw_strata(units: DataFrame) -> DataFrame:
    """Per-stratum exact moments (n, n_t, sy_t, sy_c) of the units."""
    zero = F.lit(0).cast("decimal(18,2)")
    return units.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(zero))
        .alias("sy_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(zero))
        .alias("sy_c"))


# the shared units/strata CTE text (the exact SQL the causal
# queries' oracles all open with); parametrized by the split salt so
# the placebo refutation can re-render it per seed
def ipw_units_sql(salt: str = "exp:",
                  units_name: str = "units") -> str:
    """Just the units CTE — for oracles that need no strata
    (mann_whitney, trimmed_mean)."""
    arm = md5_long_sql(f"'{salt}' || CAST(c_custkey AS VARCHAR)")
    return f"""{units_name} AS (
    SELECT c.c_custkey, c.c_mktsegment AS segment,
           ({arm} % 2) AS arm,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, segment, arm
)"""


def ipw_units_strata_sql(salt: str = "exp:",
                         units_name: str = "units",
                         strata_name: str = "strata") -> str:
    arm = md5_long_sql(f"'{salt}' || CAST(c_custkey AS VARCHAR)")
    return f"""{units_name} AS (
    SELECT c.c_custkey, c.c_mktsegment AS segment,
           ({arm} % 2) AS arm,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, segment, arm
),
{strata_name} AS (
    SELECT segment, COUNT(*) AS n,
           SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_t,
           SUM(CASE WHEN arm = 1 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END)
               AS sy_t,
           SUM(CASE WHEN arm = 0 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END)
               AS sy_c
    FROM {units_name} GROUP BY segment
)"""


IPW_UNITS_STRATA_SQL = ipw_units_strata_sql()


@register("ipw_ate_stratified", f"""
WITH {IPW_UNITS_STRATA_SQL},
tot AS (SELECT SUM(n) AS big_n FROM strata),
per AS (
    SELECT segment, n, n_t,
           CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE) AS e_hat,
           CASE WHEN n_t = 0 THEN NULL
                ELSE CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)
           END AS mean_t,
           CASE WHEN n = n_t THEN NULL
                ELSE CAST(sy_c AS DOUBLE) / CAST(n - n_t AS DOUBLE)
           END AS mean_c
    FROM strata
),
terms AS (
    SELECT p.segment, p.n, p.n_t, p.e_hat, p.mean_t, p.mean_c,
           CASE WHEN p.n_t = 0 OR p.n_t = p.n THEN NULL
                ELSE (CAST(p.n AS DOUBLE) / CAST(t.big_n AS DOUBLE))
                     * (p.mean_t - p.mean_c)
           END AS term
    FROM per p CROSS JOIN tot t
)
SELECT segment, CAST(n AS BIGINT) AS n, CAST(n_t AS BIGINT) AS n_treat,
       {round_sql('e_hat')} AS e_hat,
       CASE WHEN mean_t IS NULL THEN NULL
            ELSE {round_sql('mean_t')} END AS mean_treat,
       CASE WHEN mean_c IS NULL THEN NULL
            ELSE {round_sql('mean_c')} END AS mean_ctrl,
       CASE WHEN term IS NULL THEN NULL
            ELSE {round_sql('mean_t - mean_c')} + 0.0 END AS ate
FROM terms
UNION ALL
SELECT 'ALL', CAST(SUM(n) AS BIGINT), CAST(SUM(n_t) AS BIGINT),
       {round_sql('CAST(SUM(n_t) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)')},
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       {round_sql('list_reduce(list_prepend(0.0, list(term ORDER BY segment) FILTER (term IS NOT NULL)), (x, y) -> x + y)')}
           + 0.0
FROM terms
""")
def ipw_ate_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified difference-of-means ATE with propensity readout.

    Per-stratum rows carry e_hat / arm means / stratum ATE; the 'ALL'
    row folds the <= 5 stratum terms in pinned segment order (its arm
    means are NULL — a pooled mean would NOT be the stratified
    estimand, so we don't print one)."""
    strata = ipw_strata(ipw_units(spark, sf_dir))
    tot = strata.agg(F.sum("n").alias("big_n"))
    # empty-arm branches (repo degenerate-denominator rule): a stratum
    # the md5 split leaves one-armed reports NULL means/ate and is
    # EXCLUDED from the 'ALL' fold (the stratified estimand is over
    # strata where both arms are observed) — unreachable at the swept
    # SFs, guarded for skewed key spaces
    per = strata.select(
        "segment", "n", "n_t",
        (F.col("n_t").cast("double") / F.col("n").cast("double"))
        .alias("e_hat"),
        F.when(F.col("n_t") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sy_t").cast("double")
                   / F.col("n_t").cast("double")).alias("mean_t"),
        F.when(F.col("n") == F.col("n_t"), F.lit(None).cast("double"))
        .otherwise(F.col("sy_c").cast("double")
                   / (F.col("n") - F.col("n_t")).cast("double"))
        .alias("mean_c"))
    terms = per.crossJoin(F.broadcast(tot)).select(
        "segment", "n", "n_t", "e_hat", "mean_t", "mean_c",
        F.when((F.col("n_t") == 0) | (F.col("n_t") == F.col("n")),
               F.lit(None).cast("double"))
        .otherwise((F.col("n").cast("double")
                    / F.col("big_n").cast("double"))
                   * (F.col("mean_t") - F.col("mean_c"))).alias("term"))
    per_rows = terms.select(
        "segment", "n", F.col("n_t").alias("n_treat"),
        F.round("e_hat", 6).alias("e_hat"),
        F.round("mean_t", 6).alias("mean_treat"),
        F.round("mean_c", 6).alias("mean_ctrl"),
        F.when(F.col("term").isNull(), F.lit(None).cast("double"))
        .otherwise(F.round(F.col("mean_t") - F.col("mean_c"), 6)
                   + F.lit(0.0)).alias("ate"))
    all_row = (terms.agg(
        F.sum("n").alias("n"), F.sum("n_t").alias("n_treat"),
        # collect_list drops NULLs, but a struct with a null FIELD is
        # non-null — wrap in when() so one-armed strata stay out of
        # the fold (mirrors the oracle's FILTER (term IS NOT NULL))
        F.array_sort(F.collect_list(
            F.when(F.col("term").isNotNull(),
                   F.struct("segment", "term")))).alias("ts"))
        .select(F.lit("ALL").alias("segment"), "n", "n_treat",
                F.round(F.col("n_treat").cast("double")
                        / F.col("n").cast("double"), 6).alias("e_hat"),
                F.lit(None).cast("double").alias("mean_treat"),
                F.lit(None).cast("double").alias("mean_ctrl"),
                (F.round(ordered_fold("ts", "term"), 6) + F.lit(0.0))
                .alias("ate")))
    return per_rows.unionByName(all_row)


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals — calibration + coverage audit.
#
# Orders are split by md5 into train (60%) / calibration (30%) /
# test (10%). The predictor is the per-o_orderpriority mean price fit
# on train (decimal-exact mean); the conformal quantile q is the
# ceil((n_cal+1)*(1-alpha))-th smallest absolute calibration residual
# — an EXACT order statistic (picked, not accumulated), computed with
# a two-phase global rank (no single-partition sort) and exact integer
# arithmetic for the rank index (ceil(9(n+1)/10) = (9(n+1)+9)//10 —
# never a float boundary). Split conformal guarantees
# P(|y - yhat| <= q) >= 1 - alpha on exchangeable data; the test rows
# report realized coverage per priority and overall.
#
# Scale shape: grouped decimal means, one broadcast join of the 5-row
# model, two_phase_ordered for the global residual rank, and a
# broadcast 1-row q. Nothing data-scaled sorts on one partition.
# ---------------------------------------------------------------------------

_CF_SPLIT = md5_long_sql("'cf:' || CAST(o_orderkey AS VARCHAR)")
_CF_ALPHA = 0.1


@register("conformal_interval_coverage", f"""
WITH split AS (
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ({_CF_SPLIT} % 10) AS bucket
    FROM orders
),
model AS (
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS yhat
    FROM split WHERE bucket <= 5 GROUP BY o_orderpriority
),
calib AS (
    SELECT s.o_orderkey,
           abs(s.o_totalprice - m.yhat) AS r
    FROM split s JOIN model m USING (o_orderpriority)
    WHERE s.bucket BETWEEN 6 AND 8
),
ranked AS (
    SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_orderkey) AS rnk,
           COUNT(*) OVER () AS n_cal
    FROM calib
),
q AS (
    SELECT r AS q_hat, n_cal FROM ranked
    WHERE rnk = (9 * (n_cal + 1) + 9) // 10
),
test AS (
    SELECT s.o_orderpriority,
           CASE WHEN abs(s.o_totalprice - m.yhat) <= q.q_hat
                THEN 1 ELSE 0 END AS covered
    FROM split s JOIN model m USING (o_orderpriority)
    CROSS JOIN q
    WHERE s.bucket = 9
),
per AS (
    SELECT o_orderpriority AS priority, COUNT(*) AS n_test,
           SUM(covered) AS n_covered
    FROM test GROUP BY o_orderpriority
)
SELECT priority, CAST(n_test AS BIGINT) AS n_test,
       CAST(n_covered AS BIGINT) AS n_covered,
       {round_sql('CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)')}
           AS coverage,
       {round_sql('(SELECT q_hat FROM q)')} AS q_hat
FROM per
UNION ALL
SELECT 'ALL', CAST(SUM(n_test) AS BIGINT), CAST(SUM(n_covered) AS BIGINT),
       {round_sql('CAST(SUM(n_covered) AS DOUBLE) / CAST(SUM(n_test) AS DOUBLE)')},
       {round_sql('(SELECT q_hat FROM q)')}
FROM per
""")
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal q-hat and realized test coverage (alpha = 0.1).

    r14 rework (same result set, proven at 3 SFs): the conformal
    quantile is picked with ``two_phase_kth`` — rank only the single
    quantile bucket holding global rank ceil(9(n+1)/10) instead of the
    full two-phase rank over every calibration row plus a separate
    COUNT(*) chain — and the per-priority/ALL readout is ONE ``rollup``
    aggregation instead of a union that re-derived the whole upstream
    (plan: 157 -> ~70 nodes, exec 14 -> ~8 AQE jobs at sf0.1).
    """
    from travel_data_pipeline_spark.operators.windows import two_phase_kth

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    bucket = (md5_long(F.concat(F.lit("cf:"),
                                F.col("o_orderkey").cast("string"))) % 10)
    split = orders.withColumn("bucket", bucket)
    model = (split.filter(F.col("bucket") <= 5)
             .groupBy("o_orderpriority")
             .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   .cast("double")
                   / F.count("*").cast("double")).alias("yhat")))
    calib = (split.filter(F.col("bucket").between(6, 8))
             .join(F.broadcast(model), "o_orderpriority")
             .select("o_orderkey",
                     F.abs(F.col("o_totalprice") - F.col("yhat"))
                     .alias("r")))
    # exact order statistic: bucket_on = r is non-decreasing along
    # (r, o_orderkey); the rank index is evaluated on the phase-1
    # count (exact integer arithmetic — never a float boundary)
    q = two_phase_kth(
        calib, [F.col("r").asc(), F.col("o_orderkey").asc()],
        F.col("r"), lambda n: (9 * (n + 1) + 9) // 10,
    ).select(F.col("r").alias("q_hat"))
    test = (split.filter(F.col("bucket") == 9)
            .join(F.broadcast(model), "o_orderpriority")
            .crossJoin(F.broadcast(q))
            .select("o_orderpriority", "q_hat",
                    F.when(F.abs(F.col("o_totalprice") - F.col("yhat"))
                           <= F.col("q_hat"), 1).otherwise(0)
                    .alias("covered")))
    # rollup: o_orderpriority is never NULL, so the grand-total row is
    # exactly the old union's 'ALL' aggregate — one pass, no duplicated
    # upstream subtree
    per = (test.rollup("o_orderpriority")
           .agg(F.count("*").alias("n_test"),
                F.sum("covered").alias("n_covered"),
                F.min("q_hat").alias("q_hat")))
    return per.select(
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        "n_test", "n_covered",
        F.round(F.col("n_covered").cast("double")
                / F.col("n_test").cast("double"), 6).alias("coverage"),
        F.round("q_hat", 6).alias("q_hat"))


# ---------------------------------------------------------------------------
# Negative-sampling table — word2vec-style f^(3/4) smoothing.
#
# The unigram distribution raised to the 3/4 power (Mikolov et al.
# 2013, public) flattens head tokens and boosts the tail for negative
# sampling. f^0.75 is spelled sqrt(f * sqrt(f)) — two IEEE
# correctly-rounded sqrts and one multiply, bit-identical across
# engines, NO pow() (libm pow differs in the last ulp). The table is
# the global top-K tokens (TakeOrdered — per-partition heaps, no
# single-partition sort); the normalizer folds K doubles in pinned
# token order.
# ---------------------------------------------------------------------------

_NS_K = 200


@register("negative_sampling_table", f"""
WITH toks AS (
    SELECT unnest(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS token
    FROM documents
),
vocab AS (
    SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
),
top AS (
    SELECT token, freq,
           sqrt(CAST(freq AS DOUBLE) * sqrt(CAST(freq AS DOUBLE))) AS w
    FROM vocab
    ORDER BY freq DESC, token ASC LIMIT {_NS_K}
),
z AS (
    SELECT SUM(freq) AS f_tot,
           {ordered_sum_sql("w", "token")} AS z_w
    FROM top
)
SELECT t.token, CAST(t.freq AS BIGINT) AS freq,
       {round_sql('t.w / z.z_w')} AS prob_smoothed,
       {round_sql('CAST(t.freq AS DOUBLE) / CAST(z.f_tot AS DOUBLE)')}
           AS prob_freq,
       {round_sql('(t.w / z.z_w) / (CAST(t.freq AS DOUBLE) / CAST(z.f_tot AS DOUBLE))')}
           AS boost
FROM top t CROSS JOIN z
""")
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K unigram sampling table under f^(3/4) smoothing.

    `boost` > 1 marks tokens the smoothing upweights vs raw frequency
    (the tail); < 1 the head it suppresses. Probabilities are relative
    to the top-K table (the production sampler's support)."""
    from travel_data_pipeline_spark.operators import dedup, text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.filter(
        text.token_array(dedup.normalize_text(F.col("text"))),
        lambda t: t != "")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("freq"))
    fd = F.col("freq").cast("double")
    # NOT checkpointed: pinning the K-row table measured 0.588 ->
    # 0.728 s at sf0.1 (the checkpoint round-trip costs more than the
    # second vocabulary count — the repo's recurring persist lesson)
    top = (vocab
           .orderBy(F.col("freq").desc(), F.col("token").asc())
           .limit(_NS_K)
           .withColumn("w", F.sqrt(fd * F.sqrt(fd))))
    z = top.agg(F.sum("freq").alias("f_tot"),
                ordered_sum("w", "token").alias("z_w"))
    pf = F.col("freq").cast("double") / F.col("f_tot").cast("double")
    return (top.crossJoin(F.broadcast(z))
            .select("token", "freq",
                    F.round(F.col("w") / F.col("z_w"), 6)
                    .alias("prob_smoothed"),
                    F.round(pf, 6).alias("prob_freq"),
                    F.round((F.col("w") / F.col("z_w")) / pf, 6)
                    .alias("boost")))


# ---------------------------------------------------------------------------
# Hill tail-index estimator — how heavy is the order-value tail?
#
# gamma_hat = (1/(k-1)) * sum_{i<k} (ln x_(i) - ln x_(k)) over the
# k largest values; alpha_hat = 1/gamma (Hill 1975, public). The top-k
# selection is TakeOrdered (per-partition heaps — no single-partition
# sort of the full relation); everything downstream runs on a CONSTANT
# k-row relation. Per-row ln rides the entropy/log-odds precedent
# (shared expression tree + 6-dp parity rounding); the (k-1)-term sum
# folds in pinned (value, key) order.
# ---------------------------------------------------------------------------

_HILL_K = 200
_HILL_S = ordered_sum_sql("term", "rnk")


@register("hill_tail_index", f"""
WITH top AS (
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {_HILL_K}
),
ranked AS (
    SELECT o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
               AS rnk,
           COUNT(*) OVER () AS k
    FROM top
),
xk AS (SELECT o_totalprice AS x_k, k FROM ranked WHERE rnk = k),
terms AS (
    SELECT r.rnk, ln(r.o_totalprice) - ln(xk.x_k) AS term
    FROM ranked r CROSS JOIN xk WHERE r.rnk < xk.k
)
SELECT CAST(xk.k AS BIGINT) AS k, xk.x_k,
       {round_sql(f'{_HILL_S} / CAST(xk.k - 1 AS DOUBLE)')} AS hill_gamma,
       {round_sql(f'CAST(xk.k - 1 AS DOUBLE) / {_HILL_S}')} AS hill_alpha
FROM terms CROSS JOIN xk
GROUP BY xk.k, xk.x_k
""")
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top-200."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    top = (orders.orderBy(F.col("o_totalprice").desc(),
                          F.col("o_orderkey").asc())
           .limit(_HILL_K))
    # bounded k-row relation from here on — the unpartitioned window is
    # over <= k rows, a constant
    w = Window.orderBy(F.col("o_totalprice").desc(),
                       F.col("o_orderkey").asc())
    ranked = (top.withColumn("rnk", F.row_number().over(w))
              .withColumn("k", F.count("*").over(Window.partitionBy())))
    xk = (ranked.filter(F.col("rnk") == F.col("k"))
          .select(F.col("o_totalprice").alias("x_k"), "k"))
    terms = (ranked.crossJoin(F.broadcast(xk.select("x_k",
                                                    F.col("k").alias("kk"))))
             .filter(F.col("rnk") < F.col("kk"))
             .select("rnk", "kk", "x_k",
                     (F.log(F.col("o_totalprice")) - F.log(F.col("x_k")))
                     .alias("term")))
    folded = terms.groupBy(F.col("kk").alias("k"), "x_k").agg(
        ordered_sum("term", "rnk").alias("s"))
    s = F.col("s")
    return folded.select(
        "k", "x_k",
        F.round(s / (F.col("k") - 1).cast("double"), 6)
        .alias("hill_gamma"),
        F.round((F.col("k") - 1).cast("double") / s, 6)
        .alias("hill_alpha"))


# ---------------------------------------------------------------------------
# Vocabulary-overlap matrix between sources — Jaccard of each source
# pair's top-vocabulary membership. The support is the global top-K
# tokens (TakeOrdered), so the presence relation is |sources| x K at
# most; the pair join and everything after run on bounded relations.
# The corpus-sized work is exactly one (token) grouped count plus one
# distinct over (source, token) semi-joined to the broadcast top-K.
# ---------------------------------------------------------------------------

_VJ_K = 500


@register("vocab_jaccard_source_matrix", f"""
WITH toks AS (
    SELECT source, unnest(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS token
    FROM documents
),
vocab AS (
    SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
    ORDER BY freq DESC, token ASC LIMIT {_VJ_K}
),
presence AS (
    SELECT DISTINCT t.source, t.token
    FROM toks t JOIN vocab v USING (token)
),
sizes AS (SELECT source, COUNT(*) AS sz FROM presence GROUP BY source),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_inter
    FROM presence a JOIN presence b
      ON a.token = b.token AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b,
       CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       {round_sql('CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)')}
           AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
""")
def vocab_jaccard_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise top-vocab Jaccard between sources (s_a < s_b)."""
    from travel_data_pipeline_spark.operators import dedup, text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.filter(text.token_array(
            dedup.normalize_text(F.col("text"))),
            lambda t: t != "")).alias("token"))
    vocab = (toks.groupBy("token").agg(F.count("*").alias("freq"))
             .orderBy(F.col("freq").desc(), F.col("token").asc())
             .limit(_VJ_K).select("token"))
    # the presence relation is bounded (|sources| x K) but derived
    # from the corpus-sized token explode, and it feeds THREE consumers
    # (sizes + both pair-join legs): pin it so the corpus scans ONCE
    # instead of four times. Local timing is noise-equal (1.54 vs
    # 1.58 s best-of-3 at sf0.1 — parallel redundant scans are cheap
    # on local[32]); the win is the scan-count at scale, where the
    # corpus read dominates and the checkpoint is ~10k rows. Eager
    # checkpoint KEPT (optimization r14): the single-action persist
    # variant measured 1.24 -> 1.84 s on the first-computation metric
    # in the interleaved A/B.
    presence = (toks.join(F.broadcast(vocab), "token")
                .select("source", "token").distinct()
                .localCheckpoint(eager=True))
    sizes = presence.groupBy("source").agg(F.count("*").alias("sz"))
    a = presence.select(F.col("source").alias("source_a"), "token")
    b = presence.select(F.col("source").alias("source_b"), "token")
    inter = (a.join(b, ["token"])
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count("*").alias("n_inter")))
    out = (inter
           .join(F.broadcast(sizes.withColumnRenamed("source", "source_a")
                             .withColumnRenamed("sz", "size_a")),
                 "source_a")
           .join(F.broadcast(sizes.withColumnRenamed("source", "source_b")
                             .withColumnRenamed("sz", "size_b")),
                 "source_b"))
    return out.select(
        "source_a", "source_b", "size_a", "size_b", "n_inter",
        F.round(F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b")
                   - F.col("n_inter")).cast("double"), 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# Cross-shard duplicate leakage — do exact-dup groups straddle shards?
#
# Training shards are written independently; if the copies of a
# duplicated document land in DIFFERENT shards, shard-local dedup
# misses them and the model sees the text twice. Over the planted-dup
# corpus (the northstar augmentation — the base table has no exact
# dups), documents group by md5(normalized text); each group's C(n,2)
# pairs split into same-shard (SUM over shards of C(n_s,2)) and
# cross-shard (the rest) under the md5 shard assignment. All exact
# integer arithmetic; one corpus-sized grouped count, bounded readout.
# ---------------------------------------------------------------------------

_DPX_SHARDS = 8


def _dpx_oracle() -> str:
    from travel_data_pipeline_spark.queries_northstar import (
        _AUG_DOCS,
        _NORMED,
    )

    shard = md5_long_sql("'shard:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH {_AUG_DOCS},
{_NORMED},
keyed AS (
    SELECT md5(norm) AS text_key, ({shard} % {_DPX_SHARDS}) AS shard
    FROM normed
),
per_shard AS (
    SELECT text_key, shard, COUNT(*) AS n_s
    FROM keyed GROUP BY text_key, shard
),
per_group AS (
    SELECT text_key, SUM(n_s) AS n,
           SUM(n_s * (n_s - 1) // 2) AS same_pairs
    FROM per_shard GROUP BY text_key
),
dups AS (SELECT * FROM per_group WHERE n > 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_dup_docs,
       CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS pairs_total,
       CAST(COALESCE(SUM(same_pairs), 0) AS BIGINT) AS pairs_same_shard,
       CAST(COALESCE(SUM(n * (n - 1) // 2 - same_pairs), 0) AS BIGINT)
           AS pairs_cross_shard,
       CASE WHEN COALESCE(SUM(n * (n - 1) // 2), 0) = 0 THEN NULL
            ELSE {round_sql('CAST(SUM(n * (n - 1) // 2 - same_pairs) AS DOUBLE) / CAST(SUM(n * (n - 1) // 2) AS DOUBLE)')}
       END AS cross_share
FROM dups
"""


@register("dup_pairs_cross_shard", _dpx_oracle)
def dup_pairs_cross_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup pair accounting across md5 shard assignments."""
    from travel_data_pipeline_spark.operators import dedup
    from travel_data_pipeline_spark.queries_northstar import (
        _augmented_docs,
    )

    docs = _augmented_docs(spark, sf_dir)
    keyed = docs.select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("text_key"),
        (md5_long(F.concat(F.lit("shard:"),
                           F.col("doc_id").cast("string")))
         % _DPX_SHARDS).alias("shard"))
    per_shard = (keyed.groupBy("text_key", "shard")
                 .agg(F.count("*").alias("n_s")))
    per_group = per_shard.groupBy("text_key").agg(
        F.sum("n_s").alias("n"),
        F.sum(F.expr("n_s * (n_s - 1) div 2")).alias("same_pairs"))
    dups = per_group.filter(F.col("n") > 1)
    agg = dups.agg(
        F.count("*").alias("n_dup_groups"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_dup_docs"),
        F.coalesce(F.sum(F.expr("n * (n - 1) div 2")), F.lit(0))
        .alias("pairs_total"),
        F.coalesce(F.sum("same_pairs"), F.lit(0))
        .alias("pairs_same_shard"),
        F.coalesce(F.sum(F.expr("n * (n - 1) div 2 - same_pairs")),
                   F.lit(0)).alias("pairs_cross_shard"))
    return agg.select(
        "n_dup_groups", "n_dup_docs", "pairs_total", "pairs_same_shard",
        "pairs_cross_shard",
        F.when(F.col("pairs_total") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("pairs_cross_shard").cast("double")
                           / F.col("pairs_total").cast("double"), 6))
        .alias("cross_share"))


# ---------------------------------------------------------------------------
# Perceptual near-dup over media columns — average-hash (aHash).
#
# The multimodal sibling of simhash_near_pairs: binary payloads ->
# Arrow-batched aHash fingerprints (operators/multimodal.
# ahash_fingerprints — production decode shape, deterministic fake
# pixel grid) -> 16-bit band buckets (capped, same MAX_BUCKET guard as
# every banded path) -> Hamming<=6 verification on the four band
# integers. With a REAL decoder, near-crops/re-encodes land within the
# Hamming budget; with the md5 fake grid only byte-identical payloads
# collide (the planted copies) — the observable is the banding +
# verify machinery, which is decoder-independent.
#
# Scale shape: fingerprints are 6 BIGINTs/doc (localCheckpointed — the
# Python stage runs ONCE, feeding banding and verification); banding
# shuffles 16-bit keys; buckets are capped; verification joins the
# tiny fingerprint relation twice. The payload bytes never shuffle.
# ---------------------------------------------------------------------------

_AH_HAM = 6


def _ahash_oracle() -> str:
    from travel_data_pipeline_spark.queries_northstar import (
        _AUG_DOCS,
        _capped_sql,
    )

    band_cases = ("CASE b.b WHEN 0 THEN band0 WHEN 1 THEN band1 "
                  "WHEN 2 THEN band2 ELSE band3 END")
    return f"""
WITH {_AUG_DOCS},
px AS (
    SELECT d.doc_id AS media_id, (s.s * 16 + j.j) AS i,
           CAST(('0x' || substr(md5(d.text || ':' || s.s), 2 * j.j + 1, 2))
                AS BIGINT) AS p
    FROM docs d,
         unnest(generate_series(0, 3)) AS s(s),
         unnest(generate_series(0, 15)) AS j(j)
),
tot AS (SELECT media_id, SUM(p) AS total FROM px GROUP BY media_id),
bits AS (
    SELECT px.media_id, px.i,
           CASE WHEN 64 * px.p > t.total THEN 1 ELSE 0 END AS bit
    FROM px JOIN tot t ON t.media_id = px.media_id
),
fp AS (
    SELECT b.media_id,
           SUM(CASE WHEN i // 16 = 0 THEN bit * (1 << (i % 16))
                    ELSE 0 END) AS band0,
           SUM(CASE WHEN i // 16 = 1 THEN bit * (1 << (i % 16))
                    ELSE 0 END) AS band1,
           SUM(CASE WHEN i // 16 = 2 THEN bit * (1 << (i % 16))
                    ELSE 0 END) AS band2,
           SUM(CASE WHEN i // 16 = 3 THEN bit * (1 << (i % 16))
                    ELSE 0 END) AS band3
    FROM bits b GROUP BY b.media_id
),
banded AS (
    SELECT media_id, b.b AS band_idx, {band_cases} AS band_val
    FROM fp, unnest(generate_series(0, 3)) AS b(b)
),
{_capped_sql('banded', 'band_idx, band_val', 'bcap')},
cand AS (
    SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b
    FROM bcap a JOIN bcap b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.media_id < b.media_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(fa.band0, fb.band0))
          + bit_count(xor(fa.band1, fb.band1))
          + bit_count(xor(fa.band2, fb.band2))
          + bit_count(xor(fa.band3, fb.band3)) AS INT) AS hamming
FROM cand c
JOIN fp fa ON fa.media_id = c.doc_a
JOIN fp fb ON fb.media_id = c.doc_b
WHERE bit_count(xor(fa.band0, fb.band0))
    + bit_count(xor(fa.band1, fb.band1))
    + bit_count(xor(fa.band2, fb.band2))
    + bit_count(xor(fa.band3, fb.band3)) <= {_AH_HAM}
"""


@register("image_ahash_neardup", _ahash_oracle)
def image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aHash near-dup pairs over the synthesized media table.

    The fingerprint relation feeds THREE join legs (cand via the
    banding, fa, fb), so it is re-joined against its own lineage: an
    eager leaf (r15 A/B)."""
    from travel_data_pipeline_spark.operators import dedup
    from travel_data_pipeline_spark.operators.multimodal import (
        ahash_bands,
        ahash_fingerprints,
        ahash_hamming,
        ahash_side,
        documents_as_media,
    )
    from travel_data_pipeline_spark.queries_northstar import (
        MAX_BUCKET,
        _augmented_docs,
    )

    media = documents_as_media(_augmented_docs(spark, sf_dir))
    # single-file scans make the Python hash stage one-threaded —
    # spread BEFORE the CPU-heavy work (engine design rule), then pin
    # the tiny fingerprint relation so the Arrow stage runs exactly
    # once across banding and verification
    media = media.repartition(spark.sparkContext.defaultParallelism,
                              "media_id")
    # the r14 persist A/B (1.61 -> 0.98 s) ran on a contended box; the
    # r15 idle A/B reversed it (OPTIMIZATION_r15.md)
    fps = ahash_fingerprints(media).localCheckpoint(eager=True)
    banded = ahash_bands(fps)
    cand = (dedup.bucket_pairs(banded, ["band_idx", "band_val"],
                               F.struct(F.col("media_id").alias("id")),
                               max_bucket=MAX_BUCKET)
            .select(F.col("pair.a.id").alias("doc_a"),
                    F.col("pair.b.id").alias("doc_b"))
            .distinct())
    fa = ahash_side(fps, "doc_a", "xa")
    fb = ahash_side(fps, "doc_b", "xb")
    ham = ahash_hamming("xa", "xb")
    return (cand.join(fa, "doc_a").join(fb, "doc_b")
            .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= _AH_HAM))


# ---------------------------------------------------------------------------
# Near-dup chain inflation — what does transitive clustering add on
# top of the directly-verified pairs?
#
# Connected-components dedup treats near-duplication as transitive:
# A~B and B~C put A and C in one cluster even if jaccard(A, C) is
# below threshold. This audit quantifies that chaining per cluster:
# implied_pairs = C(m, 2) of the cluster size vs the directly-verified
# pair count — the gap is what clustering ASSERTS beyond what the
# verifier MEASURED (Lee et al. 2022 discuss exactly this cluster-
# inflation effect). Threshold 0.3 (the neardup_source_matrix recall
# band) so chains actually occur on this corpus.
#
# Scale shape: the LSH+verify pipeline is the shared banded/capped
# path; components are large-star/small-star (O(log n) rounds); the
# readout aggregates are cluster-grain. Exact integers end to end.
# ---------------------------------------------------------------------------

_CHAIN_THR = 0.3


def _chain_oracle() -> str:
    from travel_data_pipeline_spark.queries_northstar import (
        _AUG_DOCS,
        _banded_sql,
        _capped_sql,
        _NORMED,
        _PAIRS_CTE,
        _SHINGLED,
        _SIGS,
    )

    return f"""
WITH RECURSIVE {_AUG_DOCS},
{_NORMED},
{_SHINGLED},
{_SIGS},
{_banded_sql()},
{_capped_sql('banded', 'band_idx, band_key', 'bcap')},
{_PAIRS_CTE},
sets AS (SELECT DISTINCT doc_id, shingle FROM shingled),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sets GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_n
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.doc_a
    JOIN sets sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
),
jpairs AS (
    SELECT p.doc_a, p.doc_b
    FROM pairs p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
    WHERE ROUND(COALESCE(i.inter_n, 0)
                / (za.set_size + zb.set_size - COALESCE(i.inter_n, 0)), 6)
          >= {_CHAIN_THR}
),
sym AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
        UNION SELECT doc_b AS u, doc_a AS v FROM jpairs),
reach AS (
    SELECT u AS id, v AS r FROM sym
    UNION
    SELECT re.id, s.v FROM reach re JOIN sym s ON s.u = re.r
),
comp AS (SELECT id AS doc_id, LEAST(id, MIN(r)) AS component
         FROM reach GROUP BY id),
members AS (SELECT component, COUNT(*) AS m FROM comp GROUP BY component),
direct AS (
    SELECT c.component, COUNT(*) AS d
    FROM jpairs p JOIN comp c ON c.doc_id = p.doc_a
    GROUP BY c.component
)
SELECT m.component, CAST(m.m AS BIGINT) AS cluster_size,
       CAST(COALESCE(d.d, 0) AS BIGINT) AS direct_pairs,
       CAST(m.m * (m.m - 1) // 2 AS BIGINT) AS implied_pairs,
       CAST(m.m * (m.m - 1) // 2 - COALESCE(d.d, 0) AS BIGINT)
           AS chained_pairs
FROM members m LEFT JOIN direct d ON d.component = m.component
"""


@register("neardup_chain_inflation", _chain_oracle)
def neardup_chain_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster implied-vs-verified pair accounting at jaccard 0.3."""
    from travel_data_pipeline_spark.operators import dedup, graph
    from travel_data_pipeline_spark.queries_northstar import (
        BANDS,
        MAX_BUCKET,
        NUM_HASHES,
        _augmented_docs,
    )

    docs = _augmented_docs(spark, sf_dir)
    sigs = dedup.minhash_signatures(docs, num_hashes=NUM_HASHES)
    # eager localCheckpoint, NOT persist (optimization r14, measured):
    # although the pair set's three consumers all live inside the one
    # `edges` checkpoint action (the single-action persist rule), the
    # interleaved A/B read the persist variant 9.0 -> 12.2 s total
    # (41 -> 75 jobs) — the un-materialized LSH lineage bloats the
    # edges action's AQE stage graph more than the saved serial job
    # returns. Both feeds of the star-CC loop keep their checkpoints
    # (the pairs/edges persist swap measured 4.64 -> 9.68 s in the
    # earlier r14 pass).
    pairs = dedup.lsh_candidate_pairs(
        sigs, num_hashes=NUM_HASHES, bands=BANDS,
        max_bucket=MAX_BUCKET).localCheckpoint(eager=True)
    edges = (dedup.jaccard_pairs(docs, pairs, threshold=_CHAIN_THR)
             .select("doc_a", "doc_b").localCheckpoint(eager=True))
    comps = graph.connected_components(edges, algorithm="star")
    members = comps.groupBy("component").agg(F.count("*").alias("m"))
    direct = (edges.join(comps, edges.doc_a == comps.doc_id)
              .groupBy("component").agg(F.count("*").alias("d")))
    out = members.join(direct, "component", "left")
    implied = F.expr("m * (m - 1) div 2")
    return out.select(
        "component",
        F.col("m").alias("cluster_size"),
        F.coalesce(F.col("d"), F.lit(0)).alias("direct_pairs"),
        implied.alias("implied_pairs"),
        (implied - F.coalesce(F.col("d"), F.lit(0)))
        .alias("chained_pairs"))


# ---------------------------------------------------------------------------
# t-closeness audit — completing the k-anonymity / l-diversity /
# t-closeness release-audit family (Li et al. 2007, public).
#
# QI cell = (lang, source); sensitive attribute = the ordered 50-char
# length bucket. A cell satisfies t-closeness when the earth-mover
# distance between ITS sensitive distribution and the GLOBAL one is
# <= t — for an ordered attribute EMD is the W1 CDF-gap sum, i.e. the
# same bounded-grid machinery as length_drift_wasserstein, but with
# 2-key cells and a pass/fail verdict at t = 0.2. (k-anonymity bounds
# cell SIZE; l-diversity bounds sensitive VARIETY; t-closeness bounds
# sensitive SKEW — a cell can pass the first two and still leak via a
# shifted distribution, which is exactly what EMD catches.)
#
# Scale shape: one (lang, source, bin) grouped count; the cell x grid
# cross is |cells| x |bins| — both bounded. Normalized EMD in [0, 1]:
# the raw CDF-gap sum divides by (|bins| - 1), the grid diameter.
# ---------------------------------------------------------------------------

_TC_T = 0.2


@register("t_closeness_audit", f"""
WITH b AS (
    SELECT lang, source,
           CAST(floor(n_chars / {_LD_BIN}.0) AS BIGINT) AS bin
    FROM documents
),
cells AS (SELECT lang, source, COUNT(*) AS n FROM b
          GROUP BY lang, source),
grid AS (SELECT DISTINCT bin FROM b),
span AS (SELECT COUNT(*) AS n_bins FROM grid),
tot AS (SELECT COUNT(*) AS tot_all FROM b),
cb AS (SELECT lang, source, bin, COUNT(*) AS c FROM b
       GROUP BY lang, source, bin),
gb AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
filled AS (
    SELECT ce.lang, ce.source, ce.n, g.bin,
           COALESCE(cb.c, 0) AS c_cell, gb.c AS c_all
    FROM cells ce CROSS JOIN grid g
    LEFT JOIN cb ON cb.lang = ce.lang AND cb.source = ce.source
               AND cb.bin = g.bin
    JOIN gb ON gb.bin = g.bin
),
cums AS (
    SELECT lang, source, n, bin,
           SUM(c_cell) OVER (PARTITION BY lang, source ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS cum_c,
           SUM(c_all) OVER (PARTITION BY lang, source ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS cum_all
    FROM filled
),
terms AS (
    SELECT lang, source, n, bin,
           abs(CAST(cum_c AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(cum_all AS DOUBLE) / CAST(tot_all AS DOUBLE))
               / CAST(n_bins - 1 AS DOUBLE) AS term
    FROM cums CROSS JOIN tot CROSS JOIN span
),
folded AS (
    SELECT lang, source, MIN(n) AS n,
           {ordered_sum_sql("term", "bin")} AS s
    FROM terms GROUP BY lang, source
)
SELECT lang, source, CAST(n AS BIGINT) AS n,
       {round_sql('s')} AS emd,
       CAST(CASE WHEN {round_sql('s')}
                 <= {_TC_T!r} THEN 1 ELSE 0 END AS INT) AS within_t
FROM folded
""")
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-QI-cell normalized EMD vs the global sensitive distribution.

    The verdict compares the 6-dp ROUNDED emd against t (both engines
    see the identical rounded double, so the flag can never split)."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "lang", "source",
        F.floor(F.col("n_chars") / F.lit(float(_LD_BIN)))
        .cast("long").alias("bin"))
    cells = b.groupBy("lang", "source").agg(F.count("*").alias("n"))
    grid = b.select("bin").distinct()
    span = grid.agg(F.count("*").alias("n_bins"))
    tot = b.agg(F.count("*").alias("tot_all"))
    cb = (b.groupBy("lang", "source", "bin")
          .agg(F.count("*").alias("c_cell")))
    gb = b.groupBy("bin").agg(F.count("*").alias("c_all"))
    filled = (cells.crossJoin(F.broadcast(grid))
              .join(cb, ["lang", "source", "bin"], "left")
              .join(F.broadcast(gb), "bin")
              .select("lang", "source", "n", "bin",
                      F.coalesce(F.col("c_cell"), F.lit(0))
                      .alias("c_cell"), "c_all"))
    w = (Window.partitionBy("lang", "source").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    cums = (filled.withColumn("cum_c", F.sum("c_cell").over(w))
            .withColumn("cum_all", F.sum("c_all").over(w))
            .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(span)))
    term = (F.abs(F.col("cum_c").cast("double") / F.col("n").cast("double")
                  - F.col("cum_all").cast("double")
                  / F.col("tot_all").cast("double"))
            / (F.col("n_bins") - 1).cast("double"))
    folded = (cums.select("lang", "source", "n", "bin",
                          term.alias("term"))
              .groupBy("lang", "source")
              .agg(F.min("n").alias("n"),
                   ordered_sum("term", "bin").alias("s")))
    emd = F.round("s", 6)
    return folded.select(
        "lang", "source", "n", emd.alias("emd"),
        F.when(emd <= F.lit(_TC_T), 1).otherwise(0)
        .cast("int").alias("within_t"))


# ---------------------------------------------------------------------------
# nDCG@k of the BM25 ranking — the RANKING eval metric the repo's
# classifier family (AUC, P/R/F1, kappa, ECE) doesn't cover.
#
# Ranking = bm25_scores' 5-term query, top-10 docs by (score, doc_id).
# Graded relevance is REAL, not arbitrary: rel = min(#distinct query
# terms the doc contains, 3) — term-coverage grading. gain = 2^rel - 1
# (a CASE over 4 values, no pow); the rank discounts 1/log2(i+1) for
# i = 1..10 are python literals embedded in both engines. DCG@k and
# IDCG@k fold the FIRST k terms of the rank-pinned contribution list
# (never a windowed double cumsum — the repo's cumulative-float rule);
# the ideal ordering needs only docs with rel > 0, all of which are in
# the scored relation by construction.
#
# Scale shape: the corpus-sized work is the bm25 token pipeline
# (explode -> filtered tf shuffle); both top-10s are TakeOrdered;
# everything after runs on <= 10-row relations x a 10-row k grid.
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_DISC = {i: 1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)}


def _ndcg_oracle() -> str:
    from travel_data_pipeline_spark.queries_search import (
        _BM25_SQL,
        _TERMS_SQL,
        _TOKS,
    )

    disc_sql = ("CASE rnk " + " ".join(
        f"WHEN {i} THEN {d!r}" for i, d in _NDCG_DISC.items()) + " END")
    return f"""
WITH tok AS (
    SELECT doc_id, t AS term
    FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
),
dls AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
    FROM dls
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM tok
    WHERE term IN ({_TERMS_SQL}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id, tf.term, {_BM25_SQL} AS s
    FROM tf
    JOIN dfreq USING (term)
    JOIN dls USING (doc_id)
    CROSS JOIN stats
),
docs_scored AS (
    SELECT doc_id, COUNT(*) AS n_terms,
           {ordered_sum_sql("s", "term")} AS s_tot
    FROM scored GROUP BY doc_id
),
graded AS (
    SELECT doc_id, s_tot,
           CASE WHEN n_terms >= 3 THEN 3 ELSE n_terms END AS rel,
           CASE WHEN n_terms >= 3 THEN 7
                WHEN n_terms = 2 THEN 3 ELSE 1 END AS gain
    FROM docs_scored
),
ranking AS (
    SELECT doc_id, gain,
           ROW_NUMBER() OVER (ORDER BY s_tot DESC, doc_id ASC) AS rnk
    FROM graded QUALIFY rnk <= {_NDCG_K}
),
ideal AS (
    SELECT doc_id, gain,
           ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id ASC) AS rnk
    FROM graded QUALIFY rnk <= {_NDCG_K}
),
contribs AS (
    SELECT list(CAST(gain AS DOUBLE) * ({disc_sql}) ORDER BY rnk) AS cs
    FROM ranking
),
icontribs AS (
    SELECT list(CAST(gain AS DOUBLE) * ({disc_sql}) ORDER BY rnk) AS ics
    FROM ideal
),
grid AS (SELECT unnest(generate_series(1, {_NDCG_K})) AS k)
SELECT CAST(g.k AS INT) AS k,
       {round_sql('list_reduce(cs[1:g.k], (x, y) -> x + y)')} AS dcg,
       {round_sql('list_reduce(ics[1:g.k], (x, y) -> x + y)')} AS idcg,
       {round_sql('list_reduce(cs[1:g.k], (x, y) -> x + y) / list_reduce(ics[1:g.k], (x, y) -> x + y)')}
           AS ndcg
FROM grid g CROSS JOIN contribs CROSS JOIN icontribs
WHERE g.k <= len(cs)
"""


@register("bm25_ndcg_at_k", _ndcg_oracle)
def bm25_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@1..10 of the BM25 ranking under term-coverage grading."""
    from travel_data_pipeline_spark.operators.text import token_array
    from travel_data_pipeline_spark.queries_search import (
        _B,
        _K1,
        _QUERY_TERMS,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id",
                      F.explode(token_array(F.col("text"))).alias("term"))
    dls = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dls.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"))
    tf = (tok.filter(F.col("term").isin(*_QUERY_TERMS))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    idf = F.log((F.col("n_docs") - F.col("dfreq") + 0.5)
                / (F.col("dfreq") + 0.5) + 1.0)
    tfn = (F.col("tf") * (_K1 + 1.0)
           / (F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl")
                                   / F.col("avgdl"))))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(dls, "doc_id")
              .crossJoin(F.broadcast(stats))
              .select("doc_id", "term", (idf * tfn).alias("s")))
    graded = (scored.groupBy("doc_id")
              .agg(F.count("*").alias("n_terms"),
                   ordered_sum("s", "term").alias("s_tot"))
              .select(
                  "doc_id", "s_tot",
                  F.when(F.col("n_terms") >= 3, 7)
                  .when(F.col("n_terms") == 2, 3).otherwise(1)
                  .alias("gain"))
              # graded is query-hit-sized (tiny) but its lineage is the
              # full bm25 token pipeline, and ranking/ideal/grid all
              # consume it — pin it so the corpus scans once (measured
              # 1.64 -> 1.37 s best-of-3 at sf0.1). Eager checkpoint
              # KEPT (optimization r14): the single-action persist
              # variant measured 1.36 -> 1.81 s on the
              # first-computation metric in the interleaved A/B.
              .localCheckpoint(eager=True))
    disc = F.create_map(*[x for i, d in _NDCG_DISC.items()
                          for x in (F.lit(i), F.lit(d))])
    wr = Window.orderBy(F.col("s_tot").desc(), F.col("doc_id").asc())
    wi = Window.orderBy(F.col("gain").desc(), F.col("doc_id").asc())
    # both top-10 selections are TakeOrdered; the row_number windows
    # below run over the 10-row results — bounded, never data-scaled
    ranking = (graded.orderBy(F.col("s_tot").desc(), F.col("doc_id").asc())
               .limit(_NDCG_K)
               .withColumn("rnk", F.row_number().over(wr)))
    ideal = (graded.orderBy(F.col("gain").desc(), F.col("doc_id").asc())
             .limit(_NDCG_K)
             .withColumn("rnk", F.row_number().over(wi)))
    contrib = (F.col("gain").cast("double")
               * F.element_at(disc, F.col("rnk")))
    cs = ranking.agg(F.array_sort(F.collect_list(
        F.struct("rnk", contrib.alias("c")))).alias("cs"))
    ics = ideal.agg(F.array_sort(F.collect_list(
        F.struct("rnk", contrib.alias("c")))).alias("ics"))
    grid = (ranking.select(F.col("rnk").alias("k"))
            .crossJoin(F.broadcast(cs)).crossJoin(F.broadcast(ics)))

    dcg = ordered_fold(F.slice("cs", F.lit(1), F.col("k")), "c")
    idcg = ordered_fold(F.slice("ics", F.lit(1), F.col("k")), "c")
    return grid.select(
        F.col("k").cast("int").alias("k"),
        F.round(dcg, 6).alias("dcg"),
        F.round(idcg, 6).alias("idcg"),
        F.round(dcg / idcg, 6).alias("ndcg"))


# ---------------------------------------------------------------------------
# Brier-score (Murphy) decomposition — the probabilistic-forecast
# companion of cdf_calibration_bins' ECE: over the SAME frozen quality
# scorer and 10-bin reliability diagram,
#   brier = uncertainty - resolution + reliability + within-bin term
# with uncertainty = obar(1-obar), resolution = sum n_k/N (o_k-obar)^2,
# reliability = sum n_k/N (pbar_k-o_k)^2 (Murphy 1973, public). ECE
# says HOW FAR the diagram sits from the diagonal; the decomposition
# says whether a bad Brier comes from miscalibration (reliability) or
# from the forecaster not separating classes (low resolution).
#
# Float discipline: the exact Brier term sums (p - y)^2 as DECIMAL
# products (p is already a 6-dp double -> DECIMAL(18,6) cast is exact;
# the oracle casts operands to DECIMAL(28,6) per the DuckDB int64
# product-overflow rule); the 10 bin terms fold in bin order. The
# score/truth/p spelling is copied verbatim from cdf_calibration_bins
# (queries_round8) so both queries grade the same forecaster.
# ---------------------------------------------------------------------------


def _brier_oracle() -> str:
    from travel_data_pipeline_spark.queries_round8 import _CAL_SCORE

    return f"""
WITH feats AS (
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           len(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS n_tokens
    FROM documents
),
x AS (
    SELECT doc_id,
           {round_sql("alpha_chars / GREATEST(n_chars, 1)")} AS alpha_ratio,
           {round_sql("(n_chars - alpha_chars) / GREATEST(n_chars, 1)")}
             AS sym_ratio,
           {round_sql("alpha_chars / GREATEST(n_tokens, 1)")}
             AS mean_word_len,
           {round_sql("log10(CAST(n_chars AS DOUBLE) + 1.0)")} AS log_len,
           n_tokens
    FROM feats
),
judged AS (
    SELECT {round_sql(_CAL_SCORE)} + 0.0 AS score,
           (n_tokens >= 10 AND mean_word_len <= 12.0
            AND sym_ratio <= 0.35) AS truth
    FROM x
),
mnmx AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM judged),
probs AS (
    SELECT CASE WHEN mx = mn THEN 0.5
                ELSE {round_sql("(score - mn) / (mx - mn)")} END AS p,
           truth
    FROM judged CROSS JOIN mnmx
),
exact AS (
    SELECT COUNT(*) AS n, SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS n_pos,
           SUM((CAST(p AS DECIMAL(28,6))
                - CAST(CASE WHEN truth THEN 1 ELSE 0 END AS DECIMAL(28,6)))
               * (CAST(p AS DECIMAL(28,6))
                  - CAST(CASE WHEN truth THEN 1 ELSE 0 END
                         AS DECIMAL(28,6)))) AS sq_sum
    FROM probs
),
binned AS (
    SELECT LEAST(CAST(floor(p * 10) AS INT), 9) AS bin,
           count(*) AS nb,
           SUM(CAST(p AS DECIMAL(18,6))) AS sum_p,
           SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS nb_pos
    FROM probs GROUP BY bin
),
terms AS (
    SELECT b.bin,
           (CAST(b.nb AS DOUBLE) / CAST(e.n AS DOUBLE))
               * (CAST(b.sum_p AS DOUBLE) / CAST(b.nb AS DOUBLE)
                  - CAST(b.nb_pos AS DOUBLE) / CAST(b.nb AS DOUBLE))
               * (CAST(b.sum_p AS DOUBLE) / CAST(b.nb AS DOUBLE)
                  - CAST(b.nb_pos AS DOUBLE) / CAST(b.nb AS DOUBLE))
               AS rel_t,
           (CAST(b.nb AS DOUBLE) / CAST(e.n AS DOUBLE))
               * (CAST(b.nb_pos AS DOUBLE) / CAST(b.nb AS DOUBLE)
                  - CAST(e.n_pos AS DOUBLE) / CAST(e.n AS DOUBLE))
               * (CAST(b.nb_pos AS DOUBLE) / CAST(b.nb AS DOUBLE)
                  - CAST(e.n_pos AS DOUBLE) / CAST(e.n AS DOUBLE))
               AS res_t
    FROM binned b CROSS JOIN exact e
),
folded AS (
    SELECT {ordered_sum_sql("rel_t", "bin")} AS rel,
           {ordered_sum_sql("res_t", "bin")} AS res
    FROM terms
)
SELECT CAST(e.n AS BIGINT) AS n,
       {round_sql('CAST(e.n_pos AS DOUBLE) / CAST(e.n AS DOUBLE)')} AS o_bar,
       {round_sql('CAST(e.sq_sum AS DOUBLE) / CAST(e.n AS DOUBLE)')} AS brier,
       {round_sql('(CAST(e.n_pos AS DOUBLE) / CAST(e.n AS DOUBLE)) * (1.0 - CAST(e.n_pos AS DOUBLE) / CAST(e.n AS DOUBLE))')}
           AS uncertainty,
       {round_sql('f.res')} AS resolution,
       {round_sql('f.rel')} AS reliability,
       {round_sql('(CAST(e.n_pos AS DOUBLE) / CAST(e.n AS DOUBLE)) * (1.0 - CAST(e.n_pos AS DOUBLE) / CAST(e.n AS DOUBLE)) - f.res + f.rel')}
           + 0.0 AS brier_binned
FROM exact e CROSS JOIN folded f
"""


@register("brier_decomposition", _brier_oracle)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the frozen quality scorer's Brier score.

    brier (exact, decimal row sums) differs from brier_binned
    (uncertainty - resolution + reliability) by the non-negative
    within-bin variance the 10-bin diagram cannot see."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = F.filter(F.split(norm, " "), lambda x: x != "")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    n_tokens = F.size(toks)
    alpha_ratio = F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)
    sym_ratio = F.round((n_chars - alpha)
                        / F.greatest(n_chars, F.lit(1)), 6)
    mwl = F.round(alpha / F.greatest(n_tokens, F.lit(1)), 6)
    log_len = F.round(F.log10(n_chars.cast("double") + F.lit(1.0)), 6)
    score = F.round(F.lit(-2.0) + F.lit(3.5) * alpha_ratio
                    - F.lit(6.0) * (F.lit(1.0) - alpha_ratio)
                    + F.lit(0.08) * mwl + F.lit(0.9) * log_len, 6) \
        + F.lit(0.0)
    truth = (n_tokens >= 10) & (mwl <= 12.0) & (sym_ratio <= 0.35)
    judged = docs.select(score.alias("score"), truth.alias("truth"))
    mnmx = judged.agg(F.min("score").alias("mn"),
                      F.max("score").alias("mx"))
    p = (F.when(F.col("mx") == F.col("mn"), F.lit(0.5))
         .otherwise(F.round((F.col("score") - F.col("mn"))
                            / (F.col("mx") - F.col("mn")), 6)))
    probs = (judged.crossJoin(F.broadcast(mnmx))
             .select(p.alias("p"), "truth"))
    p_dec = F.col("p").cast("decimal(18,6)")
    y_dec = F.when(F.col("truth"), 1).otherwise(0).cast("decimal(18,6)")
    exact = probs.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).alias("n_pos"),
        F.sum((p_dec - y_dec) * (p_dec - y_dec)).alias("sq_sum"))
    binned = (probs.groupBy(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9))
        .alias("bin"))
        .agg(F.count("*").alias("nb"),
             F.sum(F.col("p").cast("decimal(18,6)")).alias("sum_p"),
             F.sum(F.when(F.col("truth"), 1).otherwise(0))
             .alias("nb_pos")))
    pbar = F.col("sum_p").cast("double") / F.col("nb").cast("double")
    ok = F.col("nb_pos").cast("double") / F.col("nb").cast("double")
    obar = F.col("n_pos").cast("double") / F.col("n").cast("double")
    wk = F.col("nb").cast("double") / F.col("n").cast("double")
    terms = (binned.crossJoin(F.broadcast(exact))
             .select("bin",
                     (wk * (pbar - ok) * (pbar - ok)).alias("rel_t"),
                     (wk * (ok - obar) * (ok - obar)).alias("res_t")))
    folded = terms.agg(
        F.array_sort(F.collect_list(F.struct("bin", "rel_t", "res_t")))
        .alias("ts")).select(
        ordered_fold("ts", "rel_t").alias("rel"),
        ordered_fold("ts", "res_t").alias("res"))
    unc = obar * (F.lit(1.0) - obar)
    return (exact.crossJoin(F.broadcast(folded))
            .select(
                "n",
                F.round(obar, 6).alias("o_bar"),
                F.round(F.col("sq_sum").cast("double")
                        / F.col("n").cast("double"), 6).alias("brier"),
                F.round(unc, 6).alias("uncertainty"),
                F.round(F.col("res"), 6).alias("resolution"),
                F.round(F.col("rel"), 6).alias("reliability"),
                (F.round(unc - F.col("res") + F.col("rel"), 6)
                 + F.lit(0.0)).alias("brier_binned")))


# ---------------------------------------------------------------------------
# md5-split uniformity audit — chi-square over 16 hash buckets for the
# THREE deterministic splits the registry's experiment/split queries
# ride on ('ab:' users, 'exp:' customers, 'cf:' orders). Every A/B
# readout, conformal split, and group-split guarantee silently assumes
# these buckets are uniform; this is the audit that would catch a
# broken hash (or a biased key space) before any downstream number is
# trusted. chi2 against the dof=15 95% critical value (python
# literal); exact integer counts, 16-term sorted fold per split.
# ---------------------------------------------------------------------------

_SPLIT_BUCKETS = 16
_CHI2_CRIT_15 = 24.995790139728616   # chi2 0.95 quantile, dof = 15


def _split_audit_sql(split: str, key_expr: str, unit_sql: str) -> str:
    h = md5_long_sql(f"'{split}:' || CAST({key_expr} AS VARCHAR)")
    return f"""
SELECT '{split}' AS split_name, b.*
FROM (
    WITH units AS ({unit_sql}),
    hit AS (
        SELECT ({h} % {_SPLIT_BUCKETS}) AS bucket, COUNT(*) AS n_b
        FROM units GROUP BY bucket
    ),
    -- empty buckets MUST contribute (0 - E)^2/E terms: a hash that
    -- never emits a bucket is exactly the failure this audit exists
    -- to catch, and a GROUP BY alone would silently drop it
    buckets AS (
        SELECT g.bucket, COALESCE(hit.n_b, 0) AS n_b
        FROM (SELECT unnest(generate_series(0,
                  {_SPLIT_BUCKETS - 1})) AS bucket) g
        LEFT JOIN hit ON hit.bucket = g.bucket
    ),
    tot AS (SELECT SUM(n_b) AS n FROM buckets),
    terms AS (
        SELECT bucket,
               (CAST(n_b AS DOUBLE)
                - CAST(n AS DOUBLE) / {_SPLIT_BUCKETS}.0)
               * (CAST(n_b AS DOUBLE)
                  - CAST(n AS DOUBLE) / {_SPLIT_BUCKETS}.0)
               / (CAST(n AS DOUBLE) / {_SPLIT_BUCKETS}.0) AS t,
               n_b, n
        FROM buckets CROSS JOIN tot
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_units,
           CAST(MIN(n_b) AS BIGINT) AS min_bucket,
           CAST(MAX(n_b) AS BIGINT) AS max_bucket,
           {round_sql(ordered_sum_sql('t', 'bucket'))} AS chi2,
           CAST({_SPLIT_BUCKETS - 1} AS INT) AS dof,
           CAST(CASE WHEN {ordered_sum_sql('t', 'bucket')}
                     <= {_CHI2_CRIT_15!r} THEN 1 ELSE 0 END AS INT)
               AS uniform_ok
    FROM terms
) b
"""


@register("hash_split_uniformity_audit", lambda: " UNION ALL ".join([
    _split_audit_sql("ab", "user_id",
                     "SELECT DISTINCT user_id FROM events"),
    _split_audit_sql("exp", "c_custkey",
                     "SELECT c_custkey AS c_custkey FROM customer"),
    _split_audit_sql("cf", "o_orderkey",
                     "SELECT o_orderkey AS o_orderkey FROM orders"),
]))
def hash_split_uniformity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity of the md5 splits across 16 buckets."""
    def audit(df: DataFrame, split: str, key: str) -> DataFrame:
        h = (md5_long(F.concat(F.lit(f"{split}:"),
                               F.col(key).cast("string")))
             % _SPLIT_BUCKETS)
        hit = df.groupBy(h.alias("bucket")).agg(
            F.count("*").alias("n_b"))
        # full 0..15 grid: empty buckets must contribute (0-E)^2/E —
        # the broken-hash case this audit exists to catch
        spark_ = df.sparkSession
        grid = spark_.range(_SPLIT_BUCKETS).select(
            F.col("id").alias("bucket"))
        buckets = (grid.join(hit, "bucket", "left")
                   .select("bucket",
                           F.coalesce(F.col("n_b"), F.lit(0))
                           .alias("n_b")))
        tot = buckets.agg(F.sum("n_b").alias("n"))
        exp = F.col("n").cast("double") / F.lit(float(_SPLIT_BUCKETS))
        t = ((F.col("n_b").cast("double") - exp)
             * (F.col("n_b").cast("double") - exp) / exp)
        terms = buckets.crossJoin(F.broadcast(tot)).select(
            "bucket", "n_b", "n", t.alias("t"))
        chi2 = ordered_fold("ts", "t")
        return (terms.agg(
            F.min("n").alias("n_units"),
            F.min("n_b").alias("min_bucket"),
            F.max("n_b").alias("max_bucket"),
            F.array_sort(F.collect_list(F.struct("bucket", "t")))
            .alias("ts"))
            .select(F.lit(split).alias("split_name"),
                    "n_units", "min_bucket", "max_bucket",
                    F.round(chi2, 6).alias("chi2"),
                    F.lit(_SPLIT_BUCKETS - 1).cast("int").alias("dof"),
                    F.when(chi2 <= F.lit(_CHI2_CRIT_15), 1).otherwise(0)
                    .cast("int").alias("uniform_ok")))

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (audit(events.select("user_id").distinct(), "ab", "user_id")
            .unionByName(audit(cust.select("c_custkey"), "exp",
                               "c_custkey"))
            .unionByName(audit(orders.select("o_orderkey"), "cf",
                               "o_orderkey")))


# ---------------------------------------------------------------------------
# Markov removal-effect attribution — the third classic attribution
# model next to attribution_last_click and attribution_multi_touch
# (Anderl et al. 2014, public): journeys are first-order Markov chains
# over channel states; a channel's credit is its REMOVAL EFFECT
# 1 - P(conv | channel deleted)/P(conv), normalized across channels.
#
# Journeys: per-user event sequences truncated at the FIRST purchase
# (absorbing 'conv'); journeys without a purchase absorb in 'null'.
# Removing channel c deletes its state — probability mass INTO c
# flows to 'null' (the standard formulation), i.e. transitions
# touching c simply drop from the transient system.
#
# Absorption probabilities: x = b + P x solved by _MRA_ITERS unrolled
# Jacobi steps in EXACT 6-dp DECIMAL (the markov_stationary machinery
# transposed) — every scenario (NONE + one per channel) iterates in
# ONE keyed relation, so the oracle is static SQL no matter how many
# channels the data holds (every shared/iterated CTE is
# MATERIALIZED — DuckDB otherwise INLINES them, re-running the
# corpus window pipeline per reference: measured 47.6s -> 0.1s
# at sf0.001). Sub-stochastic rows make the iteration a
# contraction; 12 steps leave a deterministic truncation both engines
# share bit-for-bit (rounding can make a removed-channel variant
# exceed the baseline by <= 1e-6 — removal_effect is reported
# unclamped with `+ 0.0`).
#
# Scale shape: one per-user lead window (the transition matrix's own
# cost); everything after runs on |scenarios| x |states|^2 rows
# (localCheckpoint'ed so iterations never replay the corpus scan).
# ---------------------------------------------------------------------------

_MRA_ITERS = 12


def _mra_oracle() -> str:
    p6 = round_sql("n / CAST(tot AS DOUBLE)")
    steps = []
    for i in range(2, _MRA_ITERS + 1):
        steps.append(f"""
x{i} AS MATERIALIZED (
    SELECT ks.r, ks.s,
           CAST(round(ks.b + COALESCE(SUM(kp.p6 * x.x),
                                      CAST(0 AS DECIMAL(18,6))), 6)
                AS DECIMAL(18,6)) AS x
    FROM ks
    LEFT JOIN kp ON kp.r = ks.r AND kp.s = ks.s
    LEFT JOIN x{i - 1} x ON x.r = kp.r AND x.s = kp.t2
    GROUP BY ks.r, ks.s, ks.b
)""")
    return f"""
WITH seq AS MATERIALIZED (
    SELECT user_id, event_type, ts, event_id,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
           - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS cum_before
    FROM events
),
j AS MATERIALIZED (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase' THEN 'conv'
                ELSE event_type END AS st
    FROM seq WHERE cum_before = 0
),
o AS MATERIALIZED (
    SELECT user_id, st,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn,
           lead(st) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS nxt
    FROM j
),
tr AS (
    SELECT 'start' AS f, st AS t FROM o WHERE rn = 1
    UNION ALL
    SELECT st, nxt FROM o WHERE nxt IS NOT NULL
    UNION ALL
    SELECT st, 'null' FROM o WHERE nxt IS NULL AND st <> 'conv'
),
c AS MATERIALIZED (SELECT f, t, count(*) AS n FROM tr GROUP BY f, t),
tt AS (SELECT f, SUM(n) AS tot FROM c GROUP BY f),
m AS MATERIALIZED (
    SELECT c.f, c.t, CAST({p6} AS DECIMAL(18,6)) AS p6
    FROM c JOIN tt ON tt.f = c.f
),
channels AS (SELECT DISTINCT f AS ch FROM c WHERE f <> 'start'),
scen AS (SELECT ch AS r FROM channels UNION ALL SELECT 'NONE'),
states AS (SELECT DISTINCT f FROM c),
ks AS MATERIALIZED (
    SELECT s.r, st.f AS s,
           COALESCE(b.p6, CAST(0 AS DECIMAL(18,6))) AS b
    FROM scen s
    JOIN states st ON st.f <> s.r
    LEFT JOIN (SELECT f, p6 FROM m WHERE t = 'conv') b ON b.f = st.f
),
kp AS MATERIALIZED (
    SELECT s.r, m.f AS s, m.t AS t2, m.p6
    FROM scen s
    JOIN m ON m.f <> s.r AND m.t <> s.r
    WHERE m.t NOT IN ('conv', 'null', 'start')
),
x1 AS MATERIALIZED (SELECT r, s, b AS x FROM ks),
{','.join(steps)},
pc AS (SELECT r, x AS p_conv FROM x{_MRA_ITERS} WHERE s = 'start'),
base AS (SELECT p_conv AS p_all FROM pc WHERE r = 'NONE'),
res AS (
    SELECT ch.ch AS channel,
           CAST(b.p_all AS DOUBLE) AS p_all,
           CAST(p.p_conv AS DOUBLE) AS p_rm,
           1.0 - CAST(p.p_conv AS DOUBLE) / CAST(b.p_all AS DOUBLE)
               AS re_raw
    FROM channels ch
    JOIN pc p ON p.r = ch.ch
    CROSS JOIN base b
),
tot_re AS (
    SELECT {ordered_sum_sql("re_raw", "channel")} AS s_re
    FROM res
)
SELECT channel,
       {round_sql('p_all')} AS p_conv_all,
       {round_sql('p_rm')} AS p_conv_removed,
       {round_sql('re_raw')} + 0.0 AS removal_effect,
       CASE WHEN s_re = 0 THEN NULL
            ELSE {round_sql('re_raw / s_re')} + 0.0
       END AS attribution_share
FROM res CROSS JOIN tot_re
"""


@register("markov_removal_attribution", _mra_oracle)
def markov_removal_attribution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Removal-effect channel attribution over first-purchase journeys."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    seq = events.withColumn(
        "cum_before",
        F.sum(is_p).over(w.rowsBetween(Window.unboundedPreceding, 0))
        - is_p)
    j = (seq.filter(F.col("cum_before") == 0)
         .select("user_id", "ts", "event_id",
                 F.when(F.col("event_type") == "purchase", "conv")
                 .otherwise(F.col("event_type")).alias("st")))
    wj = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = (j.withColumn("rn", F.row_number().over(wj))
         .withColumn("nxt", F.lead("st").over(wj)))
    tr = (o.filter(F.col("rn") == 1)
          .select(F.lit("start").alias("f"), F.col("st").alias("t"))
          .unionByName(o.filter(F.col("nxt").isNotNull())
                       .select(F.col("st").alias("f"),
                               F.col("nxt").alias("t")))
          .unionByName(o.filter(F.col("nxt").isNull()
                                & (F.col("st") != "conv"))
                       .select(F.col("st").alias("f"),
                               F.lit("null").alias("t"))))
    c = tr.groupBy("f", "t").agg(F.count("*").alias("n"))
    tt = c.groupBy("f").agg(F.sum("n").alias("tot"))
    m = (c.join(tt, "f")
         .select("f", "t",
                 F.round(F.col("n") / F.col("tot").cast("double"), 6)
                 .cast("decimal(18,6)").alias("p6"))
         .localCheckpoint(eager=True))
    channels = (c.select(F.col("f").alias("ch")).distinct()
                .filter(F.col("ch") != "start"))
    scen = (channels.select(F.col("ch").alias("r"))
            .unionByName(local_relation(
                channels.sparkSession, [("NONE",)], "r string")))
    states = m.select("f").distinct()
    bvec = m.filter(F.col("t") == "conv").select("f", F.col("p6").alias("b0"))
    zero6 = F.lit(0).cast("decimal(18,6)")
    ks = (scen.join(states, states.f != scen.r)
          .join(bvec, "f", "left")
          .select("r", F.col("f").alias("s"),
                  F.coalesce(F.col("b0"), zero6).alias("b"))
          .localCheckpoint(eager=True))
    kp = (scen.join(m, (m.f != scen.r) & (m.t != scen.r)
                    & ~m.t.isin("conv", "null", "start"))
          .select("r", F.col("f").alias("s"), F.col("t").alias("t2"),
                  "p6")
          .localCheckpoint(eager=True))
    x = ks.select("r", "s", F.col("b").alias("x"))
    for _ in range(_MRA_ITERS - 1):
        acc = (kp.join(x.withColumnsRenamed({"s": "t2", "x": "xv"}),
                       ["r", "t2"])
               .groupBy("r", "s")
               .agg(F.sum(F.col("p6") * F.col("xv")).alias("acc")))
        # lag-1 pin (bpe_train_merges precedent): keeps each
        # iteration's plan flat (join checkpointed 30-row inputs)
        # instead of a 12-deep join/agg tree whose planning dominates
        # (measured 13.7s -> 6.1s end-to-end at sf0.01)
        x = (ks.join(acc, ["r", "s"], "left")
             .select("r", "s",
                     F.round(F.col("b")
                             + F.coalesce(F.col("acc"), zero6), 6)
                     .cast("decimal(18,6)").alias("x"))
             .localCheckpoint(eager=True))
    pc = x.filter(F.col("s") == "start").select("r", F.col("x").alias("p_conv"))
    base = (pc.filter(F.col("r") == "NONE")
            .select(F.col("p_conv").alias("p_all")))
    res = (channels.join(pc, channels.ch == pc.r)
           .crossJoin(F.broadcast(base))
           .select(F.col("ch").alias("channel"),
                   F.col("p_all").cast("double").alias("p_all"),
                   F.col("p_conv").cast("double").alias("p_rm")))
    res = res.withColumn(
        "re_raw", F.lit(1.0) - F.col("p_rm") / F.col("p_all"))
    tot_re = res.agg(ordered_sum("re_raw", "channel").alias("s_re"))
    return (res.crossJoin(F.broadcast(tot_re))
            .select("channel",
                    F.round("p_all", 6).alias("p_conv_all"),
                    F.round("p_rm", 6).alias("p_conv_removed"),
                    (F.round("re_raw", 6) + F.lit(0.0))
                    .alias("removal_effect"),
                    F.when(F.col("s_re") == 0,
                           F.lit(None).cast("double"))
                    .otherwise(F.round(F.col("re_raw") / F.col("s_re"),
                                       6) + F.lit(0.0))
                    .alias("attribution_share")))


# ---------------------------------------------------------------------------
# Holt rolling-origin backtest — does the smoother actually forecast?
#
# holt_linear_daily publishes 6-dp level/trend states; the one-step
# forecast for day i is level_{i-1} + trend_{i-1}, evaluated
# rolling-origin over the observed day grid after a burn-in. MAPE is
# compared against the naive persistence forecast (yesterday's count)
# — skill = 1 - mape/mape_naive is the number that justifies (or
# convicts) the smoother. Forecasts are built FROM THE PUBLISHED
# 6-dp states (both engines consume identical rounded doubles), so
# the backtest composes the registered query rather than forking the
# recurrence.
#
# Scale shape: rides holt_linear_daily's bounded daily relation; the
# per-type APE folds cover <= |days| elements in pinned day order.
# ---------------------------------------------------------------------------

_HBT_BURN = 5


def _hbt_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    holt_sql = ORACLES["holt_linear_daily"]
    assert isinstance(holt_sql, str)
    return f"""
WITH base AS MATERIALIZED (
{holt_sql}
),
seqd AS (
    SELECT event_type, day, cnt,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
           lag(level) OVER (PARTITION BY event_type ORDER BY day) AS plvl,
           lag(trend) OVER (PARTITION BY event_type ORDER BY day) AS ptrd,
           lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS pcnt
    FROM base
),
ev AS (
    SELECT event_type, day,
           abs(CAST(cnt AS DOUBLE) - (plvl + ptrd))
               / CAST(cnt AS DOUBLE) AS ape,
           abs(CAST(cnt AS DOUBLE) - CAST(pcnt AS DOUBLE))
               / CAST(cnt AS DOUBLE) AS ape_naive
    FROM seqd WHERE rn > {_HBT_BURN}
),
folded AS (
    SELECT event_type, COUNT(*) AS n_eval,
           {ordered_sum_sql("ape", "day")}
               / CAST(COUNT(*) AS DOUBLE) AS mape,
           {ordered_sum_sql("ape_naive", "day")}
               / CAST(COUNT(*) AS DOUBLE) AS mape_naive
    FROM ev GROUP BY event_type
)
SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval,
       {round_sql('mape')} AS mape,
       {round_sql('mape_naive')} AS mape_naive,
       CASE WHEN mape_naive = 0 THEN NULL
            ELSE {round_sql('1.0 - mape / mape_naive')} + 0.0
       END AS skill_vs_naive
FROM folded
""" 


@register("holt_backtest_mape", _hbt_oracle)
def holt_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step MAPE of Holt vs naive persistence."""
    from travel_data_pipeline_spark.queries_timeseries import (
        holt_linear_daily,
    )

    base = holt_linear_daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    seqd = (base
            .withColumn("rn", F.row_number().over(w))
            .withColumn("plvl", F.lag("level").over(w))
            .withColumn("ptrd", F.lag("trend").over(w))
            .withColumn("pcnt", F.lag("cnt").over(w)))
    cd = F.col("cnt").cast("double")
    ev = (seqd.filter(F.col("rn") > _HBT_BURN)
          .select("event_type", "day",
                  (F.abs(cd - (F.col("plvl") + F.col("ptrd"))) / cd)
                  .alias("ape"),
                  (F.abs(cd - F.col("pcnt").cast("double")) / cd)
                  .alias("ape_naive")))
    folded = (ev.groupBy("event_type")
              .agg(F.count("*").alias("n_eval"),
                   F.array_sort(F.collect_list(
                       F.struct("day", "ape", "ape_naive"))).alias("ts")))
    n_eval = F.col("n_eval").cast("double")
    mape = ordered_fold("ts", "ape") / n_eval
    mnaive = ordered_fold("ts", "ape_naive") / n_eval
    # degenerate-denominator branch (repo rule): a constant naive
    # series (every post-burn-in day equals the previous) would give
    # Infinity in Spark and crash the oracle's decimal parse — report
    # NULL skill instead, in BOTH engines
    return folded.select(
        "event_type", "n_eval",
        F.round(mape, 6).alias("mape"),
        F.round(mnaive, 6).alias("mape_naive"),
        F.when(mnaive == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.lit(1.0) - mape / mnaive, 6) + F.lit(0.0))
        .alias("skill_vs_naive"))


# ---------------------------------------------------------------------------
# IPF raking weights — calibrate a deterministic 30% sample to the
# full corpus's lang AND source margins (iterative proportional
# fitting / raking, Deming-Stephan 1940, public). Four full IPF
# rounds (lang step + source step each) in EXACT 6-dp decimal: margin
# ratios are 6-dp-rounded doubles cast to decimal, weights multiply
# and re-round per half-step — both engines walk identical numbers
# (the markov keyed-iteration discipline). The md5 sample covers
# every margin at all three SFs (deterministic hash), and a
# zero-total guard keeps a missing margin from minting inf.
#
# Scale shape: two corpus-sized grouped counts (sample cells + full
# margins); the 8 half-steps iterate a <= |langs| x |sources| cell
# relation (lag-1 checkpointed).
# ---------------------------------------------------------------------------

_IPF_ROUNDS = 4
_IPF_KEY = md5_long_sql("'ipf:' || CAST(doc_id AS VARCHAR)")


def _ipf_oracle() -> str:
    steps = []
    prev = "w0"
    for i in range(1, _IPF_ROUNDS + 1):
        for axis, margin in (("lang", "tl"), ("source", "ts_")):
            name = f"w{i}{axis[0]}"
            ratio = round_sql(
                f"CAST(m.target AS DOUBLE) / CAST(cur.total AS DOUBLE)")
            steps.append(f"""
{name} AS MATERIALIZED (
    SELECT p.lang, p.source, p.n_s,
           CASE WHEN cur.total = 0 THEN p.w
                ELSE CAST(round(p.w * CAST({ratio} AS DECIMAL(18,6)), 6)
                          AS DECIMAL(18,6)) END AS w
    FROM {prev} p
    JOIN (SELECT {axis}, SUM(w * n_s) AS total FROM {prev}
          GROUP BY {axis}) cur ON cur.{axis} = p.{axis}
    JOIN {margin} m ON m.{axis} = p.{axis}
)""")
            prev = name
    return f"""
WITH sample AS MATERIALIZED (
    SELECT lang, source FROM documents
    WHERE ({_IPF_KEY} % 10) < 3
),
cells AS MATERIALIZED (
    SELECT lang, source, COUNT(*) AS n_s FROM sample
    GROUP BY lang, source
),
tl AS MATERIALIZED (
    SELECT lang, COUNT(*) AS target FROM documents GROUP BY lang
),
ts_ AS MATERIALIZED (
    SELECT source, COUNT(*) AS target FROM documents GROUP BY source
),
w0 AS MATERIALIZED (
    SELECT lang, source, n_s, CAST(1 AS DECIMAL(18,6)) AS w FROM cells
),
{','.join(steps)}
SELECT lang, source, CAST(n_s AS BIGINT) AS n_sample,
       CAST(w AS DOUBLE) AS weight,
       {round_sql('CAST(w AS DOUBLE) * CAST(n_s AS DOUBLE)')} AS w_count
FROM {prev}
"""


@register("ipf_raking_weights", _ipf_oracle)
def ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raked per-cell weights calibrating the sample to both margins."""
    docs = load_table(spark, sf_dir, "documents")
    key = md5_long(F.concat(F.lit("ipf:"),
                            F.col("doc_id").cast("string"))) % 10
    sample = docs.filter(key < 3).select("lang", "source")
    cells = (sample.groupBy("lang", "source")
             .agg(F.count("*").alias("n_s")))
    tl = docs.groupBy("lang").agg(F.count("*").alias("t_lang"))
    ts = docs.groupBy("source").agg(F.count("*").alias("t_src"))
    w = (cells.withColumn("w", F.lit(1).cast("decimal(18,6)"))
         .localCheckpoint(eager=True))
    targets = {"lang": ("t_lang", F.broadcast(tl)),
               "source": ("t_src", F.broadcast(ts))}
    for _ in range(_IPF_ROUNDS):
        for axis, (tcol, tdf) in targets.items():
            cur = w.groupBy(axis).agg(
                F.sum(F.col("w") * F.col("n_s")).alias("total"))
            ratio = F.round(F.col(tcol).cast("double")
                            / F.col("total").cast("double"), 6) \
                .cast("decimal(18,6)")
            # lag-1 pin (markov_removal precedent): 8 half-steps over
            # a <= |langs| x |sources| relation
            w = (w.join(F.broadcast(cur), axis).join(tdf, axis)
                 .select("lang", "source", "n_s",
                         F.when(F.col("total") == 0, F.col("w"))
                         .otherwise(F.round(F.col("w") * ratio, 6)
                                    .cast("decimal(18,6)")).alias("w"))
                 .localCheckpoint(eager=True))
    return w.select(
        "lang", "source", F.col("n_s").alias("n_sample"),
        F.col("w").cast("double").alias("weight"),
        F.round(F.col("w").cast("double")
                * F.col("n_s").cast("double"), 6).alias("w_count"))


# ---------------------------------------------------------------------------
# Evaluation scorecard — the composed readout of the model-eval family
# (pipeline_data_health precedent: several checks, one relation). One
# (metric, value) row each for ranking (nDCG@10), discrimination
# (AUC), calibration (ECE, Brier, reliability) — all pulled from the
# SAME registered component queries, so the scorecard can never drift
# from the numbers the individual audits report. The oracle wraps the
# component oracles as MATERIALIZED CTEs (the DuckDB inlining rule).
# ---------------------------------------------------------------------------


def _scorecard_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    def get(name: str) -> str:
        o = ORACLES[name]
        return o() if callable(o) else o

    return f"""
WITH auc_q AS MATERIALIZED (
{get("classifier_auc_rank")}
),
brier_q AS MATERIALIZED (
{get("brier_decomposition")}
),
bins_q AS MATERIALIZED (
{get("cdf_calibration_bins")}
),
ndcg_q AS MATERIALIZED (
{get("bm25_ndcg_at_k")}
)
SELECT 'auc' AS metric, CAST(auc AS DOUBLE) AS value FROM auc_q
UNION ALL
SELECT 'brier', brier FROM brier_q
UNION ALL
SELECT 'reliability', reliability FROM brier_q
UNION ALL
SELECT 'ece',
       {round_sql(ordered_sum_sql("ece_term", "bin"))}
FROM bins_q
UNION ALL
SELECT 'ndcg_at_10', ndcg FROM ndcg_q WHERE k = 10
"""


@register("eval_scorecard", _scorecard_oracle)
def eval_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, value) scorecard composed from the registered audits."""
    from travel_data_pipeline_spark.queries_cleaning import (
        classifier_auc_rank,
    )
    from travel_data_pipeline_spark.queries_round8 import (
        cdf_calibration_bins,
    )

    auc = (classifier_auc_rank(spark, sf_dir)
           .select(F.lit("auc").alias("metric"),
                   F.col("auc").cast("double").alias("value")))
    # 1-row result, corpus-sized lineage, TWO consumers — pin it
    # (the oracle materializes brier_q once); persist, not eager
    # localCheckpoint (optimization r14): both consumers live inside
    # the one final action — measured 5.67 -> 4.41 s build+exec /
    # 5.89 -> 5.59 s first-computation in the interleaved A/B at sf0.1
    bd = brier_decomposition(spark, sf_dir).persist()
    brier = bd.select(F.lit("brier").alias("metric"),
                      F.col("brier").alias("value"))
    rel = bd.select(F.lit("reliability").alias("metric"),
                    F.col("reliability").alias("value"))
    ece = (cdf_calibration_bins(spark, sf_dir)
           .agg(ordered_sum("ece_term", "bin").alias("s"))
           .select(F.lit("ece").alias("metric"),
                   F.round("s", 6).alias("value")))
    ndcg = (bm25_ndcg_at_k(spark, sf_dir)
            .filter(F.col("k") == 10)
            .select(F.lit("ndcg_at_10").alias("metric"),
                    F.col("ndcg").alias("value")))
    return (auc.unionByName(brier).unionByName(rel)
            .unionByName(ece).unionByName(ndcg))


# ---------------------------------------------------------------------------
# Int8 quantization DISTORTION audit — the geometry impact of the
# storage path. embedding_quantize_int8 reports per-element error and
# ivf_quantized_rerank/ivf_recall_at_k the end effect; what's between
# them is the ANGLE: cos(v, dequant(v)) per vector, histogrammed as
# 1 - cos in 1e-5 bins per label (bounded |labels| x 21 output — a
# per-vector listing would be corpus-sized, a plain mean of dirty
# doubles would need a data-scaled pinned fold; the histogram is the
# scale-sound shape). All folds walk arrays in ELEMENT order (both
# engines sequential in-order reduce), max is order-free.
#
# Scale shape: pure projection + one bounded (label, bin) groupBy —
# zero data-scaled state anywhere.
# ---------------------------------------------------------------------------

_QD_BIN = 100000   # gap bin width 1e-5
_QD_CAP = 20


@register("quantization_distortion_bins", f"""
WITH emb AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
),
q AS (
    SELECT vec_id, label, v,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) / 127.0 = 0.0
                THEN 1.0
                ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
           END AS scale
    FROM emb
),
enc AS (
    SELECT vec_id, label, v, scale,
           list_transform(v, x -> CAST(greatest(-127.0,
               least(127.0, round(x / scale, 0))) AS INT)) AS qv
    FROM q
),
geo AS (
    SELECT vec_id, label,
           list_reduce(list_transform(generate_series(1, len(v)),
               i -> v[i] * (CAST(qv[i] AS DOUBLE) * scale)),
               (x, y) -> x + y) AS dot,
           list_reduce(list_transform(generate_series(1, len(v)),
               i -> v[i] * v[i]), (x, y) -> x + y) AS nv2,
           list_reduce(list_transform(generate_series(1, len(v)),
               i -> (CAST(qv[i] AS DOUBLE) * scale)
                    * (CAST(qv[i] AS DOUBLE) * scale)),
               (x, y) -> x + y) AS nq2
    FROM enc
),
gaps AS (
    SELECT label,
           CASE WHEN sqrt(nv2) * sqrt(nq2) = 0.0 THEN NULL
                ELSE 1.0 - dot / (sqrt(nv2) * sqrt(nq2))
           END AS gap
    FROM geo
)
SELECT label,
       GREATEST(0, LEAST(CAST(floor(gap * {_QD_BIN}) AS INT), {_QD_CAP}))
         AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       {round_sql('MAX(gap)')} + 0.0 AS max_gap
FROM gaps WHERE gap IS NOT NULL
GROUP BY label, bin
""")
def quantization_distortion_bins(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per-label histogram of 1 - cos(v, dequantized v) under int8."""
    from travel_data_pipeline_spark.operators import ml

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        ml.as_double_vec(F.col("embedding")).alias("v"))
    scale, qv, _, _ = ml.quantize_int8(F.col("v"))
    enc = emb.select("vec_id", "label", "v", scale.alias("scale"),
                     qv.alias("qv"))
    dq = F.transform("qv",
                     lambda qi: qi.cast("double") * F.col("scale"))
    enc = enc.withColumn("dq", dq)
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda a, x: a + x)
    dot = fold(F.zip_with("v", "dq", lambda a, b: a * b))
    nv2 = fold(F.transform("v", lambda x: x * x))
    nq2 = fold(F.transform("dq", lambda x: x * x))
    denom = F.sqrt(nv2) * F.sqrt(nq2)
    gap = (F.when(denom == 0.0, F.lit(None).cast("double"))
           .otherwise(F.lit(1.0) - dot / denom))
    gaps = enc.select("label", gap.alias("gap")).filter(
        F.col("gap").isNotNull())
    # gap = 1 - dot/(|v||dq|) can come out marginally NEGATIVE in
    # floating point (the computed dot can exceed the computed norm
    # product), which would mint a bin = -1 row outside the documented
    # 0..20 histogram — clamp at 0 in BOTH engines (ADVICE r07).
    return (gaps.groupBy(
        "label",
        F.greatest(
            F.lit(0),
            F.least(F.floor(F.col("gap") * _QD_BIN).cast("int"),
                    F.lit(_QD_CAP))).alias("bin"))
        .agg(F.count("*").alias("n"),
             (F.round(F.max("gap"), 6) + F.lit(0.0)).alias("max_gap")))
