"""Round-18 candidate queries (written in round 13).

Families this batch adds (all oracle-paired, all scale-shaped):

- **Inequality & concentration** (Theil T with between/within nation
  decomposition, Atkinson indices, Lorenz decile curve, Palma ratio):
  per-customer revenue is a DECIMAL money sum; global ranks go
  through two_phase_ordered (never a partitionless window over the
  customer relation). Float terms that need a corpus-scale sum (the
  ln terms of Theil/Atkinson) use the ROUNDED-DECIMAL-TERM SUM
  pattern introduced here: each per-row double term is rounded to 12
  dp with the Spark-parity rounding and cast to DECIMAL(38,12), so
  the aggregate is EXACT and order-free (associative) — the only way
  a float reduction stays deterministic across 1000 executors. The
  12-dp round-trip through binary doubles is lossless for |term| <=
  ~4e3 (double ulp at 4096 is 4.5e-13 < the 5e-13 half-spacing).

- **Goodness-of-fit & robust location over the daily grid**
  (chi-square GOF, KS vs fitted logistic, Hodges-Lehmann
  pseudo-median, biweight midvariance, Bowley quartile skewness,
  up/down runs test): the corpus-sized pass is the one groupBy onto
  the bounded day/dow grid; pair enumeration (Walsh averages) is a
  bounded grid self-join; medians/quantiles are exact integer
  cumulative-count selections in doubled units (no float order
  statistics).

- **Forecast evaluation** (theta method, MASE, MA(7) decomposition,
  max drawdown): integer-exact where possible (MASE and drawdown are
  pure integer arithmetic until the final division), EWMA-style
  order-pinned folds where a recurrence is inherent.

- **IR / ranking metrics** (rank-biased precision curve, Spearman
  footrule) over bounded top-k / 25-nation rankings.

- **DDSketch quantiles**: relative-error log buckets, CONSTANT
  per-shard state, associative merge — the mergeable-summary shape
  (SpaceSaving's sibling) with the (gamma-1)/(gamma+1) error bound
  reported per readout.

- **SQL-surface suites** (map HOFs, table-valued functions, bitwise
  aggregates, regexp surface, date-edge arithmetic, boolean
  aggregates) — capability-matrix entries pinning Spark surfaces to
  ANSI semantics.

- **LLM-curation text ops** (trigram LM perplexity via the linear
  zip-with-tail pairing, truncation loss, PII density, intra-doc
  duplicate sentences, char-trigram language signatures, stopword
  profile matrix).

- **A/B extras** (post-stratified arm means on the floor(value*100)
  integer metric; Haldane-corrected odds ratios) and **geo
  bucketing** (haversine
  nation pairs over hash-derived coordinates; 1-degree grid-cell
  co-location join — the spatial equi-join shape).

Float discipline: integer/decimal moments everywhere; doubles appear
only in final shared-spelling expressions or rounded-decimal terms;
every rounded output goes through functions.parity.round_sql /
F.round(_, 6) with `+ 0.0` -0.0 guards where a zero can be signed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)
from travel_data_pipeline_spark.functions.parity import (
    ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# shared day-grid helpers (review r12: duplicated copies could
# silently desynchronize the grids)
from travel_data_pipeline_spark.queries_round16 import (  # noqa: E402
    _DAILY_SQL,
    _daily_counts,
)


# The rounded-decimal-term helpers moved to functions/parity.py
# (rd_term / rd_term_sql) when round 14 adopted the pattern inside
# hits_from_edges too; these aliases keep this module's 40+ call
# sites unchanged.
from travel_data_pipeline_spark.functions.parity import (  # noqa: E402
    rd_term as _rd,
    rd_term_sql as _rd_sql,
)


# ---------------------------------------------------------------------------
# Batch A — inequality & concentration over per-customer revenue.
#
# rev is the DECIMAL(18,2) money sum per customer (order-free exact);
# ln/sqrt terms are rounded-decimal sums (module docstring); global
# ranks are two-phase. Revenue per customer tops out ~1e7, so
# (r/mu)*ln(r/mu) terms stay well under the 4e3 round-trip ceiling
# only after normalization — every term below is a RATIO times a log,
# bounded by ~n (shares sum to 1), never a raw money value.
# ---------------------------------------------------------------------------

_REV_SQL = """
rev AS (
    SELECT c.c_nationkey AS nk, o.o_custkey,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS r
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
)"""


def _rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nk"), "o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("decimal(18,2)").alias("r")))


@register("theil_t_nation_decomposition", f"""
WITH {_REV_SQL},
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS s
    FROM rev
),
grp AS (
    SELECT nk, CAST(count(*) AS BIGINT) AS ng,
           CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS sg
    FROM rev GROUP BY nk
),
terms AS (
    SELECT
        {_rd_sql('(CAST(v.r AS DOUBLE) / (t.s / t.n))'
                 ' * ln(CAST(v.r AS DOUBLE) / (t.s / t.n))')} AS tt,
        {_rd_sql('(CAST(v.r AS DOUBLE) / t.s)'
                 ' * ln(CAST(v.r AS DOUBLE) / (g.sg / g.ng))')} AS tw
    FROM rev v CROSS JOIN tot t JOIN grp g ON g.nk = v.nk
),
bterms AS (
    SELECT {_rd_sql('(g.sg / t.s) * ln((g.sg / g.ng) / (t.s / t.n))')}
             AS tb
    FROM grp g CROSS JOIN tot t
)
SELECT t.n AS n_customers,
       {round_sql('CAST((SELECT sum(tt) FROM terms) AS DOUBLE) / t.n')}
         + 0.0 AS theil_total,
       {round_sql('CAST((SELECT sum(tb) FROM bterms) AS DOUBLE)')}
         + 0.0 AS theil_between,
       {round_sql('CAST((SELECT sum(tw) FROM terms) AS DOUBLE)')}
         + 0.0 AS theil_within
FROM tot t
""")
def theil_t_nation_decomposition(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Theil T inequality of per-customer revenue with the exact
    between/within nation decomposition T = T_b + sum_g s_g T_g.
    Per-customer ln terms are rounded-decimal sums (order-free —
    the 100 TB float-reduction pattern); group stats are broadcast."""
    rev = _rev(spark, sf_dir)
    tot = rev.agg(F.count("*").cast("long").alias("n"),
                  F.sum(F.col("r").cast("decimal(28,2)"))
                  .cast("double").alias("s"))
    grp = rev.groupBy("nk").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(F.col("r").cast("decimal(28,2)")).cast("double")
        .alias("sg"))
    rd = F.col("r").cast("double")
    mu = F.col("s") / F.col("n")
    mug = F.col("sg") / F.col("ng")
    terms = (rev.crossJoin(F.broadcast(tot))
             .join(F.broadcast(grp), "nk")
             .select(_rd((rd / mu) * F.log(rd / mu)).alias("tt"),
                     _rd((rd / F.col("s"))
                         * F.log(rd / mug)).alias("tw")))
    sums = terms.agg(F.sum("tt").alias("stt"), F.sum("tw").alias("stw"))
    bsum = (grp.crossJoin(F.broadcast(tot))
            .select(_rd((F.col("sg") / F.col("s"))
                        * F.log(mug / mu)).alias("tb"))
            .agg(F.sum("tb").alias("stb")))
    return (tot.crossJoin(F.broadcast(sums)).crossJoin(F.broadcast(bsum))
            .select(F.col("n").alias("n_customers"),
                    (F.round(F.col("stt").cast("double") / F.col("n"), 6)
                     + 0.0).alias("theil_total"),
                    (F.round(F.col("stb").cast("double"), 6)
                     + 0.0).alias("theil_between"),
                    (F.round(F.col("stw").cast("double"), 6)
                     + 0.0).alias("theil_within")))


@register("atkinson_index_revenue", f"""
WITH {_REV_SQL},
terms AS (
    SELECT {_rd_sql('sqrt(CAST(r AS DOUBLE) / 10000.0)')} AS tsq,
           {_rd_sql('ln(CAST(r AS DOUBLE))')} AS tln
    FROM rev
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS s
    FROM rev
),
sums AS (
    SELECT CAST(sum(tsq) AS DOUBLE) AS ssq,
           CAST(sum(tln) AS DOUBLE) AS sln
    FROM terms
)
SELECT t.n AS n_customers,
       {round_sql('t.s / t.n', 2)} AS mu,
       {round_sql('1.0 - ((m.ssq / t.n) * (m.ssq / t.n) * 10000.0)'
                  ' / (t.s / t.n)')} + 0.0 AS atkinson_half,
       {round_sql('1.0 - exp(m.sln / t.n) / (t.s / t.n)')}
         + 0.0 AS atkinson_one
FROM tot t CROSS JOIN sums m
""")
def atkinson_index_revenue(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Atkinson inequality indices of per-customer revenue at
    eps=1/2 (via mean sqrt, revenue scaled by 1e4 to keep terms
    under the rounded-decimal ceiling) and eps=1 (via mean ln)."""
    rev = _rev(spark, sf_dir)
    rd = F.col("r").cast("double")
    terms = rev.select(_rd(F.sqrt(rd / 10000.0)).alias("tsq"),
                       _rd(F.log(rd)).alias("tln"))
    tot = rev.agg(F.count("*").cast("long").alias("n"),
                  F.sum(F.col("r").cast("decimal(28,2)"))
                  .cast("double").alias("s"))
    sums = terms.agg(F.sum("tsq").cast("double").alias("ssq"),
                     F.sum("tln").cast("double").alias("sln"))
    n, s = F.col("n"), F.col("s")
    mu = s / n
    msq = F.col("ssq") / n
    return (tot.crossJoin(F.broadcast(sums))
            .select(F.col("n").alias("n_customers"),
                    F.round(mu, 2).alias("mu"),
                    (F.round(F.lit(1.0)
                             - (msq * msq * 10000.0) / mu, 6)
                     + 0.0).alias("atkinson_half"),
                    (F.round(F.lit(1.0)
                             - F.exp(F.col("sln") / n) / mu, 6)
                     + 0.0).alias("atkinson_one")))


@register("lorenz_curve_deciles", f"""
WITH {_REV_SQL},
ranked AS (
    SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
           count(*) OVER () AS n
    FROM rev
),
dec AS (
    -- // is DuckDB integer division ('/' floats even on BIGINTs and
    -- the INT cast would then ROUND — a decile-10 phantom bucket)
    SELECT CAST(((i - 1) * 10) // n AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DECIMAL(28,2)) AS sd
    FROM ranked GROUP BY 1
),
cum AS (
    SELECT decile, n_cust,
           CAST(SUM(sd) OVER (ORDER BY decile) AS DOUBLE) AS c,
           CAST(SUM(sd) OVER () AS DOUBLE) AS tot
    FROM dec
)
SELECT decile, n_cust,
       {round_sql('c / tot')} + 0.0 AS cum_revenue_share
FROM cum ORDER BY decile
""")
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of per-customer revenue at decile cuts: the
    cumulative revenue share of the poorest d*10%. Ranks are
    two-phase (gini_customer_revenue's shape); the cumulative runs
    over 10 bounded decile rows."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered)

    rev = _rev(spark, sf_dir)
    ranked = two_phase_ordered(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()],
        F.col("r").cast("double") + F.col("o_custkey") / F.lit(1e18),
        rank_col="i")
    n1 = ranked.agg(F.count("*").alias("n"))
    dec = (ranked.crossJoin(F.broadcast(n1))
           # DIV: exact integer division (a double '/' + int cast
           # could misbin a boundary rank by one ulp)
           .select(F.expr("CAST(((i - 1) * 10) DIV n AS INT)")
                   .alias("decile"), "r")
           .groupBy("decile")
           .agg(F.count("*").cast("long").alias("n_cust"),
                F.sum(F.col("r").cast("decimal(28,2)"))
                .cast("decimal(28,2)").alias("sd")))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding,
                                              Window.unboundedFollowing)
    return (dec
            .select("decile", "n_cust",
                    F.sum("sd").over(wc).cast("double").alias("c"),
                    F.sum("sd").over(wt).cast("double").alias("tot"))
            .select("decile", "n_cust",
                    (F.round(F.col("c") / F.col("tot"), 6) + 0.0)
                    .alias("cum_revenue_share"))
            .orderBy("decile"))


@register("palma_ratio_revenue", f"""
WITH {_REV_SQL},
ranked AS (
    SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
           count(*) OVER () AS n
    FROM rev
),
sums AS (
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS s,
           CAST(SUM(CASE WHEN i * 10 <= 4 * n
                         THEN CAST(r AS DECIMAL(28,2)) END)
                AS DOUBLE) AS b40,
           CAST(SUM(CASE WHEN i > n - n // 10
                         THEN CAST(r AS DECIMAL(28,2)) END)
                AS DOUBLE) AS t10
    FROM ranked
)
SELECT n AS n_customers,
       {round_sql('t10 / s')} + 0.0 AS share_top10,
       {round_sql('b40 / s')} + 0.0 AS share_bottom40,
       {round_sql('t10 / b40')} + 0.0 AS palma_ratio
FROM sums
""")
def palma_ratio_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio: top-10% revenue share over bottom-40% share.
    Integer rank thresholds (i*10 <= 4n; i > n - n div 10) — no
    float quantiles; ranks two-phase."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered)

    rev = _rev(spark, sf_dir)
    ranked = two_phase_ordered(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()],
        F.col("r").cast("double") + F.col("o_custkey") / F.lit(1e18),
        rank_col="i")
    n1 = ranked.agg(F.count("*").alias("n"))
    rdec = F.col("r").cast("decimal(28,2)")
    sums = (ranked.crossJoin(F.broadcast(n1))
            .agg(F.max("n").cast("long").alias("n"),
                 F.sum(rdec).cast("double").alias("s"),
                 F.sum(F.when(F.col("i") * 10 <= 4 * F.col("n"), rdec))
                 .cast("double").alias("b40"),
                 F.sum(F.when(
                     F.col("i") > F.col("n") - F.expr("n DIV 10"),
                     rdec))
                 .cast("double").alias("t10")))
    return sums.select(
        F.col("n").alias("n_customers"),
        (F.round(F.col("t10") / F.col("s"), 6) + 0.0)
        .alias("share_top10"),
        (F.round(F.col("b40") / F.col("s"), 6) + 0.0)
        .alias("share_bottom40"),
        (F.round(F.col("t10") / F.col("b40"), 6) + 0.0)
        .alias("palma_ratio"))


# ---------------------------------------------------------------------------
# Batch B — goodness-of-fit & robust location over the daily grid.
#
# The corpus pass is the one groupBy onto the bounded day/dow grid;
# medians and quantiles are exact integer cumulative-count selections
# in DOUBLED units (2x for medians of values, 4x for the MAD) so no
# float order statistic ever exists; pair enumeration (Walsh
# averages) is a bounded grid self-join. Bounded-grid windows are
# fine (the acf_daily_counts discipline).
# ---------------------------------------------------------------------------

@register("chisq_gof_weekday", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
dows AS (
    SELECT ((t % 7) + 7) % 7 AS dow, CAST(sum(cnt) AS BIGINT) AS o
    FROM daily GROUP BY 1
),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM dows)
SELECT t.n AS n_events, CAST(6 AS INT) AS df,
       {round_sql(ordered_sum_sql("(CAST(o AS DOUBLE) - t.n / 7.0)"
                                  " * (CAST(o AS DOUBLE) - t.n / 7.0)"
                                  " / (t.n / 7.0)", "dow"))} + 0.0 AS chi2
FROM tot t CROSS JOIN dows GROUP BY t.n
""")
def chisq_gof_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of event volume against a uniform
    day-of-week law: 7 observed sums vs n/7 expected, the 7-term sum
    folded in dow order."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    dows = (daily.groupBy(F.pmod(F.col("t"), F.lit(7)).alias("dow"))
            .agg(F.sum("cnt").cast("long").alias("o")))
    tot = dows.agg(F.sum("o").cast("long").alias("n"))
    nd = F.col("n").cast("double")
    term = ((F.col("o").cast("double") - nd / 7.0)
            * (F.col("o").cast("double") - nd / 7.0) / (nd / 7.0))
    return (dows.crossJoin(F.broadcast(tot))
            .groupBy("n")
            .agg(ordered_sum(term, "dow").alias("chi2raw"))
            .select(F.col("n").alias("n_events"),
                    F.lit(6).cast("int").alias("df"),
                    (F.round("chi2raw", 6) + 0.0).alias("chi2")))


@register("ks_logistic_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cnt) AS BIGINT) AS s,
           CAST(sum(cnt * cnt) AS BIGINT) AS q
    FROM daily
),
grid AS (
    SELECT cnt AS v, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(count(*)) OVER (ORDER BY cnt) AS BIGINT) AS cum
    FROM daily GROUP BY cnt
),
fit AS (
    SELECT n, CAST(s AS DOUBLE) / n AS mu,
           CASE WHEN n * q - s * s <= 0 THEN NULL
                ELSE (sqrt(CAST(n * q - s * s AS DOUBLE)) / n)
                     * sqrt(3.0) / pi() END AS sc
    FROM mom
),
dvals AS (
    SELECT f.n, f.mu, f.sc,
           greatest(
               abs(CAST(g.cum AS DOUBLE) / f.n
                   - 1.0 / (1.0 + exp(-(CAST(g.v AS DOUBLE) - f.mu)
                                      / f.sc))),
               abs(CAST(g.cum - g.m AS DOUBLE) / f.n
                   - 1.0 / (1.0 + exp(-(CAST(g.v AS DOUBLE) - f.mu)
                                      / f.sc)))) AS d
    FROM grid g CROSS JOIN fit f
)
SELECT n AS n_days, {round_sql('mu')} + 0.0 AS mu,
       {round_sql('sc')} + 0.0 AS scale,
       {round_sql('max(d)')} + 0.0 AS ks_d
FROM dvals GROUP BY n, mu, sc
""")
def ks_logistic_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov distance between the daily-count ECDF and a
    logistic CDF fitted by moments (mu = mean, scale = sd*sqrt(3)/pi).
    Exact integer moments; ECDF from cumulative counts over the
    bounded value grid; D uses both ECDF one-sided gaps."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    mom = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("cnt").cast("long").alias("s"),
                    F.sum(F.col("cnt") * F.col("cnt")).cast("long")
                    .alias("q"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    grid = (daily.groupBy(F.col("cnt").alias("v"))
            .agg(F.count("*").cast("long").alias("m"))
            .withColumn("cum", F.sum("m").over(wv).cast("long")))
    nd = F.col("n").cast("double")
    varnum = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    fit = mom.select(
        "n", (F.col("s").cast("double") / nd).alias("mu"),
        F.when(varnum <= 0, F.lit(None).cast("double"))
        .otherwise((F.sqrt(varnum.cast("double")) / nd)
                   * F.sqrt(F.lit(3.0)) / F.lit(math.pi)).alias("sc"))
    fv = 1.0 / (1.0 + F.exp(-(F.col("v").cast("double") - F.col("mu"))
                            / F.col("sc")))
    d = F.greatest(
        F.abs(F.col("cum").cast("double") / F.col("n") - fv),
        F.abs((F.col("cum") - F.col("m")).cast("double")
              / F.col("n") - fv))
    return (grid.crossJoin(F.broadcast(fit))
            .groupBy("n", "mu", "sc")
            .agg(F.max(d).alias("draw"))
            .select(F.col("n").alias("n_days"),
                    (F.round("mu", 6) + 0.0).alias("mu"),
                    (F.round("sc", 6) + 0.0).alias("scale"),
                    (F.round("draw", 6) + 0.0).alias("ks_d")))


@register("hodges_lehmann_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
walsh AS (
    SELECT a.cnt + b.cnt AS s
    FROM daily a JOIN daily b ON a.t <= b.t
),
bys AS (
    SELECT s, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(count(*)) OVER (ORDER BY s) AS BIGINT) AS cum
    FROM walsh GROUP BY s
),
m AS (SELECT CAST(sum(c) AS BIGINT) AS m,
             (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days
      FROM bys),
sel AS (
    SELECT m.n_days, m.m,
           min(CASE WHEN cum >= (m.m + 1) // 2 THEN s END) AS s_lo,
           min(CASE WHEN cum >= (m.m + 2) // 2 THEN s END) AS s_hi
    FROM bys CROSS JOIN m GROUP BY m.n_days, m.m
)
SELECT n_days, m AS n_pairs,
       {round_sql('CAST(s_lo + s_hi AS DOUBLE) / 4.0')}
         + 0.0 AS hl_estimate
FROM sel
""")
def hodges_lehmann_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of daily counts: the median of
    all d(d+1)/2 Walsh averages (x_i+x_j)/2, i <= j. Walsh sums stay
    INTEGER (2x units); the median is an exact cumulative-count
    selection — the only division is the final /4."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("ca"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("cb"))
    walsh = (a.join(F.broadcast(b), F.col("ta") <= F.col("tb"))
             .select((F.col("ca") + F.col("cb")).alias("s")))
    ws = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    bys = (walsh.groupBy("s").agg(F.count("*").cast("long").alias("c"))
           .withColumn("cum", F.sum("c").over(ws).cast("long")))
    nd = daily.agg(F.count("*").cast("long").alias("n_days"))
    m = (bys.agg(F.sum("c").cast("long").alias("m"))
         .crossJoin(F.broadcast(nd)))
    sel = (bys.crossJoin(F.broadcast(m))
           .groupBy("n_days", "m")
           .agg(F.min(F.when(F.col("cum") >= F.expr("(m + 1) DIV 2"),
                             F.col("s"))).alias("s_lo"),
                F.min(F.when(F.col("cum") >= F.expr("(m + 2) DIV 2"),
                             F.col("s"))).alias("s_hi")))
    return sel.select(
        "n_days", F.col("m").alias("n_pairs"),
        (F.round((F.col("s_lo") + F.col("s_hi")).cast("double")
                 / 4.0, 6) + 0.0).alias("hl_estimate"))



@register("biweight_midvariance_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
grid AS (
    SELECT cnt AS v, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(count(*)) OVER (ORDER BY cnt) AS BIGINT) AS cum
    FROM daily GROUP BY cnt
),
n1 AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM grid),
med AS (
    SELECT min(CASE WHEN cum >= (n1.n + 1) // 2 THEN v END)
           + min(CASE WHEN cum >= (n1.n + 2) // 2 THEN v END) AS m2
    FROM grid CROSS JOIN n1 GROUP BY n1.n
),
dev AS (
    SELECT abs(2 * g.v - med.m2) AS dv, CAST(sum(g.m) AS BIGINT) AS c
    FROM grid g CROSS JOIN med GROUP BY 1
),
devc AS (
    SELECT dv, CAST(sum(c) OVER (ORDER BY dv) AS BIGINT) AS cum
    FROM dev
),
mad AS (
    SELECT min(CASE WHEN cum >= (n1.n + 1) // 2 THEN dv END)
           + min(CASE WHEN cum >= (n1.n + 2) // 2 THEN dv END) AS mad4
    FROM devc CROSS JOIN n1 GROUP BY n1.n
),
terms AS (
    SELECT g.v,
           CASE WHEN abs(2.0 * (2 * g.v - med.m2)
                         / (9.0 * mad.mad4)) < 1.0
                THEN g.m * (CAST((2 * g.v - med.m2)
                                 * (2 * g.v - med.m2) AS DOUBLE) / 4.0)
                     * pow(1.0 - pow(2.0 * (2 * g.v - med.m2)
                                     / (9.0 * mad.mad4), 2), 4)
                ELSE 0.0 END AS nt,
           CASE WHEN abs(2.0 * (2 * g.v - med.m2)
                         / (9.0 * mad.mad4)) < 1.0
                THEN g.m * (1.0 - pow(2.0 * (2 * g.v - med.m2)
                                      / (9.0 * mad.mad4), 2))
                     * (1.0 - 5.0 * pow(2.0 * (2 * g.v - med.m2)
                                        / (9.0 * mad.mad4), 2))
                ELSE 0.0 END AS dt
    FROM grid g CROSS JOIN med CROSS JOIN mad
    WHERE mad.mad4 > 0
)
SELECT n1.n AS n_days,
       {round_sql('CAST(med.m2 AS DOUBLE) / 2.0')} + 0.0 AS median,
       {round_sql('CAST(mad.mad4 AS DOUBLE) / 4.0')} + 0.0 AS mad,
       CASE WHEN mad.mad4 = 0 THEN NULL
            ELSE {round_sql(f'n1.n * ({ordered_sum_sql("nt", "v")})'
                            f' / (({ordered_sum_sql("dt", "v")})'
                            f' * ({ordered_sum_sql("dt", "v")}))')} + 0.0
       END AS biweight_midvar
FROM n1 CROSS JOIN med CROSS JOIN mad LEFT JOIN terms ON TRUE
GROUP BY n1.n, med.m2, mad.mad4
""")
def biweight_midvariance_daily(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Tukey biweight midvariance of daily counts. Median and MAD are
    exact integer cumulative-count selections (2x / 4x units); u
    weights and the two folds are shared-spelling doubles over the
    bounded value grid, folded in value order."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    grid = (daily.groupBy(F.col("cnt").alias("v"))
            .agg(F.count("*").cast("long").alias("m"))
            .withColumn("cum", F.sum("m").over(wv).cast("long"))
            .localCheckpoint(eager=False))
    n1 = grid.agg(F.sum("m").cast("long").alias("n"))
    med = (grid.crossJoin(F.broadcast(n1)).groupBy("n")
           .agg((F.min(F.when(F.col("cum")
                              >= F.expr("(n + 1) DIV 2"), F.col("v")))
                 + F.min(F.when(F.col("cum")
                                >= F.expr("(n + 2) DIV 2"),
                                F.col("v")))).alias("m2"))
           .select("m2"))
    dev = (grid.crossJoin(F.broadcast(med))
           .groupBy(F.abs(2 * F.col("v") - F.col("m2")).alias("dv"))
           .agg(F.sum("m").cast("long").alias("c")))
    wd = Window.orderBy("dv").rowsBetween(Window.unboundedPreceding, 0)
    devc = dev.withColumn("cum", F.sum("c").over(wd).cast("long"))
    mad = (devc.crossJoin(F.broadcast(n1)).groupBy("n")
           .agg((F.min(F.when(F.col("cum")
                              >= F.expr("(n + 1) DIV 2"), F.col("dv")))
                 + F.min(F.when(F.col("cum")
                                >= F.expr("(n + 2) DIV 2"),
                                F.col("dv")))).alias("mad4"))
           .select("mad4"))
    base = (grid.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(mad))
            .crossJoin(F.broadcast(n1)))
    dd = (2 * F.col("v") - F.col("m2"))
    u = 2.0 * dd / (9.0 * F.col("mad4"))
    inb = F.abs(u) < 1.0
    nt = F.when(inb & (F.col("mad4") > 0),
                F.col("m") * ((dd * dd).cast("double") / 4.0)
                * F.pow(1.0 - u * u, 4)).otherwise(F.lit(0.0))
    dt = F.when(inb & (F.col("mad4") > 0),
                F.col("m") * (1.0 - u * u)
                * (1.0 - 5.0 * u * u)).otherwise(F.lit(0.0))
    folded = (base.select("n", "m2", "mad4", "v",
                          nt.alias("nt"), dt.alias("dt"))
              .groupBy("n", "m2", "mad4")
              .agg(ordered_sum("nt", "v").alias("sn"),
                   ordered_sum("dt", "v").alias("sd")))
    return folded.select(
        F.col("n").alias("n_days"),
        (F.round(F.col("m2").cast("double") / 2.0, 6) + 0.0)
        .alias("median"),
        (F.round(F.col("mad4").cast("double") / 4.0, 6) + 0.0)
        .alias("mad"),
        F.when(F.col("mad4") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("n") * F.col("sn")
                           / (F.col("sd") * F.col("sd")), 6) + 0.0)
        .alias("biweight_midvar"))


@register("quartile_skew_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
grid AS (
    SELECT cnt AS v, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(count(*)) OVER (ORDER BY cnt) AS BIGINT) AS cum
    FROM daily GROUP BY cnt
),
n1 AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM grid),
qs AS (
    SELECT n1.n,
           min(CASE WHEN cum >= (1 * n1.n + 3) // 4 THEN v END)
           + min(CASE WHEN cum >= least((1 * n1.n) // 4 + 1, n1.n)
                      THEN v END) AS q1_2,
           min(CASE WHEN cum >= (2 * n1.n + 3) // 4 THEN v END)
           + min(CASE WHEN cum >= least((2 * n1.n) // 4 + 1, n1.n)
                      THEN v END) AS q2_2,
           min(CASE WHEN cum >= (3 * n1.n + 3) // 4 THEN v END)
           + min(CASE WHEN cum >= least((3 * n1.n) // 4 + 1, n1.n)
                      THEN v END) AS q3_2
    FROM grid CROSS JOIN n1 GROUP BY n1.n
)
SELECT n AS n_days,
       CAST(q1_2 AS DOUBLE) / 2.0 AS q1,
       CAST(q2_2 AS DOUBLE) / 2.0 AS q2,
       CAST(q3_2 AS DOUBLE) / 2.0 AS q3,
       CASE WHEN q3_2 = q1_2 THEN NULL
            ELSE {round_sql('CAST(q3_2 + q1_2 - 2 * q2_2 AS DOUBLE)'
                            ' / CAST(q3_2 - q1_2 AS DOUBLE)')} + 0.0
       END AS bowley_skew
FROM qs
""")
def quartile_skew_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley quartile skewness of daily counts. Quartiles use the
    dual-rank convention qk = (v@ceil(kn/4) + v@(floor(kn/4)+1))/2 —
    exact integer selections in 2x units; the skew ratio is
    unit-free so no division by 2 ever happens."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    grid = (daily.groupBy(F.col("cnt").alias("v"))
            .agg(F.count("*").cast("long").alias("m"))
            .withColumn("cum", F.sum("m").over(wv).cast("long")))
    n1 = grid.agg(F.sum("m").cast("long").alias("n"))

    def q2x(k: int):
        return (F.min(F.when(
            F.col("cum") >= F.expr(f"({k} * n + 3) DIV 4"),
            F.col("v")))
            + F.min(F.when(
                F.col("cum") >= F.least(
                    F.expr(f"({k} * n) DIV 4") + 1, F.col("n")),
                F.col("v"))))

    qs = (grid.crossJoin(F.broadcast(n1)).groupBy("n")
          .agg(q2x(1).alias("q1_2"), q2x(2).alias("q2_2"),
               q2x(3).alias("q3_2")))
    num = (F.col("q3_2") + F.col("q1_2") - 2 * F.col("q2_2"))
    den = (F.col("q3_2") - F.col("q1_2"))
    return qs.select(
        F.col("n").alias("n_days"),
        (F.col("q1_2").cast("double") / 2.0).alias("q1"),
        (F.col("q2_2").cast("double") / 2.0).alias("q2"),
        (F.col("q3_2").cast("double") / 2.0).alias("q3"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6)
                   + 0.0).alias("bowley_skew"))


@register("runs_up_down_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
diffs AS (
    SELECT t, cnt - lag(cnt) OVER (ORDER BY t) AS d
    FROM daily
),
signs AS (
    SELECT t, CASE WHEN d > 0 THEN 1 ELSE -1 END AS sg
    FROM diffs WHERE d IS NOT NULL AND d <> 0
),
runs AS (
    SELECT t, sg, lag(sg) OVER (ORDER BY t) AS prev
    FROM signs
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(CASE WHEN prev IS NULL OR sg <> prev
                         THEN 1 ELSE 0 END) AS BIGINT) AS r
    FROM runs
)
SELECT m + 1 AS n_obs, r AS n_runs,
       CASE WHEN 16 * (m + 1) - 29 <= 0 THEN NULL
            ELSE {round_sql('(CAST(r AS DOUBLE)'
                            ' - (2.0 * (m + 1) - 1.0) / 3.0)'
                            ' / sqrt((16.0 * (m + 1) - 29.0) / 90.0)')}
                 + 0.0
       END AS z
FROM agg
""")
def runs_up_down_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz up/down runs test on the daily count series:
    maximal blocks of equal DIFFERENCE sign (ties dropped) vs the
    exact randomness moments E = (2n-1)/3, V = (16n-29)/90 — the
    trend-sensitive sibling of runs_test_daily (which tests runs
    around the median; the two tests have different null moments
    and catch different departures)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    wt = Window.orderBy("t")
    diffs = daily.select(
        "t", (F.col("cnt") - F.lag("cnt").over(wt)).alias("d"))
    signs = (diffs.filter(F.col("d").isNotNull() & (F.col("d") != 0))
             .select("t", F.when(F.col("d") > 0, 1).otherwise(-1)
                     .alias("sg")))
    runs = signs.select("sg", F.lag("sg").over(wt).alias("prev"))
    agg = runs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.when(F.col("prev").isNull()
                     | (F.col("sg") != F.col("prev")), 1)
              .otherwise(0)).cast("long").alias("r"))
    nobs = F.col("m") + 1
    e = (2.0 * nobs - 1.0) / 3.0
    v = (16.0 * nobs - 29.0) / 90.0
    return agg.select(
        nobs.alias("n_obs"), F.col("r").alias("n_runs"),
        F.when(16 * nobs - 29 <= 0, F.lit(None).cast("double"))
        .otherwise(F.round((F.col("r").cast("double") - e)
                           / F.sqrt(v), 6) + 0.0).alias("z"))


# ---------------------------------------------------------------------------
# Batch C — forecast evaluation over the daily grid.
#
# MASE and max-drawdown are INTEGER arithmetic until the final
# division (lag diffs, prefix sums, running maxes of n*P_i - i*S);
# the theta method's SES is the one inherent recurrence — an
# order-pinned fold with the identical IEEE op sequence on both
# engines (the ewma_values_per_user discipline, incl. its oracle
# rounding spelling).
# ---------------------------------------------------------------------------

_THETA_ALPHA = 0.3
_THETA_H = 7


@register("theta_method_forecast", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS BIGINT) AS st,
           CAST(sum(cnt) AS BIGINT) AS sy,
           CAST(sum(t * cnt) AS BIGINT) AS sty,
           CAST(sum(t * t) AS BIGINT) AS stt,
           CAST(max(t) AS BIGINT) AS tmax
    FROM daily
),
fit AS (
    SELECT n, tmax,
           CAST(n * sty - st * sy AS DOUBLE)
             / CAST(n * stt - st * st AS DOUBLE) AS b,
           (CAST(sy AS DOUBLE)
            - CAST(n * sty - st * sy AS DOUBLE)
              / CAST(n * stt - st * st AS DOUBLE) * st) / n AS a
    FROM mom
),
lvl AS (
    SELECT list_reduce(
               list(2.0 * d.cnt - (f.a + f.b * d.t) ORDER BY d.t),
               (acc, x) -> {_THETA_ALPHA} * x
                           + {1.0 - _THETA_ALPHA} * acc) AS l,
           f.n, f.tmax, f.a, f.b
    FROM daily d CROSS JOIN fit f
    GROUP BY f.n, f.tmax, f.a, f.b
)
SELECT CAST(h.h AS INT) AS h, n AS n_days,
       {round_sql('0.5 * l + 0.5 * (a + b * (tmax + h.h))')}
         + 0.0 AS forecast
FROM lvl CROSS JOIN (SELECT unnest(generate_series(1, {_THETA_H}))
                     AS h) h
ORDER BY h
""")
def theta_method_forecast(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Theta-method forecast (theta=2) of daily counts, h=1..7:
    0.5 * SES(theta line, alpha=0.3) + 0.5 * trend extrapolation.
    Trend from exact integer moments; the SES fold is order-pinned
    by day with the identical recurrence on both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("cnt").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("cnt")).cast("long").alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.max("t").cast("long").alias("tmax"))
    bnum = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
    bden = (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
    b = bnum.cast("double") / bden.cast("double")
    fit = mom.select(
        "n", "tmax", b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n"))
        .alias("a"))
    v = (2.0 * F.col("cnt")
         - (F.col("a") + F.col("b") * F.col("t")))
    lvl = (daily.crossJoin(F.broadcast(fit))
           .groupBy("n", "tmax", "a", "b")
           .agg(F.aggregate(
               F.slice(F.array_sort(F.collect_list(
                   F.struct("t", v.alias("v")))), 2, 1_000_000),
               F.element_at(F.array_sort(F.collect_list(
                   F.struct("t", v.alias("v")))), 1)["v"],
               lambda acc, x: F.lit(_THETA_ALPHA) * x["v"]
               + F.lit(1.0 - _THETA_ALPHA) * acc).alias("l")))
    hs = lvl.select(
        "n", "tmax", "a", "b", "l",
        F.explode(F.sequence(F.lit(1), F.lit(_THETA_H))).alias("h"))
    return (hs.select(
        F.col("h").cast("int").alias("h"),
        F.col("n").alias("n_days"),
        (F.round(0.5 * F.col("l")
                 + 0.5 * (F.col("a")
                          + F.col("b") * (F.col("tmax") + F.col("h"))),
                 6) + 0.0).alias("forecast"))
        .orderBy("h"))


@register("mase_seasonal_naive", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
l7 AS (
    SELECT CAST(count(*) AS BIGINT) AS m7,
           CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS e7
    FROM daily a JOIN daily b ON a.t = b.t + 7
),
l1 AS (
    SELECT CAST(count(*) AS BIGINT) AS m1,
           CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS e1
    FROM daily a JOIN daily b ON a.t = b.t + 1
)
SELECT m7, m1,
       {round_sql('CAST(e7 AS DOUBLE) / m7')} + 0.0 AS mae_seasonal,
       {round_sql('CAST(e1 AS DOUBLE) / m1')} + 0.0 AS mae_naive,
       CASE WHEN e1 = 0 THEN NULL
            ELSE {round_sql('(CAST(e7 AS DOUBLE) / m7)'
                            ' / (CAST(e1 AS DOUBLE) / m1)')} + 0.0
       END AS mase
FROM l7 CROSS JOIN l1
""")
def mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the seasonal-naive (lag-7) forecast against the lag-1
    naive baseline on daily counts — pure integer absolute-error
    sums via equi-joins on the bounded grid; one double expression."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)

    def lagged(k: int, mcol: str, ecol: str):
        a = daily.select(F.col("t").alias("ta"),
                         F.col("cnt").alias("ca"))
        b = daily.select(F.col("t").alias("tb"),
                         F.col("cnt").alias("cb"))
        return (a.join(b, F.col("ta") == F.col("tb") + k)
                .agg(F.count("*").cast("long").alias(mcol),
                     F.sum(F.abs(F.col("ca") - F.col("cb")))
                     .cast("long").alias(ecol)))

    j = lagged(7, "m7", "e7").crossJoin(F.broadcast(lagged(1, "m1", "e1")))
    mae7 = F.col("e7").cast("double") / F.col("m7")
    mae1 = F.col("e1").cast("double") / F.col("m1")
    return j.select(
        "m7", "m1",
        (F.round(mae7, 6) + 0.0).alias("mae_seasonal"),
        (F.round(mae1, 6) + 0.0).alias("mae_naive"),
        F.when(F.col("e1") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(mae7 / mae1, 6) + 0.0).alias("mase"))


@register("ma7_decomposition_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
win AS (
    SELECT t, cnt,
           CAST(sum(cnt) OVER (ORDER BY t
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
             AS wsum,
           CAST(count(*) OVER (ORDER BY t
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
             AS wcnt
    FROM daily
)
SELECT ((t % 7) + 7) % 7 AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       {round_sql('CAST(sum(7 * cnt - wsum) AS DOUBLE)'
                  ' / (7.0 * count(*))')} + 0.0 AS seasonal_idx
FROM win WHERE wcnt = 7
GROUP BY 1 ORDER BY 1
""")
def ma7_decomposition_daily(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Centered MA(7) decomposition of daily counts: per-day-of-week
    seasonal index = mean of (y - MA7) over full windows. The
    detrended numerator 7y - window_sum stays INTEGER; one double
    division per dow row."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    w = Window.orderBy("t").rowsBetween(-3, 3)
    win = daily.select(
        "t", "cnt",
        F.sum("cnt").over(w).cast("long").alias("wsum"),
        F.count("*").over(w).cast("long").alias("wcnt"))
    return (win.filter(F.col("wcnt") == 7)
            .groupBy(F.pmod(F.col("t"), F.lit(7)).alias("dow"))
            .agg(F.count("*").cast("long").alias("n_days"),
                 (F.round(F.sum(7 * F.col("cnt") - F.col("wsum"))
                          .cast("double") / (7.0 * F.count("*")), 6)
                  + 0.0).alias("seasonal_idx"))
            .orderBy("dow"))


@register("max_drawdown_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cnt) AS BIGINT) AS s
    FROM daily
),
pre AS (
    SELECT t, row_number() OVER (ORDER BY t) AS i,
           CAST(sum(cnt) OVER (ORDER BY t) AS BIGINT) AS p
    FROM daily
),
dev AS (
    SELECT t, m.n, m.s, m.n * p - i * m.s AS a
    FROM pre CROSS JOIN mom m
),
dd AS (
    SELECT t, n,
           CAST(max(a) OVER (ORDER BY t) - a AS BIGINT) AS d
    FROM dev
),
mx AS (SELECT CAST(max(d) AS BIGINT) AS dmax FROM dd)
SELECT d0.n AS n_days,
       {round_sql('CAST(mx.dmax AS DOUBLE) / d0.n')}
         + 0.0 AS max_drawdown,
       CAST(min(d0.t) AS BIGINT) AS trough_day
FROM dd d0 CROSS JOIN mx WHERE d0.d = mx.dmax
GROUP BY d0.n, mx.dmax
""")
def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the mean-centered cumulative daily count
    path: A_i = n*P_i - i*S (INTEGER — the centered cumsum scaled by
    n), drawdown = running_max(A) - A, all exact; the only double is
    the final /n. Trough day reported with a min-t tie-break."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    mom = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("cnt").cast("long").alias("s"))
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "t", F.row_number().over(Window.orderBy("t")).alias("i"),
        F.sum("cnt").over(wt).cast("long").alias("p"))
    dev = (pre.crossJoin(F.broadcast(mom))
           .select("t", "n",
                   (F.col("n") * F.col("p")
                    - F.col("i") * F.col("s")).alias("a")))
    dd = dev.select(
        "t", "n",
        (F.max("a").over(wt) - F.col("a")).cast("long").alias("d"))
    mx = dd.agg(F.max("d").cast("long").alias("dmax"))
    return (dd.crossJoin(F.broadcast(mx))
            .filter(F.col("d") == F.col("dmax"))
            .groupBy("n", "dmax")
            .agg(F.min("t").cast("long").alias("trough_day"))
            .select(F.col("n").alias("n_days"),
                    (F.round(F.col("dmax").cast("double")
                             / F.col("n"), 6) + 0.0)
                    .alias("max_drawdown"),
                    "trough_day"))


# ---------------------------------------------------------------------------
# Batch D — IR / ranking metrics + DDSketch mergeable quantiles.
# ---------------------------------------------------------------------------

_RBP_K = 50
_RBP_PS = (0.5, 0.8, 0.95)


def _rbp_oracle() -> str:
    ps = ", ".join(str(p) for p in _RBP_PS)
    return f"""
WITH top AS (
    SELECT lang, row_number() OVER (ORDER BY n_chars DESC, doc_id)
             AS rnk
    FROM documents
    ORDER BY n_chars DESC, doc_id LIMIT {_RBP_K}
),
ps AS (SELECT unnest([{ps}]) AS p)
SELECT ps.p AS p,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rel,
       {round_sql("(1.0 - ps.p) * " + ordered_sum_sql(
           "CASE WHEN lang = 'en' THEN pow(ps.p, rnk - 1) ELSE 0.0 END",
           "rnk"))}
         + 0.0 AS rbp
FROM top CROSS JOIN ps GROUP BY ps.p ORDER BY ps.p
"""


@register("rbp_relevance_curve", lambda: _rbp_oracle())
def rbp_relevance_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased precision (Moffat & Zobel 2008) of the
    length-ranked top-50 docs with lang='en' as relevance, at
    persistence p in {0.5, 0.8, 0.95}. Top-k is TakeOrdered; the
    50-term geometric sum folds in rank order."""
    docs = load_table(spark, sf_dir, "documents")
    top = (docs.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
           .limit(_RBP_K)
           .withColumn("rnk", F.row_number().over(
               Window.orderBy(F.col("n_chars").desc(),
                              F.col("doc_id").asc()))))
    ps = spark.range(len(_RBP_PS)).select(
        F.element_at(F.array(*[F.lit(p) for p in _RBP_PS]),
                     (F.col("id") + 1).cast("int")).alias("p"))
    term = F.when(F.col("lang") == "en",
                  F.pow(F.col("p"), F.col("rnk") - 1)).otherwise(0.0)
    return (top.crossJoin(F.broadcast(ps))
            .groupBy("p")
            .agg(F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                 .cast("long").alias("n_rel"),
                 ordered_sum(term, "rnk").alias("s"))
            .select("p", "n_rel",
                    (F.round((1.0 - F.col("p")) * F.col("s"), 6) + 0.0)
                    .alias("rbp"))
            .orderBy("p"))


@register("spearman_footrule_nations", f"""
WITH r1 AS (
    SELECT n.n_name,
           row_number() OVER (
               ORDER BY CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2)))
                             AS DECIMAL(28,2)) DESC, n.n_name) AS ra
    FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
),
r2 AS (
    SELECT n.n_name,
           row_number() OVER (ORDER BY count(*) DESC, n.n_name) AS rb
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
)
SELECT CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(abs(ra - rb)) AS BIGINT) AS footrule,
       {round_sql('CAST(sum(abs(ra - rb)) AS DOUBLE)'
                  ' / ((count(*) * count(*)) // 2)')}
         + 0.0 AS footrule_norm
FROM r1 JOIN r2 USING (n_name)
""")
def spearman_footrule_nations(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Spearman footrule distance between two 25-nation rankings
    (by supplier balance vs by customer count): sum |r1 - r2|,
    normalized by the max floor(n^2/2). Money ranks on DECIMAL sums;
    integer throughout."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    r1 = (nation.join(supp, supp.s_nationkey == nation.n_nationkey)
          .groupBy("n_name")
          .agg(F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
               .cast("decimal(28,2)").alias("bal"))
          .withColumn("ra", F.row_number().over(
              Window.orderBy(F.col("bal").desc(), F.col("n_name"))))
          .select("n_name", "ra"))
    r2 = (nation.join(cust, cust.c_nationkey == nation.n_nationkey)
          .groupBy("n_name").agg(F.count("*").alias("nc"))
          .withColumn("rb", F.row_number().over(
              Window.orderBy(F.col("nc").desc(), F.col("n_name"))))
          .select("n_name", "rb"))
    j = r1.join(r2, "n_name")
    return j.agg(
        F.count("*").cast("long").alias("n_nations"),
        F.sum(F.abs(F.col("ra") - F.col("rb"))).cast("long")
        .alias("footrule"),
        (F.round(F.sum(F.abs(F.col("ra") - F.col("rb")))
                 .cast("double")
                 / F.expr("(count(*) * count(*)) DIV 2"), 6) + 0.0)
        .alias("footrule_norm"))


_DDS_GAMMA = 1.02
# 1/ln(gamma) as a Python-computed double literal, inlined on BOTH
# engines (multiply, never divide by a runtime ln(gamma)): DuckDB's
# libm and the JVM's Math.log can disagree by 1 ulp on ln(1.02), and
# at a bucket boundary that flips ceil() and shifts a count between
# adjacent buckets — the _BENFORD2_P discipline (ADVICE r13).
_DDS_INV_LN_GAMMA = 1.0 / math.log(_DDS_GAMMA)
_DDS_SHARDS = 32
_DDS_QS = (0.5, 0.95, 0.99)


def _dds_oracle() -> str:
    qs = ", ".join(str(q) for q in _DDS_QS)
    return f"""
WITH pts AS (
    SELECT {md5_long_sql('CAST(o_orderkey AS VARCHAR)')}
             % {_DDS_SHARDS} AS shard,
           CAST(ceil(ln(o_totalprice) * {_DDS_INV_LN_GAMMA!r})
                AS BIGINT) AS b
    FROM orders WHERE o_totalprice > 0
),
shardsum AS (
    SELECT shard, b, CAST(count(*) AS BIGINT) AS c
    FROM pts GROUP BY shard, b
),
merged AS (
    SELECT b, CAST(sum(c) AS BIGINT) AS c FROM shardsum GROUP BY b
),
cum AS (
    SELECT b, c, CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cb,
           CAST(sum(c) OVER () AS BIGINT) AS n
    FROM merged
),
qs AS (SELECT unnest([{qs}]) AS q)
SELECT qs.q AS q,
       CAST(min(CASE WHEN cb >= greatest(
                CAST(ceil(qs.q * n) AS BIGINT), 1) THEN b END)
            AS BIGINT) AS bucket,
       {round_sql('2.0 * pow(' + str(_DDS_GAMMA) + ', '
                  'min(CASE WHEN cb >= greatest('
                  'CAST(ceil(qs.q * n) AS BIGINT), 1) THEN b END))'
                  ' / (1.0 + ' + str(_DDS_GAMMA) + ')')}
         + 0.0 AS est,
       {round_sql(f'({_DDS_GAMMA} - 1.0) / ({_DDS_GAMMA} + 1.0)')}
         + 0.0 AS rel_err_bound,
       CAST(max(n) AS BIGINT) AS n
FROM cum CROSS JOIN qs GROUP BY qs.q ORDER BY qs.q
"""


@register("ddsketch_quantiles", lambda: _dds_oracle())
def ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantiles (Masson et al. 2019, public) of order
    totals at gamma=1.02: log buckets with CONSTANT per-shard state,
    associative merge (32 md5 shards -> global bucket sum), and the
    guaranteed (gamma-1)/(gamma+1) relative-error bound reported per
    readout. The mergeable-summary shape — SpaceSaving's quantile
    sibling."""
    orders = load_table(spark, sf_dir, "orders")
    pts = (orders.filter(F.col("o_totalprice") > 0)
           .select(F.pmod(md5_long(F.col("o_orderkey").cast("string")),
                          F.lit(_DDS_SHARDS)).alias("shard"),
                   F.col("o_totalprice").alias("v")))
    return ddsketch_from_values(spark, pts)


def ddsketch_from_values(spark: SparkSession,
                         pts: DataFrame) -> DataFrame:
    """DDSketch body over (shard, v) rows — the
    spacesaving_from_keys-style stress seam (v > 0 required; shard
    is the mergeable-summary partition key). Per-shard bucket counts
    are CONSTANT-size state; the merge is one associative sum."""
    lg = F.lit(float(_DDS_GAMMA))
    pts = pts.select("shard",
                     F.ceil(F.log(F.col("v"))
                            * F.lit(_DDS_INV_LN_GAMMA))
                     .cast("long").alias("b"))
    shardsum = (pts.groupBy("shard", "b")
                .agg(F.count("*").cast("long").alias("c")))
    merged = shardsum.groupBy("b").agg(F.sum("c").cast("long").alias("c"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("b").rowsBetween(Window.unboundedPreceding,
                                           Window.unboundedFollowing)
    cum = merged.select(
        "b", "c",
        F.sum("c").over(wb).cast("long").alias("cb"),
        F.sum("c").over(wall).cast("long").alias("n"))
    qs = spark.range(len(_DDS_QS)).select(
        F.element_at(F.array(*[F.lit(q) for q in _DDS_QS]),
                     (F.col("id") + 1).cast("int")).alias("q"))
    rank = F.greatest(F.ceil(F.col("q") * F.col("n")).cast("long"),
                      F.lit(1))
    sel_b = F.min(F.when(F.col("cb") >= rank, F.col("b")))
    return (cum.crossJoin(F.broadcast(qs))
            .groupBy("q")
            .agg(sel_b.cast("long").alias("bucket"),
                 F.max("n").cast("long").alias("n"))
            .select("q", "bucket",
                    (F.round(2.0 * F.pow(lg, F.col("bucket"))
                             / (1.0 + lg), 6) + 0.0).alias("est"),
                    (F.round((lg - 1.0) / (lg + 1.0), 6) + 0.0)
                    .alias("rel_err_bound"),
                    "n")
            .orderBy("q"))


# ---------------------------------------------------------------------------
# Batch E — SQL-surface parity suites: each pins a Spark API surface
# (map HOFs, table-valued generators, bitwise/boolean aggregates,
# regexp surface, date-edge arithmetic) to the equivalent ANSI
# semantics the DuckDB oracle reproduces relationally.
# ---------------------------------------------------------------------------

@register("map_hof_suite", """
WITH counts AS (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
    FROM events WHERE user_id < 20
    GROUP BY user_id, event_type
)
SELECT user_id, upper(event_type) AS etype, c AS cnt,
       c * 10 AS cnt_scaled
FROM counts WHERE c >= 2
ORDER BY user_id, etype
""")
def map_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order-function suite: per low-id user, build the
    event_type->count map (map_from_entries), map_filter(v >= 2),
    transform_keys(upper), transform_values(*10), then explode
    map_entries back to rows. The oracle reproduces the same result
    relationally — the suite pins the map surface's semantics."""
    ev = load_table(spark, sf_dir, "events")
    counts = (ev.filter(F.col("user_id") < 20)
              .groupBy("user_id", "event_type")
              .agg(F.count("*").cast("long").alias("c")))
    mapped = (counts.groupBy("user_id")
              .agg(F.map_from_entries(
                  F.array_sort(F.collect_list(
                      F.struct("event_type", "c")))).alias("m")))
    filt = F.map_filter(F.col("m"), lambda k, v: v >= 2)
    keyed = F.transform_keys(filt, lambda k, v: F.upper(k))
    scaled = F.transform_values(keyed, lambda k, v: v * 10)
    # zip the filtered (original counts) with the scaled map to carry
    # both readouts through one explode
    zipped = F.map_zip_with(
        F.transform_keys(filt, lambda k, v: F.upper(k)), scaled,
        lambda k, v1, v2: F.struct(v1.alias("cnt"),
                                   v2.alias("cnt_scaled")))
    return (mapped.select("user_id",
                          F.explode(F.map_entries(zipped)).alias("e"))
            .select("user_id", F.col("e.key").alias("etype"),
                    F.col("e.value.cnt").alias("cnt"),
                    F.col("e.value.cnt_scaled").alias("cnt_scaled"))
            .orderBy("user_id", "etype"))


@register("tvf_explode_suite", """
WITH nat AS (
    SELECT n.n_nationkey, n.n_name,
           (SELECT count(*) FROM supplier s
            WHERE s.s_nationkey = n.n_nationkey) AS ns,
           (SELECT count(*) FROM customer c
            WHERE c.c_nationkey = n.n_nationkey) AS nc
    FROM nation n WHERE n.n_nationkey < 5
),
stacked AS (
    SELECT n_name, 'stack' AS src, 'suppliers' AS k,
           CAST(ns AS BIGINT) AS v FROM nat
    UNION ALL
    SELECT n_name, 'stack', 'customers', CAST(nc AS BIGINT) FROM nat
),
pexp AS (
    SELECT n.n_name, 'posexplode_outer' AS src,
           'pos' || CAST(s.i - 1 AS VARCHAR) AS k,
           CAST(s.i AS BIGINT) AS v
    FROM nat n, unnest(generate_series(1, least(n.ns, 3))) AS s(i)
    WHERE n.ns > 0
    UNION ALL
    SELECT n_name, 'posexplode_outer', NULL, NULL
    FROM nat WHERE ns = 0
),
inl AS (
    SELECT n_name, 'inline' AS src, 'ns_plus_nc' AS k,
           CAST(ns + nc AS BIGINT) AS v FROM nat
    UNION ALL
    SELECT n_name, 'inline', 'ns_times_2', CAST(ns * 2 AS BIGINT)
    FROM nat
)
SELECT * FROM stacked
UNION ALL SELECT * FROM pexp
UNION ALL SELECT * FROM inl
ORDER BY n_name, src, k
""")
def tvf_explode_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued generator suite: stack(), posexplode_outer()
    (with a NULL row for the empty-array case), and inline() over
    arrays of structs — unioned into one (name, src, k, v) relation
    the oracle reproduces with UNION ALL + unnest."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    ns = (supp.groupBy(F.col("s_nationkey").alias("nk"))
          .agg(F.count("*").alias("ns")))
    nc = (cust.groupBy(F.col("c_nationkey").alias("nk"))
          .agg(F.count("*").alias("nc")))
    nat = (nation.filter(F.col("n_nationkey") < 5)
           .join(ns, nation.n_nationkey == ns.nk, "left")
           .join(nc, nation.n_nationkey == nc.nk, "left")
           .select("n_name",
                   F.coalesce("ns", F.lit(0)).cast("long").alias("ns"),
                   F.coalesce("nc", F.lit(0)).cast("long")
                   .alias("nc")))
    stacked = nat.select(
        "n_name",
        F.expr("stack(2, 'suppliers', ns, 'customers', nc)")
        .alias("k", "v")).select(
        "n_name", F.lit("stack").alias("src"), "k",
        F.col("v").cast("long").alias("v"))
    arr = F.when(F.col("ns") > 0,
                 F.sequence(F.lit(1).cast("long"),
                            F.least(F.col("ns"), F.lit(3).cast("long"))))
    pexp = (nat.select("n_name",
                       F.posexplode_outer(arr).alias("pos", "el"))
            .select("n_name", F.lit("posexplode_outer").alias("src"),
                    F.when(F.col("pos").isNotNull(),
                           F.concat(F.lit("pos"),
                                    F.col("pos").cast("string")))
                    .alias("k"),
                    F.col("el").cast("long").alias("v")))
    inl = (nat.select("n_name", F.inline(F.array(
        F.struct(F.lit("ns_plus_nc").alias("k"),
                 (F.col("ns") + F.col("nc")).cast("long").alias("v")),
        F.struct(F.lit("ns_times_2").alias("k"),
                 (F.col("ns") * 2).cast("long").alias("v")))))
        .select("n_name", F.lit("inline").alias("src"), "k", "v"))
    return (stacked.unionAll(pexp).unionAll(inl)
            .orderBy("n_name", "src", "k"))


@register("bitwise_agg_suite", """
SELECT c_nationkey AS nk,
       CAST(bit_and(c_custkey) AS BIGINT) AS band,
       CAST(bit_or(c_custkey) AS BIGINT) AS bor,
       CAST(bit_xor(c_custkey) AS BIGINT) AS bxor,
       CAST(sum(bit_count(CAST(c_custkey AS BIGINT))) AS BIGINT)
         AS popcount_sum,
       CAST(count(*) AS BIGINT) AS n
FROM customer GROUP BY c_nationkey ORDER BY nk
""")
def bitwise_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate suite: bit_and / bit_or / bit_xor of
    customer keys per nation plus the summed population count —
    integer-exact on both engines."""
    cust = load_table(spark, sf_dir, "customer")
    return (cust.groupBy(F.col("c_nationkey").alias("nk"))
            .agg(F.bit_and("c_custkey").cast("long").alias("band"),
                 F.bit_or("c_custkey").cast("long").alias("bor"),
                 F.bit_xor("c_custkey").cast("long").alias("bxor"),
                 F.sum(F.bit_count(F.col("c_custkey"))).cast("long")
                 .alias("popcount_sum"),
                 F.count("*").cast("long").alias("n"))
            .orderBy("nk"))


@register("regexp_surface_suite", r"""
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
         AS digit_runs,
       CAST(sum(len(regexp_extract_all(lower(text), '\bthe\b')))
            AS BIGINT) AS the_count,
       CAST(sum(length(text)
                - length(regexp_replace(text, '[aeiouAEIOU]', '',
                                        'g'))) AS BIGINT) AS vowels
FROM documents GROUP BY source ORDER BY source
""")
def regexp_surface_suite(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Regexp surface suite per source: regexp_count (digit runs and
    \\bthe\\b word hits) and global regexp_replace deletion length —
    integer counts pinning Spark's Java-regex surface to DuckDB RE2
    on patterns where the dialects agree."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count("*").cast("long").alias("docs"),
                 F.sum(F.regexp_count("text", F.lit("[0-9]+")))
                 .cast("long").alias("digit_runs"),
                 F.sum(F.regexp_count(F.lower("text"),
                                      F.lit(r"\bthe\b")))
                 .cast("long").alias("the_count"),
                 F.sum(F.length("text")
                       - F.length(F.regexp_replace(
                           "text", "[aeiouAEIOU]", "")))
                 .cast("long").alias("vowels"))
            .orderBy("source"))


@register("date_edge_suite", """
WITH d AS (SELECT o_orderdate AS dt FROM orders)
SELECT 'month_end_clamp' AS chk,
       CAST(sum(CASE WHEN day(dt + INTERVAL 1 MONTH) <> day(dt)
                     THEN 1 ELSE 0 END) AS BIGINT) AS v
FROM d
UNION ALL
SELECT 'last_day_hits',
       CAST(sum(CASE WHEN CAST(dt AS DATE) = last_day(CAST(dt AS DATE))
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM d
UNION ALL
SELECT 'distinct_weeks',
       CAST(count(DISTINCT date_trunc('week', dt)) AS BIGINT) FROM d
UNION ALL
SELECT 'quarter_starts',
       CAST(sum(CASE WHEN CAST(dt AS DATE)
                          = CAST(date_trunc('quarter', dt) AS DATE)
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM d
ORDER BY chk
""")
def date_edge_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-edge arithmetic suite over order dates: add-month
    month-end clamping, last_day hits, distinct ISO weeks
    (date_trunc 'week' = Monday on both engines), and
    quarter-start days — all integer counts."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(F.col("o_orderdate").alias("dt"))
    clamp = d.agg(F.sum(
        F.when(F.dayofmonth(F.add_months("dt", 1))
               != F.dayofmonth("dt"), 1).otherwise(0))
        .cast("long").alias("v")).select(
        F.lit("month_end_clamp").alias("chk"), "v")
    lday = d.agg(F.sum(
        F.when(F.col("dt").cast("date") == F.last_day("dt"), 1)
        .otherwise(0)).cast("long").alias("v")).select(
        F.lit("last_day_hits").alias("chk"), "v")
    weeks = d.agg(F.countDistinct(F.date_trunc("week", "dt"))
                  .cast("long").alias("v")).select(
        F.lit("distinct_weeks").alias("chk"), "v")
    qstart = d.agg(F.sum(
        F.when(F.col("dt").cast("date")
               == F.date_trunc("quarter", "dt").cast("date"), 1)
        .otherwise(0)).cast("long").alias("v")).select(
        F.lit("quarter_starts").alias("chk"), "v")
    return (clamp.unionAll(lday).unionAll(weeks).unionAll(qstart)
            .orderBy("chk"))


@register("boolean_agg_suite", """
SELECT c_mktsegment AS segment,
       bool_and(c_acctbal > 0) AS all_positive,
       bool_or(c_acctbal < -900) AS any_deep_negative,
       CAST(count(*) FILTER (WHERE c_acctbal > 0) AS BIGINT)
         AS n_positive,
       CAST(count(*) AS BIGINT) AS n
FROM customer GROUP BY c_mktsegment ORDER BY segment
""")
def boolean_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate suite per market segment: bool_and /
    bool_or / count_if — the predicate-aggregate surface."""
    cust = load_table(spark, sf_dir, "customer")
    return (cust.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.bool_and(F.col("c_acctbal") > 0)
                 .alias("all_positive"),
                 F.bool_or(F.col("c_acctbal") < -900)
                 .alias("any_deep_negative"),
                 F.count_if(F.col("c_acctbal") > 0).cast("long")
                 .alias("n_positive"),
                 F.count("*").cast("long").alias("n"))
            .orderBy("segment"))


# ---------------------------------------------------------------------------
# Batch F — LLM-curation text operators.
#
# Every pairing over token positions is LINEAR (the textrank lesson:
# zip-with-tail on the Spark side, lead() on the oracle side); the
# corpus pass is always the one token/char explode; per-doc float
# sums are order-pinned by position; top-k readouts are TakeOrdered.
# ---------------------------------------------------------------------------

_TOK18_SQL = ("list_filter(string_split(trim(regexp_replace(lower(text),"
              " '\\s+', ' ', 'g')), ' '), t -> t <> '')")
_TRI_TOPK = 20


def _trigram_oracle() -> str:
    return f"""
WITH toks AS MATERIALIZED (
    SELECT d.doc_id, d.toks[s.i] AS tok, s.i AS pos
    FROM (SELECT doc_id, {_TOK18_SQL} AS toks FROM documents) d,
         unnest(generate_series(1, len(d.toks))) AS s(i)
),
tri AS MATERIALIZED (
    SELECT doc_id, pos, tok AS w1,
           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
           lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
    FROM toks
    QUALIFY w2 IS NOT NULL AND w3 IS NOT NULL
),
c3 AS (
    SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c FROM tri
    GROUP BY 1, 2, 3
),
c2 AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM tri
    GROUP BY 1, 2
),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM toks),
scored AS (
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
           {ordered_sum_sql("ln((c3.c + 1.0) / (c2.c + vb.v))", "t.pos")} AS lp
    FROM tri t
    JOIN c3 ON c3.w1 = t.w1 AND c3.w2 = t.w2 AND c3.w3 = t.w3
    JOIN c2 ON c2.w1 = t.w1 AND c2.w2 = t.w2
    CROSS JOIN vocab vb
    GROUP BY t.doc_id
)
SELECT doc_id, n_tri,
       {round_sql('lp')} + 0.0 AS ln_prob,
       {round_sql('exp(-lp / n_tri)')} + 0.0 AS perplexity,
       CAST(row_number() OVER (
           ORDER BY exp(-lp / n_tri) DESC, doc_id) AS INT) AS rnk
FROM scored
-- LIMIT membership must rank on the UNROUNDED perplexity (DuckDB
-- binds output aliases in ORDER BY, which would rank on the rounded
-- value while the Spark side ranks unrounded — ADVICE r13): order by
-- the same key rnk uses.
ORDER BY exp(-lp / n_tri) DESC, doc_id LIMIT {_TRI_TOPK}
"""


@register("trigram_lm_perplexity", lambda: _trigram_oracle())
def trigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed trigram LM perplexity per document, top-20
    hardest docs. Trigrams via the LINEAR two-lead zip-with-tail
    pairing; counts are corpus groupBys; the per-doc ln-probability
    folds in position order."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select("doc_id",
                       text.token_array(F.col("text")).alias("t"))
    return trigram_lm_from_arrays(spark, arrs)


def trigram_lm_from_arrays(spark: SparkSession, arrs: DataFrame,
                           topk: int = _TRI_TOPK) -> DataFrame:
    """Trigram-LM body over (doc_id, t array<string>) rows — the
    stress seam (stress_textops drives it at a 5M-doc corpus). One
    linear pair pass, two corpus groupBys (c3/c2 keyed on trigram /
    bigram prefixes), position-pinned per-doc folds, TakeOrdered
    top-k. The trigram relation is re-joined against its own lineage
    (scored = tri JOIN terms, terms derived from c3 <- tri), so an
    eager leaf (r15 A/B)."""
    ln3 = F.greatest(F.size("t") - 2, F.lit(0))
    tri = (arrs.select(
        "doc_id",
        F.posexplode(F.zip_with(
            F.slice("t", F.lit(1), ln3),
            F.zip_with(F.slice("t", F.lit(2), ln3),
                       F.slice("t", F.lit(3), ln3),
                       lambda b, c: F.struct(b.alias("w2"),
                                             c.alias("w3"))),
            lambda a, bc: F.struct(a.alias("w1"),
                                   bc["w2"].alias("w2"),
                                   bc["w3"].alias("w3"))))
        .alias("pos0", "g"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"),
                F.col("g.w3").alias("w3"))
        # r15 A/B, sf0.1: persist's cache matching failed
        # intermittently (first exec 6.98-12.49 s vs 2.94-3.29 s
        # checkpoint); r14's persist win was against the LAZY checkpoint
        .localCheckpoint(eager=True))
    c3 = tri.groupBy("w1", "w2", "w3").agg(
        F.count("*").cast("long").alias("c3"))
    # r14 (guide §2.3/§3.3): fold the bigram count INTO the
    # distinct-trigram relation, so the corpus-scaled `tri` is
    # shuffled ONCE (on the trigram key) instead of twice. c2 is a
    # window-style sum of c3 over the (w1, w2) prefix — same integer
    # counts, computed from the already-aggregated relation — and the
    # smoothed per-trigram term is attached there, a
    # distinct-trigram-sized join build side instead of a second
    # full-corpus shuffle on (w1, w2).
    c2w = Window.partitionBy("w1", "w2")
    vocab = (arrs.select(F.explode("t").alias("tok"))
             .agg(F.countDistinct("tok").cast("long").alias("v")))
    terms = (c3.withColumn("c2", F.sum("c3").over(c2w))
             .crossJoin(F.broadcast(vocab))
             .select("w1", "w2", "w3",
                     F.log((F.col("c3") + 1.0)
                           / (F.col("c2") + F.col("v"))).alias("x")))
    scored = (tri.join(terms, ["w1", "w2", "w3"])
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_tri"),
                   ordered_sum("x", "pos").alias("lp")))
    perp = F.exp(-F.col("lp") / F.col("n_tri"))
    return (scored
            .orderBy(perp.desc(), F.col("doc_id").asc())
            .limit(topk)
            .withColumn("rnk", F.row_number().over(
                Window.orderBy(perp.desc(), F.col("doc_id").asc())))
            .select("doc_id", "n_tri",
                    (F.round("lp", 6) + 0.0).alias("ln_prob"),
                    (F.round(perp, 6) + 0.0).alias("perplexity"),
                    F.col("rnk").cast("int")))


@register("truncation_loss_at_caps", f"""
WITH lens AS (
    SELECT len({_TOK18_SQL}) AS n FROM documents
),
caps AS (SELECT unnest([64, 128, 256]) AS cap)
SELECT CAST(caps.cap AS INT) AS cap,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN n > caps.cap THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_truncated,
       CAST(sum(greatest(n - caps.cap, 0)) AS BIGINT) AS tokens_lost,
       {round_sql('CAST(sum(greatest(n - caps.cap, 0)) AS DOUBLE)'
                  ' / sum(n)')} + 0.0 AS pct_lost
FROM lens CROSS JOIN caps GROUP BY caps.cap ORDER BY cap
""")
def truncation_loss_at_caps(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Context-length truncation loss: docs affected and tokens lost
    if every document is truncated at 64/128/256 tokens — the
    packing-planner readout. Pure integer sums."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(F.size(text.token_array(F.col("text")))
                       .alias("n"))
    caps = spark.range(3).select(
        F.element_at(F.array(F.lit(64), F.lit(128), F.lit(256)),
                     (F.col("id") + 1).cast("int")).alias("cap"))
    lost = F.greatest(F.col("n") - F.col("cap"), F.lit(0))
    return (lens.crossJoin(F.broadcast(caps))
            .groupBy("cap")
            .agg(F.count("*").cast("long").alias("docs"),
                 F.sum(F.when(F.col("n") > F.col("cap"), 1)
                       .otherwise(0)).cast("long")
                 .alias("docs_truncated"),
                 F.sum(lost).cast("long").alias("tokens_lost"),
                 (F.round(F.sum(lost).cast("double")
                          / F.sum("n"), 6) + 0.0).alias("pct_lost"))
            .select(F.col("cap").cast("int"), "docs",
                    "docs_truncated", "tokens_lost", "pct_lost")
            .orderBy("cap"))


_PII_EMAIL = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PII_PHONE = "[0-9]{3}[-.][0-9]{3,4}"
_PII_URL = "https?://[^ ]+"


@register("pii_density_by_source", f"""
WITH per AS (
    SELECT source,
           len({_TOK18_SQL}) AS toks,
           len(regexp_extract_all(text, '{_PII_EMAIL}')) AS em,
           len(regexp_extract_all(text, '{_PII_PHONE}')) AS ph,
           len(regexp_extract_all(text, '{_PII_URL}')) AS ur
    FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(toks) AS BIGINT) AS tokens,
       CAST(sum(em) AS BIGINT) AS emails,
       CAST(sum(ph) AS BIGINT) AS phones,
       CAST(sum(ur) AS BIGINT) AS urls,
       {round_sql('1000.0 * (sum(em) + sum(ph) + sum(ur)) / sum(toks)')}
         + 0.0 AS pii_per_1k_tokens
FROM per GROUP BY source ORDER BY source
""")
def pii_density_by_source(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """PII-pattern density per source: email / phone / URL regex
    hits per 1k tokens — the redaction-planning readout (the
    pii_redaction query rewrites; this one measures)."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.size(text.token_array(F.col("text"))).alias("toks"),
        F.regexp_count("text", F.lit(_PII_EMAIL)).alias("em"),
        F.regexp_count("text", F.lit(_PII_PHONE)).alias("ph"),
        F.regexp_count("text", F.lit(_PII_URL)).alias("ur"))
    tot = F.sum("em") + F.sum("ph") + F.sum("ur")
    return (per.groupBy("source")
            .agg(F.count("*").cast("long").alias("docs"),
                 F.sum("toks").cast("long").alias("tokens"),
                 F.sum("em").cast("long").alias("emails"),
                 F.sum("ph").cast("long").alias("phones"),
                 F.sum("ur").cast("long").alias("urls"),
                 (F.round(1000.0 * tot / F.sum("toks"), 6) + 0.0)
                 .alias("pii_per_1k_tokens"))
            .orderBy("source"))


@register("intra_doc_dup_sentences", """
WITH sents AS (
    SELECT source,
           list_filter(list_transform(string_split(text, '.'),
                                      x -> trim(x)), x -> x <> '')
             AS ss
    FROM documents
),
per AS (
    SELECT source, len(ss) AS n_sent,
           len(list_distinct(ss)) AS n_uniq
    FROM sents
)
SELECT source, CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n_sent) AS BIGINT) AS sentences,
       CAST(sum(n_sent - n_uniq) AS BIGINT) AS dup_sentences,
       CASE WHEN sum(n_sent) = 0 THEN NULL
            ELSE {R} END AS dup_ratio
FROM per GROUP BY source ORDER BY source
""".replace("{R}", round_sql(
    'CAST(sum(n_sent - n_uniq) AS DOUBLE) / sum(n_sent)') + " + 0.0"))
def intra_doc_dup_sentences(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Within-document duplicate sentences per source: split on '.',
    trim, count exact repeats (n_sent - n_distinct) — the intra-doc
    repetition screen. Integer sums; one ratio per source."""
    docs = load_table(spark, sf_dir, "documents")
    ss = F.filter(F.transform(F.split("text", "\\."),
                              lambda x: F.trim(x)),
                  lambda x: x != "")
    per = docs.select("source", F.size(ss).alias("n_sent"),
                      F.size(F.array_distinct(ss)).alias("n_uniq"))
    dups = F.sum(F.col("n_sent") - F.col("n_uniq"))
    return (per.groupBy("source")
            .agg(F.count("*").cast("long").alias("docs"),
                 F.sum("n_sent").cast("long").alias("sentences"),
                 dups.cast("long").alias("dup_sentences"),
                 F.when(F.sum("n_sent") == 0,
                        F.lit(None).cast("double"))
                 .otherwise(F.round(dups.cast("double")
                                    / F.sum("n_sent"), 6) + 0.0)
                 .alias("dup_ratio"))
            .orderBy("source"))


_CTRI_BUCKETS = 64
_CTRI_TOP = 3
_NORM18 = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register("char_trigram_lang_signature", f"""
WITH tris AS (
    SELECT lang,
           {md5_long_sql("substring(d.norm, s.i, 3)")}
             % {_CTRI_BUCKETS} AS bucket
    FROM (SELECT lang, {_NORM18} AS norm FROM documents) d,
         unnest(generate_series(1, length(d.norm) - 2)) AS s(i)
    WHERE length(d.norm) >= 3
),
counts AS (
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM tris GROUP BY lang, bucket
),
ranked AS (
    SELECT lang, bucket, cnt,
           row_number() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, bucket) AS rnk
    FROM counts
)
SELECT lang, CAST(rnk AS INT) AS rnk, bucket, cnt
FROM ranked WHERE rnk <= {_CTRI_TOP}
ORDER BY lang, rnk
""")
def char_trigram_lang_signature(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """FastText-style hashed char-trigram signature per language:
    every char 3-gram of the normalized text hashes into 64 buckets;
    the top-3 buckets per lang are its signature. ONE char explode
    is the corpus pass; the rank window runs over <=64 rows/lang."""
    from travel_data_pipeline_spark.operators.dedup import (
        normalize_text)

    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    base = (docs.select("lang", norm.alias("norm"))
            .filter(F.length("norm") >= 3))
    tri = base.select(
        "lang",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.length("norm") - 2),
            lambda i: F.col("norm").substr(i, F.lit(3))))
        .alias("g"))
    counts = (tri.select(
        "lang", F.pmod(md5_long(F.col("g")),
                       F.lit(_CTRI_BUCKETS)).alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").cast("long").alias("cnt")))
    wr = Window.partitionBy("lang").orderBy(F.col("cnt").desc(),
                                            F.col("bucket").asc())
    return (counts.withColumn("rnk", F.row_number().over(wr))
            .filter(F.col("rnk") <= _CTRI_TOP)
            .select("lang", F.col("rnk").cast("int"), "bucket", "cnt")
            .orderBy("lang", "rnk"))


def _stopword_oracle() -> str:
    from travel_data_pipeline_spark.operators.text import STOPWORDS

    arms = []
    for lst_lang in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lst_lang])
        arms.append(
            f"SELECT lang AS doc_lang, '{lst_lang}' AS list_lang,\n"
            f"       CAST(sum(CASE WHEN tok IN ({words}) THEN 1"
            f" ELSE 0 END) AS BIGINT) AS hits,\n"
            f"       CAST(count(*) AS BIGINT) AS tokens\n"
            f"FROM toks GROUP BY lang")
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH toks AS MATERIALIZED (
    SELECT lang, unnest({_TOK18_SQL}) AS tok FROM documents
)
SELECT doc_lang, list_lang, hits, tokens,
       {round_sql('CAST(hits AS DOUBLE) / tokens')} + 0.0 AS hit_ratio
FROM ({body})
ORDER BY doc_lang, list_lang
"""


@register("stopword_profile_matrix", lambda: _stopword_oracle())
def stopword_profile_matrix(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Language-confusion stopword matrix: for every (document lang,
    stopword list lang) pair, the fraction of corpus tokens hitting
    that list — the lang-id diagnostic. One token explode; 5
    conditional sums unpivoted to 25 rows. The lists come from
    operators.text.STOPWORDS (single source, oracle rendered from
    the same dict)."""
    from travel_data_pipeline_spark.operators import text
    from travel_data_pipeline_spark.operators.text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang",
                       F.explode(text.token_array(F.col("text")))
                       .alias("tok"))
    aggs = [F.count("*").cast("long").alias("tokens")]
    for lst_lang in sorted(STOPWORDS):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lst_lang]])
        aggs.append(F.sum(F.when(F.array_contains(arr, F.col("tok")),
                                 1).otherwise(0))
                    .cast("long").alias(f"h_{lst_lang}"))
    wide = toks.groupBy(F.col("lang").alias("doc_lang")).agg(*aggs)
    stack_args = ", ".join(f"'{l}', h_{l}" for l in sorted(STOPWORDS))
    return (wide.select(
        "doc_lang", "tokens",
        F.expr(f"stack({len(STOPWORDS)}, {stack_args})")
        .alias("list_lang", "hits"))
        .select("doc_lang", "list_lang", "hits", "tokens",
                (F.round(F.col("hits").cast("double")
                         / F.col("tokens"), 6) + 0.0)
                .alias("hit_ratio"))
        .orderBy("doc_lang", "list_lang"))


# ---------------------------------------------------------------------------
# Batch G — A/B extras, geo bucketing, control charts, forensics.
# ---------------------------------------------------------------------------

@register("post_stratified_mean", f"""
WITH base AS (
    SELECT {md5_long_sql("CAST(user_id AS VARCHAR)")} % 2 AS arm,
           user_id % 4 AS stratum,
           CAST(floor(value * 100) AS BIGINT) AS vc
    FROM events
),
cell AS (
    SELECT arm, stratum, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vc) AS BIGINT) AS s
    FROM base GROUP BY arm, stratum
),
strw AS (
    SELECT stratum, CAST(sum(n) AS BIGINT) AS ns,
           (SELECT CAST(count(*) AS BIGINT) FROM base) AS ntot
    FROM cell GROUP BY stratum
)
SELECT c.arm, CAST(sum(c.n) AS BIGINT) AS n,
       {round_sql('CAST(sum(c.s) AS DOUBLE) / sum(c.n)')}
         + 0.0 AS raw_mean,
       {round_sql(ordered_sum_sql("(CAST(w.ns AS DOUBLE) / w.ntot)"
                                  " * (CAST(c.s AS DOUBLE) / c.n)",
                                  "c.stratum"))}
         + 0.0 AS post_strat_mean
FROM cell c JOIN strw w ON w.stratum = c.stratum
GROUP BY c.arm ORDER BY c.arm
""")
def post_stratified_mean(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Post-stratified arm means of the floor(value*100) integer
    metric: strata = user_id % 4, weights = global stratum shares.
    Cell moments are exact integers; the 4-term weighted sum folds
    in stratum order."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.pmod(md5_long(F.col("user_id").cast("string")),
               F.lit(2)).alias("arm"),
        (F.col("user_id") % 4).alias("stratum"),
        F.floor(F.col("value") * 100).cast("long").alias("vc"))
    cell = (base.groupBy("arm", "stratum")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("vc").cast("long").alias("s")))
    ntot = base.agg(F.count("*").cast("long").alias("ntot"))
    strw = (cell.groupBy("stratum")
            .agg(F.sum("n").cast("long").alias("ns"))
            .crossJoin(F.broadcast(ntot)))
    term = ((F.col("ns").cast("double") / F.col("ntot"))
            * (F.col("s").cast("double") / F.col("n")))
    return (cell.join(F.broadcast(strw), "stratum")
            .groupBy("arm")
            .agg(F.sum("n").cast("long").alias("n"),
                 (F.round(F.sum("s").cast("double")
                          / F.sum("n"), 6) + 0.0).alias("raw_mean"),
                 (F.round(ordered_sum(term, "stratum"), 6) + 0.0)
                 .alias("post_strat_mean"))
            .orderBy("arm"))


_GEO_TOPK = 10


@register("haversine_nation_pairs", f"""
WITH coords AS (
    SELECT n_name,
           ({md5_long_sql('n_name')} % 18000) / 100.0 - 90.0 AS lat,
           ({md5_long_sql("n_name || ':lon'")} % 36000) / 100.0
             - 180.0 AS lon
    FROM nation
),
pairs AS (
    SELECT a.n_name AS nation_a, b.n_name AS nation_b,
           2.0 * 6371.0 * asin(sqrt(
               pow(sin(radians(b.lat - a.lat) / 2.0), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - a.lon) / 2.0), 2)))
             AS km
    FROM coords a JOIN coords b ON a.n_name < b.n_name
)
SELECT nation_a, nation_b,
       {round_sql('km', 3)} + 0.0 AS dist_km,
       CAST(row_number() OVER (ORDER BY km, nation_a, nation_b)
            AS INT) AS rnk
FROM pairs
ORDER BY km, nation_a, nation_b LIMIT {_GEO_TOPK}
""")
def haversine_nation_pairs(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Closest nation pairs by great-circle (haversine) distance
    over deterministic hash-derived coordinates — the travel-domain
    distance operator. 25x25 bounded pair enumeration; the trig is
    the shared-spelling double expression."""
    nation = load_table(spark, sf_dir, "nation")
    coords = nation.select(
        "n_name",
        ((F.pmod(md5_long(F.col("n_name")), F.lit(18000)))
         / 100.0 - 90.0).alias("lat"),
        ((F.pmod(md5_long(F.concat(F.col("n_name"), F.lit(":lon"))),
                 F.lit(36000))) / 100.0 - 180.0).alias("lon"))
    a = coords.select(F.col("n_name").alias("nation_a"),
                      F.col("lat").alias("la"),
                      F.col("lon").alias("loa"))
    b = coords.select(F.col("n_name").alias("nation_b"),
                      F.col("lat").alias("lb"),
                      F.col("lon").alias("lob"))
    km = (2.0 * 6371.0 * F.asin(F.sqrt(
        F.pow(F.sin(F.radians(F.col("lb") - F.col("la")) / 2.0), 2)
        + F.cos(F.radians("la")) * F.cos(F.radians("lb"))
        * F.pow(F.sin(F.radians(F.col("lob") - F.col("loa")) / 2.0),
                2))))
    pairs = (a.join(F.broadcast(b),
                    F.col("nation_a") < F.col("nation_b"))
             .select("nation_a", "nation_b", km.alias("km")))
    wr = Window.orderBy("km", "nation_a", "nation_b")
    return (pairs.orderBy("km", "nation_a", "nation_b")
            .limit(_GEO_TOPK)
            .withColumn("rnk", F.row_number().over(wr))
            .select("nation_a", "nation_b",
                    (F.round("km", 3) + 0.0).alias("dist_km"),
                    F.col("rnk").cast("int")))


@register("geo_grid_cell_join", f"""
WITH cc AS (
    SELECT {md5_long_sql("'lat:' || CAST(c_custkey AS VARCHAR)")}
             % 180 - 90 AS cell_lat,
           {md5_long_sql("'lon:' || CAST(c_custkey AS VARCHAR)")}
             % 360 - 180 AS cell_lon
    FROM customer
),
sc AS (
    SELECT {md5_long_sql("'lat:' || CAST(s_suppkey AS VARCHAR)")}
             % 180 - 90 AS cell_lat,
           {md5_long_sql("'lon:' || CAST(s_suppkey AS VARCHAR)")}
             % 360 - 180 AS cell_lon
    FROM supplier
),
ccg AS (
    SELECT cell_lat, cell_lon, CAST(count(*) AS BIGINT) AS n_cust
    FROM cc GROUP BY 1, 2
),
scg AS (
    SELECT cell_lat, cell_lon, CAST(count(*) AS BIGINT) AS n_supp
    FROM sc GROUP BY 1, 2
)
SELECT c.cell_lat, c.cell_lon, c.n_cust, s.n_supp,
       c.n_cust * s.n_supp AS n_pairs
FROM ccg c JOIN scg s USING (cell_lat, cell_lon)
ORDER BY n_pairs DESC, cell_lat, cell_lon LIMIT {_GEO_TOPK}
""")
def geo_grid_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-degree grid-cell co-location of customers and suppliers
    over hash-derived integer cells — the spatial-bucketing equi-join
    shape (bucket first, join on the cell, never a distance
    cross-join). Pure integer arithmetic."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")

    def cells(df, key):
        k = F.col(key).cast("string")
        return df.select(
            (F.pmod(md5_long(F.concat(F.lit("lat:"), k)),
                    F.lit(180)) - 90).alias("cell_lat"),
            (F.pmod(md5_long(F.concat(F.lit("lon:"), k)),
                    F.lit(360)) - 180).alias("cell_lon"))

    ccg = (cells(cust, "c_custkey").groupBy("cell_lat", "cell_lon")
           .agg(F.count("*").cast("long").alias("n_cust")))
    scg = (cells(supp, "s_suppkey").groupBy("cell_lat", "cell_lon")
           .agg(F.count("*").cast("long").alias("n_supp")))
    return (ccg.join(scg, ["cell_lat", "cell_lon"])
            .select("cell_lat", "cell_lon", "n_cust", "n_supp",
                    (F.col("n_cust") * F.col("n_supp"))
                    .alias("n_pairs"))
            .orderBy(F.col("n_pairs").desc(), "cell_lat", "cell_lon")
            .limit(_GEO_TOPK))


# Benford second-digit law: p(d) = sum_k log10(1 + 1/(10k+d)) —
# computed ONCE in Python (math.log10) and inlined as the same
# literal on both engines, so no cross-engine log ulp can bite.
_BENFORD2_P = {
    d: sum(math.log10(1.0 + 1.0 / (10 * k + d)) for k in range(1, 10))
    for d in range(10)
}


def _benford2_oracle() -> str:
    cases = " ".join(f"WHEN {d} THEN {p!r}"
                     for d, p in _BENFORD2_P.items())
    return f"""
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                            AS VARCHAR), 2, 1) AS INT) AS d
    FROM orders WHERE o_totalprice >= 10
),
obs AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
terms AS (
    SELECT o.d, o.n, t.total,
           CASE o.d {cases} END AS p
    FROM obs o CROSS JOIN tot t
)
SELECT d, n,
       {round_sql('CAST(n AS DOUBLE) / total')} + 0.0
         AS observed_share,
       {round_sql('p')} + 0.0 AS benford_share,
       {round_sql('(CAST(n AS DOUBLE) - total * p)'
                  ' * (CAST(n AS DOUBLE) - total * p) / (total * p)')}
         + 0.0 AS chi2_term
FROM terms ORDER BY d
"""


@register("benford_second_digit", lambda: _benford2_oracle())
def benford_second_digit(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Second-significant-digit distribution of order values vs the
    generalized Benford law — the standard forensic extension of
    benford_first_digit (same string-extraction spelling, position
    2; expected shares inlined as identical literals both sides)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.substring(F.floor("o_totalprice").cast("long")
                    .cast("string"), 2, 1).cast("int")
    obs = (orders.filter(F.col("o_totalprice") >= 10)
           .select(d.alias("d")).groupBy("d")
           .agg(F.count("*").cast("long").alias("n")))
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    p = F.element_at(
        F.array(*[F.lit(_BENFORD2_P[i]) for i in range(10)]),
        F.col("d") + 1)
    nd, totd = F.col("n").cast("double"), F.col("total").cast("double")
    return (obs.crossJoin(F.broadcast(tot))
            .select("d", "n",
                    (F.round(nd / totd, 6) + 0.0)
                    .alias("observed_share"),
                    (F.round(p, 6) + 0.0).alias("benford_share"),
                    (F.round((nd - totd * p) * (nd - totd * p)
                             / (totd * p), 6) + 0.0)
                    .alias("chi2_term"))
            .orderBy("d"))


@register("sla_lag_percentiles", """
WITH lags AS (
    SELECT o.o_orderpriority AS priority,
           date_diff('day', date_trunc('day', o.o_orderdate),
                     date_trunc('day', l.l_shipdate)) AS lag
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
grid AS (
    SELECT priority, lag, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(count(*)) OVER (PARTITION BY priority
                                    ORDER BY lag) AS BIGINT) AS cum,
           CAST(sum(count(*)) OVER (PARTITION BY priority)
                AS BIGINT) AS n
    FROM lags GROUP BY priority, lag
)
SELECT priority, CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN lag END)
            AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN lag END)
            AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN lag END)
            AS BIGINT) AS p99
FROM grid GROUP BY priority ORDER BY priority
""")
def sla_lag_percentiles(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Exact order-to-ship lag percentiles (p50/p90/p99, type-1
    ceil-rank) per order priority — cumulative counts over the
    bounded lag-value grid per priority, all integer."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lags = (orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(F.col("o_orderpriority").alias("priority"),
                    F.datediff(F.date_trunc("day", "l_shipdate"),
                               F.date_trunc("day", "o_orderdate"))
                    .alias("lag")))
    wc = (Window.partitionBy("priority").orderBy("lag")
          .rowsBetween(Window.unboundedPreceding, 0))
    wn = (Window.partitionBy("priority")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    grid = (lags.groupBy("priority", "lag")
            .agg(F.count("*").cast("long").alias("m"))
            .withColumn("cum", F.sum("m").over(wc).cast("long"))
            .withColumn("n", F.sum("m").over(wn).cast("long")))

    def pq(k: int):
        return F.min(F.when(
            F.col("cum") >= F.expr(f"({k} * n + 99) DIV 100"),
            F.col("lag"))).cast("long")

    return (grid.groupBy("priority")
            .agg(F.max("n").cast("long").alias("n"),
                 pq(50).alias("p50"), pq(90).alias("p90"),
                 pq(99).alias("p99"))
            .orderBy("priority"))


_EWMA_LAM = 0.2
_EWMA_LAST = 14


def _ewma_chart_oracle() -> str:
    lam, lam1 = _EWMA_LAM, 1.0 - _EWMA_LAM
    return f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
idx AS (
    SELECT t, cnt, row_number() OVER (ORDER BY t) AS i
    FROM daily
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cnt) AS BIGINT) AS s,
           CAST(sum(cnt * cnt) AS BIGINT) AS q
    FROM daily
),
ew AS (
    SELECT a.t, a.i, a.cnt,
           {ordered_sum_sql(f"CASE WHEN b.i = 1 THEN pow({lam1}, a.i - 1)"
                            f" * b.cnt ELSE {lam} * pow({lam1}, a.i - b.i)"
                            " * b.cnt END", "b.i")} AS l
    FROM idx a JOIN idx b ON b.i <= a.i
    GROUP BY a.t, a.i, a.cnt
),
lim AS (
    SELECT n, CAST(s AS DOUBLE) / n AS mu,
           sqrt(CAST(n * q - s * s AS DOUBLE)) / n AS sd
    FROM mom
)
SELECT e.t, e.cnt, {round_sql('e.l')} + 0.0 AS ewma,
       {round_sql('m.mu + 3.0 * m.sd * sqrt(' + repr(_EWMA_LAM) +
                  ' / (2.0 - ' + repr(_EWMA_LAM) + ')'
                  ' * (1.0 - pow(' + repr((1.0 - _EWMA_LAM) ** 2) +
                  ', e.i)))')} + 0.0 AS ucl,
       {round_sql('m.mu - 3.0 * m.sd * sqrt(' + repr(_EWMA_LAM) +
                  ' / (2.0 - ' + repr(_EWMA_LAM) + ')'
                  ' * (1.0 - pow(' + repr((1.0 - _EWMA_LAM) ** 2) +
                  ', e.i)))')} + 0.0 AS lcl,
       e.l > m.mu + 3.0 * m.sd * sqrt({_EWMA_LAM} / (2.0 - {_EWMA_LAM})
           * (1.0 - pow({(1.0 - _EWMA_LAM) ** 2!r}, e.i)))
       OR e.l < m.mu - 3.0 * m.sd * sqrt({_EWMA_LAM} / (2.0 - {_EWMA_LAM})
           * (1.0 - pow({(1.0 - _EWMA_LAM) ** 2!r}, e.i))) AS breach
FROM ew e CROSS JOIN lim m
WHERE e.i > m.n - {_EWMA_LAST}
ORDER BY e.t
"""


@register("ewma_control_chart_daily", lambda: _ewma_chart_oracle())
def ewma_control_chart_daily(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """EWMA control chart (lambda=0.2) on daily counts with
    time-varying 3-sigma limits, last 14 days. The EWMA at row i is
    the CLOSED-FORM weighted sum over rows j <= i, folded in j order
    with the identical term spelling on both engines (a recurrence
    and a closed form round differently — so both sides use the
    closed form); limits from exact integer moments."""
    lam, lam1 = _EWMA_LAM, 1.0 - _EWMA_LAM
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    idx = daily.select(
        "t", "cnt", F.row_number().over(Window.orderBy("t")).alias("i"))
    mom = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("cnt").cast("long").alias("s"),
                    F.sum(F.col("cnt") * F.col("cnt")).cast("long")
                    .alias("q"))
    a = idx.select(F.col("t").alias("ta"), F.col("i").alias("ia"),
                   F.col("cnt").alias("cnta"))
    b = idx.select(F.col("i").alias("ib"), F.col("cnt").alias("cntb"))
    term = F.when(F.col("ib") == 1,
                  F.pow(F.lit(lam1), F.col("ia") - 1) * F.col("cntb")) \
        .otherwise(F.lit(lam)
                   * F.pow(F.lit(lam1), F.col("ia") - F.col("ib"))
                   * F.col("cntb"))
    ew = (a.join(F.broadcast(b), F.col("ib") <= F.col("ia"))
          .groupBy("ta", "ia", "cnta")
          .agg(ordered_sum(term, "ib").alias("l")))
    nd = F.col("n").cast("double")
    lim = mom.select(
        "n", (F.col("s").cast("double") / nd).alias("mu"),
        (F.sqrt((F.col("n") * F.col("q")
                 - F.col("s") * F.col("s")).cast("double")) / nd)
        .alias("sd"))
    half = (3.0 * F.col("sd")
            * F.sqrt(F.lit(lam) / (2.0 - lam)
                     * (1.0 - F.pow(F.lit(lam1 * lam1), F.col("ia")))))
    ucl, lcl = F.col("mu") + half, F.col("mu") - half
    return (ew.crossJoin(F.broadcast(lim))
            .filter(F.col("ia") > F.col("n") - _EWMA_LAST)
            .select(F.col("ta").alias("t"),
                    F.col("cnta").alias("cnt"),
                    (F.round("l", 6) + 0.0).alias("ewma"),
                    (F.round(ucl, 6) + 0.0).alias("ucl"),
                    (F.round(lcl, 6) + 0.0).alias("lcl"),
                    ((F.col("l") > ucl) | (F.col("l") < lcl))
                    .alias("breach"))
            .orderBy("t"))


# ---------------------------------------------------------------------------
# Batch H — graph + shingle-rarity additions.
# ---------------------------------------------------------------------------

_LCC_TOP = 10
_LCC_CAP = 128


def _lcc_oracle() -> str:
    from travel_data_pipeline_spark.queries_affinity import _PAIRS_SQL

    return f"""
WITH {_PAIRS_SQL},
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT part_a AS node FROM pair_counts
          UNION ALL SELECT part_b FROM pair_counts)
    GROUP BY node
),
top AS (
    SELECT node, d FROM deg
    ORDER BY d DESC, node LIMIT {_LCC_TOP}
),
nb AS (
    SELECT x.node, x.nb FROM (
        SELECT t.node, CASE WHEN p.part_a = t.node THEN p.part_b
                            ELSE p.part_a END AS nb,
               row_number() OVER (
                   PARTITION BY t.node
                   ORDER BY CASE WHEN p.part_a = t.node THEN p.part_b
                                 ELSE p.part_a END) AS rn
        FROM top t JOIN pair_counts p
          ON p.part_a = t.node OR p.part_b = t.node) x
    WHERE x.rn <= {_LCC_CAP}
),
tri AS (
    SELECT a.node, CAST(count(*) AS BIGINT) AS t
    FROM nb a JOIN nb b ON b.node = a.node AND b.nb > a.nb
    JOIN pair_counts e ON e.part_a = a.nb AND e.part_b = b.nb
    GROUP BY a.node
),
dcap AS (
    SELECT t.node, t.d, least(t.d, {_LCC_CAP}) AS dc,
           COALESCE(tri.t, 0) AS tr
    FROM top t LEFT JOIN tri ON tri.node = t.node
)
SELECT node, d AS degree, CAST(dc AS BIGINT) AS capped_degree,
       CAST(tr AS BIGINT) AS triangles,
       CASE WHEN dc < 2 THEN NULL
            ELSE {round_sql('2.0 * tr / (CAST(dc AS DOUBLE)'
                            ' * (dc - 1))')} + 0.0
       END AS clustering_coeff
FROM dcap ORDER BY degree DESC, node
"""


@register("local_clustering_topnodes", lambda: _lcc_oracle())
def local_clustering_topnodes(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the top-10 copurchase nodes:
    neighbors capped at 128 (deterministic by id — the adamic-adar
    cap discipline), neighbor-pair closure tested with an EQUI-join
    against the a<b edge list, cc = 2T/(d(d-1)) on the capped
    degree. Top nodes broadcast; the expansion is top10 x cap^2
    bounded. (copurchase_triangles counts UNCAPPED per-node
    triangles over the whole graph; this normalizes to the
    coefficient for the hubs, where the cap is what keeps a 19k-hub
    from exploding the wedge join.)"""
    from travel_data_pipeline_spark.queries_affinity import (
        _order_items,
        _pair_counts,
    )

    # persist, not lazy localCheckpoint, throughout (r14): the three
    # shared relations are consumed 2-4x each; lazy checkpoints ran
    # ~8 AQE stage jobs at construction (build 2.6-2.9 s), persist
    # runs none (A/B total 2.87 -> 1.15 s, same result set).
    edges = (_pair_counts(_order_items(spark, sf_dir))
             .select("part_a", "part_b")
             .persist())
    deg = (edges.select(F.col("part_a").alias("node"))
           .unionAll(edges.select(F.col("part_b").alias("node")))
           .groupBy("node").agg(F.count("*").cast("long").alias("d")))
    top = (deg.orderBy(F.col("d").desc(), F.col("node").asc())
           .limit(_LCC_TOP).persist())
    # two broadcast EQUI-joins unioned, not one OR-condition join —
    # the OR compiles to a BroadcastNestedLoopJoin; this stays on
    # hash joins (an edge with both endpoints in the top set rightly
    # contributes one row per endpoint in either spelling)
    ta = (edges.join(F.broadcast(top.select("node")),
                     edges.part_a == F.col("node"))
          .select("node", F.col("part_b").alias("nb")))
    tb = (edges.join(F.broadcast(top.select("node")),
                     edges.part_b == F.col("node"))
          .select("node", F.col("part_a").alias("nb")))
    both = ta.unionAll(tb)
    wcap = Window.partitionBy("node").orderBy("nb")
    nb = (both.withColumn("rn", F.row_number().over(wcap))
          .filter(F.col("rn") <= _LCC_CAP).drop("rn")
          .persist())
    a = nb.select("node", F.col("nb").alias("u"))
    b = nb.select(F.col("node").alias("node_b"),
                  F.col("nb").alias("v"))
    tri = (a.join(b, (F.col("node_b") == F.col("node"))
                  & (F.col("v") > F.col("u")))
           .join(edges, (edges.part_a == F.col("u"))
                 & (edges.part_b == F.col("v")))
           .groupBy("node").agg(F.count("*").cast("long").alias("tr")))
    dc = F.least(F.col("d"), F.lit(_LCC_CAP))
    out = (top.join(tri, "node", "left")
           .select("node", F.col("d").alias("degree"),
                   dc.cast("long").alias("capped_degree"),
                   F.coalesce("tr", F.lit(0)).cast("long")
                   .alias("triangles")))
    dcd = F.col("capped_degree").cast("double")
    return (out.select(
        "node", "degree", "capped_degree", "triangles",
        F.when(F.col("capped_degree") < 2,
               F.lit(None).cast("double"))
        .otherwise(F.round(2.0 * F.col("triangles")
                           / (dcd * (F.col("capped_degree") - 1)), 6)
                   + 0.0).alias("clustering_coeff"))
        .orderBy(F.col("degree").desc(), F.col("node").asc()))


_SHR_TOPK = 20


def _shingle_rarity_oracle() -> str:
    return f"""
WITH toks AS MATERIALIZED (
    SELECT d.doc_id, d.toks[s.i] AS tok, s.i AS pos
    FROM (SELECT doc_id, {_TOK18_SQL} AS toks FROM documents) d,
         unnest(generate_series(1, len(d.toks))) AS s(i)
),
sh AS MATERIALIZED (
    SELECT doc_id, pos,
           tok || ' ' ||
           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)
           || ' ' ||
           lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos)
             AS g
    FROM toks
    QUALIFY lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos)
            IS NOT NULL
),
df AS (
    SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM sh GROUP BY g
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
scored AS (
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           {ordered_sum_sql("ln(CAST(nd.n AS DOUBLE) / df.df)", "s.pos")} AS sidf
    FROM sh s JOIN df ON df.g = s.g CROSS JOIN nd
    GROUP BY s.doc_id
)
SELECT doc_id, n_shingles,
       {round_sql('sidf / n_shingles')} + 0.0 AS mean_idf,
       CAST(row_number() OVER (ORDER BY sidf / n_shingles DESC,
                               doc_id) AS INT) AS rnk
FROM scored
ORDER BY mean_idf DESC, doc_id LIMIT {_SHR_TOPK}
"""


@register("shingle_rarity_scores", lambda: _shingle_rarity_oracle())
def shingle_rarity_scores(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Mean shingle IDF per document (3-token shingles via the
    LINEAR zip-with-tail pairing), top-20 rarest docs — the novelty
    screen a dedup pipeline runs after near-dup removal. Per-doc ln
    folds are position-pinned; top-k is TakeOrdered."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select("doc_id",
                       text.token_array(F.col("text")).alias("t"))
    ln3 = F.greatest(F.size("t") - 2, F.lit(0))
    sh = (arrs.select(
        "doc_id",
        F.posexplode(F.zip_with(
            F.slice("t", F.lit(1), ln3),
            F.zip_with(F.slice("t", F.lit(2), ln3),
                       F.slice("t", F.lit(3), ln3),
                       lambda b, c: F.concat(b, F.lit(" "), c)),
            lambda a, bc: F.concat(a, F.lit(" "), bc)))
        .alias("pos0", "g"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
        .localCheckpoint(eager=False))
    df = sh.groupBy("g").agg(
        F.countDistinct("doc_id").cast("long").alias("df"))
    nd = docs.agg(F.count("*").cast("long").alias("n"))
    term = F.log(F.col("n").cast("double") / F.col("df"))
    scored = (sh.join(df, "g").crossJoin(F.broadcast(nd))
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_shingles"),
                   ordered_sum(term, "pos").alias("sidf")))
    mi = F.col("sidf") / F.col("n_shingles")
    return (scored.orderBy(mi.desc(), F.col("doc_id").asc())
            .limit(_SHR_TOPK)
            .withColumn("rnk", F.row_number().over(
                Window.orderBy(mi.desc(), F.col("doc_id").asc())))
            .select("doc_id", "n_shingles",
                    (F.round(mi, 6) + 0.0).alias("mean_idf"),
                    F.col("rnk").cast("int")))


# ---------------------------------------------------------------------------
# Batch I — extreme-value + epidemiology-style readouts.
# ---------------------------------------------------------------------------

@register("odds_ratio_arms", f"""
WITH base AS (
    SELECT {md5_long_sql("CAST(user_id AS VARCHAR)")} % 2 AS arm,
           user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS conv
    FROM events GROUP BY 1, 2
),
cells AS (
    SELECT CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS a,
           CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS b,
           CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS c,
           CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS d
    FROM base
)
SELECT a, b, c, d,
       {round_sql('((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))')}
         + 0.0 AS odds_ratio,
       {round_sql('exp(ln(((a + 0.5) * (d + 0.5))'
                  ' / ((b + 0.5) * (c + 0.5)))'
                  ' - 1.96 * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5)'
                  ' + 1.0/(c + 0.5) + 1.0/(d + 0.5)))')}
         + 0.0 AS or_lo,
       {round_sql('exp(ln(((a + 0.5) * (d + 0.5))'
                  ' / ((b + 0.5) * (c + 0.5)))'
                  ' + 1.96 * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5)'
                  ' + 1.0/(c + 0.5) + 1.0/(d + 0.5)))')}
         + 0.0 AS or_hi
FROM cells
""")
def odds_ratio_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase odds ratio between the md5 arms with the
    Woolf 95% CI, Haldane-Anscombe 0.5-corrected in EVERY cell
    (non-converter cells are legitimately zero when nearly all users
    purchase — the correction keeps OR/CI finite and is applied
    unconditionally so both engines always share one spelling). The
    2x2 cells are exact integer per-user aggregates."""
    ev = load_table(spark, sf_dir, "events")
    base = (ev.groupBy(
        F.pmod(md5_long(F.col("user_id").cast("string")),
               F.lit(2)).alias("arm"), "user_id")
        .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).alias("conv")))

    def cell(arm, conv, name):
        return F.sum(F.when((F.col("arm") == arm)
                            & (F.col("conv") == conv), 1)
                     .otherwise(0)).cast("long").alias(name)

    cells = base.agg(cell(1, 1, "a"), cell(1, 0, "b"),
                     cell(0, 1, "c"), cell(0, 0, "d"))
    ac, bc2, cc, dc = [(F.col(x) + 0.5) for x in ("a", "b", "c", "d")]
    orr = (ac * dc) / (bc2 * cc)
    se = F.sqrt(1.0 / ac + 1.0 / bc2 + 1.0 / cc + 1.0 / dc)
    return cells.select(
        "a", "b", "c", "d",
        (F.round(orr, 6) + 0.0).alias("odds_ratio"),
        (F.round(F.exp(F.log(orr) - 1.96 * se), 6) + 0.0)
        .alias("or_lo"),
        (F.round(F.exp(F.log(orr) + 1.96 * se), 6) + 0.0)
        .alias("or_hi"))


@register("tail_dependence_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
grid AS (
    SELECT cnt AS v, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(count(*)) OVER (ORDER BY cnt) AS BIGINT) AS cum
    FROM daily GROUP BY cnt
),
n1 AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM grid),
q90 AS (
    SELECT min(CASE WHEN cum >= (90 * n1.n + 99) // 100 THEN v END)
             AS thr
    FROM grid CROSS JOIN n1 GROUP BY n1.n
),
pairs AS (
    SELECT a.cnt AS x, b.cnt AS y
    FROM daily a JOIN daily b ON b.t = a.t + 1
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN x > q90.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_x_hi,
           CAST(sum(CASE WHEN x > q90.thr AND y > q90.thr
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both_hi
    FROM pairs CROSS JOIN q90
)
SELECT n_pairs, (SELECT thr FROM q90) AS q90_threshold,
       n_x_hi, n_both_hi,
       CASE WHEN n_x_hi = 0 THEN NULL
            ELSE {round_sql('CAST(n_both_hi AS DOUBLE) / n_x_hi')}
                 + 0.0
       END AS lambda_upper
FROM agg
""")
def tail_dependence_daily(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Empirical lag-1 upper tail dependence of the daily count
    series: P(y_{{t+1}} > q90 | y_t > q90) — the burst-persistence
    readout (a copula-flavored statistic). The q90 threshold is an
    exact ceil-rank selection over the bounded value grid; pairs
    come from the t = t+1 equi-join; everything is integer until
    the one conditional-probability division."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    grid = (daily.groupBy(F.col("cnt").alias("v"))
            .agg(F.count("*").cast("long").alias("m"))
            .withColumn("cum", F.sum("m").over(wv).cast("long")))
    n1 = grid.agg(F.sum("m").cast("long").alias("n"))
    q90 = (grid.crossJoin(F.broadcast(n1)).groupBy("n")
           .agg(F.min(F.when(
               F.col("cum") >= F.expr("(90 * n + 99) DIV 100"),
               F.col("v"))).alias("thr"))
           .select("thr"))
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("x"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("y"))
    pairs = a.join(b, F.col("tb") == F.col("ta") + 1)
    agg = (pairs.crossJoin(F.broadcast(q90))
           .agg(F.count("*").cast("long").alias("n_pairs"),
                F.max("thr").cast("long").alias("q90_threshold"),
                F.sum(F.when(F.col("x") > F.col("thr"), 1)
                      .otherwise(0)).cast("long").alias("n_x_hi"),
                F.sum(F.when((F.col("x") > F.col("thr"))
                             & (F.col("y") > F.col("thr")), 1)
                      .otherwise(0)).cast("long").alias("n_both_hi")))
    return agg.select(
        "n_pairs", "q90_threshold", "n_x_hi", "n_both_hi",
        F.when(F.col("n_x_hi") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("n_both_hi").cast("double")
                           / F.col("n_x_hi"), 6) + 0.0)
        .alias("lambda_upper"))


# ---------------------------------------------------------------------------
# Batch J — late round-13 additions: distribution-rank window suite,
# decimal-arithmetic propagation suite, ordered string aggregation,
# and a lognormal doc-length fit (the rounded-decimal-sum pattern).
# ---------------------------------------------------------------------------

@register("ntile_cume_dist_suite", """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS price_quartile,
       {R1} + 0.0 AS cume_dist_v,
       {R2} + 0.0 AS percent_rank_v
FROM orders WHERE o_custkey < 20
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice, o_orderkey)
ORDER BY o_custkey, o_orderkey
""".replace("{R1}", round_sql("cume_dist() OVER w"))
   .replace("{R2}", round_sql("percent_rank() OVER w")))
def ntile_cume_dist_suite(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Distribution-rank window suite: ntile(4) / cume_dist /
    percent_rank over per-customer price order — pins the
    distribution-rank surface (w_rank_lag_lead covers
    rank/lag/lead). Total order inside each partition (price,
    orderkey) so every readout is deterministic. ntile here runs
    inside key-bounded partitions (the scale-fine use);
    decile_bins_order_value documents the cut-point spelling that
    replaces a GLOBAL ntile."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice",
                                                "o_orderkey")
    return (orders.filter(F.col("o_custkey") < 20)
            .select("o_custkey", "o_orderkey",
                    F.ntile(4).over(w).alias("price_quartile"),
                    (F.round(F.cume_dist().over(w), 6) + 0.0)
                    .alias("cume_dist_v"),
                    (F.round(F.percent_rank().over(w), 6) + 0.0)
                    .alias("percent_rank_v"))
            .orderBy("o_custkey", "o_orderkey"))


@register("decimal_arithmetic_suite", """
SELECT o_orderpriority AS priority,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            AS DECIMAL(28,2)) AS DOUBLE) AS sum_price,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                * CAST(2 AS DECIMAL(3,0))) AS DECIMAL(28,2))
            AS DOUBLE) AS sum_doubled,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                     * CAST(0.07 AS DECIMAL(4,2)) AS DECIMAL(28,4)))
            AS DECIMAL(28,4)) AS DOUBLE) AS sum_tax,
       CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(28,6)) / CAST(count(*) AS DECIMAL(18,0))
            AS DECIMAL(28,6)) AS DOUBLE) AS avg_price_dec,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority ORDER BY priority
""")
def decimal_arithmetic_suite(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """DECIMAL propagation suite: exact decimal sums, integer and
    fractional decimal products, and decimal division — every
    result explicitly cast to a pinned (precision, scale) on BOTH
    engines (the two dialects' implicit propagation rules differ;
    explicit casts are the engine-portable spelling) and bridged to
    DOUBLE for the readout — DuckDB's pandas bridge floats
    DECIMAL(>18,*) anyway, and every value here is exact in a double
    (< 2^53 scaled units)."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    return (orders.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.sum(p).cast("decimal(28,2)").cast("double")
                 .alias("sum_price"),
                 F.sum(p * F.lit(2).cast("decimal(3,0)"))
                 .cast("decimal(28,2)").cast("double")
                 .alias("sum_doubled"),
                 F.sum((p * F.lit(0.07).cast("decimal(4,2)"))
                       .cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_tax"),
                 (F.sum(p).cast("decimal(28,6)")
                  / F.count("*").cast("decimal(18,0)"))
                 .cast("decimal(28,6)").cast("double")
                 .alias("avg_price_dec"),
                 F.count("*").cast("long").alias("n"))
            .orderBy("priority"))


@register("string_agg_ordered_suite", """
SELECT n.n_name,
       string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers_csv,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(length(string_agg(s.s_name, ',' ORDER BY s.s_name))
            AS BIGINT) AS csv_len
FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
""")
def string_agg_ordered_suite(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Ordered string aggregation: DuckDB string_agg(... ORDER BY)
    == Spark array_join(array_sort(collect_list(...))) — the
    deterministic LISTAGG spelling (collect_list alone is
    partition-order-dependent; the sort pins it)."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    csv = F.array_join(F.array_sort(F.collect_list("s_name")), ",")
    return (nation.join(supp, supp.s_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(csv.alias("suppliers_csv"),
                 F.count("*").cast("long").alias("n_suppliers"),
                 F.length(csv).cast("long").alias("csv_len"))
            .orderBy("n_name"))


@register("lognormal_doclen_fit", f"""
WITH lens AS (
    SELECT len({_TOK18_SQL}) AS n FROM documents
),
terms AS (
    SELECT n, {_rd_sql('ln(CAST(n AS DOUBLE))')} AS l1,
           {_rd_sql('ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))')}
             AS l2
    FROM lens WHERE n > 0
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(l1) AS DOUBLE) AS s1,
           CAST(sum(l2) AS DOUBLE) AS s2
    FROM terms
),
fit AS (
    SELECT m, s1 / m AS mu,
           CASE WHEN m * s2 - s1 * s1 <= 0 THEN NULL
                ELSE sqrt((s2 - s1 * s1 / m) / m) END AS sigma
    FROM mom
)
SELECT m AS n_docs, {round_sql('mu')} + 0.0 AS mu_log,
       {round_sql('sigma')} + 0.0 AS sigma_log,
       {round_sql('exp(mu)')} + 0.0 AS median_len,
       {round_sql('exp(mu + sigma * sigma / 2.0)')}
         + 0.0 AS mean_len_fit
FROM fit
""")
def lognormal_doclen_fit(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Lognormal fit of document token lengths (method of moments on
    ln n): mu/sigma of the log lengths via ROUNDED-DECIMAL-TERM sums
    (order-free — ln terms have no integer spelling), plus the
    implied median and mean — the corpus-shape readout a packing
    planner starts from."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    lens = (docs.select(F.size(text.token_array(F.col("text")))
                        .alias("n"))
            .filter(F.col("n") > 0))
    l1 = F.log(F.col("n").cast("double"))
    terms = lens.select(_rd(l1).alias("l1"), _rd(l1 * l1).alias("l2"))
    mom = terms.agg(F.count("*").cast("long").alias("m"),
                    F.sum("l1").cast("double").alias("s1"),
                    F.sum("l2").cast("double").alias("s2"))
    md = F.col("m").cast("double")
    mu = F.col("s1") / md
    varn = F.col("m") * F.col("s2") - F.col("s1") * F.col("s1")
    sigma = F.when(varn <= 0, F.lit(None).cast("double")) \
        .otherwise(F.sqrt((F.col("s2")
                           - F.col("s1") * F.col("s1") / md) / md))
    fit = mom.select("m", mu.alias("mu"), sigma.alias("sigma"))
    return fit.select(
        F.col("m").alias("n_docs"),
        (F.round("mu", 6) + 0.0).alias("mu_log"),
        (F.round("sigma", 6) + 0.0).alias("sigma_log"),
        (F.round(F.exp(F.col("mu")), 6) + 0.0).alias("median_len"),
        (F.round(F.exp(F.col("mu")
                       + F.col("sigma") * F.col("sigma") / 2.0), 6)
         + 0.0).alias("mean_len_fit"))
