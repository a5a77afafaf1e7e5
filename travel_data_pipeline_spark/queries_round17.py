"""Round-17 candidate queries (written in round 12).

Families this batch adds (all oracle-paired, all scale-shaped):

- **Series diagnostics over the bounded time grid** (KPSS
  stationarity, Dickey-Fuller unit root, rescaled-range Hurst,
  Granger lead-lag F, Western-Electric control rules, Durbin-Levinson
  PACF, binary-segmentation changepoints): the corpus-sized pass is
  always the groupBy onto the day/hour grid; every statistic after
  that operates on one-row-per-period relations with exact integer
  moments and ONE shared-spelling double expression per output (the
  acf_daily_counts discipline).
- **k-sample rank statistics on the md5 arms** (Mood median,
  Ansari-Bradley, Anderson-Darling k-sample, Cramér-von Mises):
  value-count grid compression first (the brown_forsythe shape) —
  every rank/ECDF quantity is a cumulative integer over distinct
  values, never a per-row rank.
- **Causal estimators** (Wald IV/LATE, sharp RDD local-linear).
- **Mergeable-summary heavy hitters** (SpaceSaving-style shard
  summaries with deterministic error bounds) — the 100 TB pattern
  where per-shard state is CONSTANT-size and merge is associative.
- **LLM-curation text ops** (DSIR hashed importance weights, MTLD
  lexical diversity, TextRank keywords, degree power-law alpha) and
  the ERR ranking metric.
- **SQL-surface suites** (IGNORE NULLS window functions,
  grouping_id over cube, array higher-order functions).

Float discipline: integer/decimal moments everywhere; doubles appear
only in final shared-spelling expressions; every rounded output goes
through functions.parity.round_sql / F.round(_, 6) with `+ 0.0`
-0.0 guards where a zero can be signed.
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
    ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# the day-grid helpers are SHARED with queries_round16 (review r12:
# a duplicated copy would let the two modules' grids silently
# desynchronize)
from travel_data_pipeline_spark.queries_round16 import (  # noqa: E402
    _DAILY_SQL,
    _DAY_ANCHOR,
    _daily_counts,
)


# ---------------------------------------------------------------------------
# KPSS level-stationarity statistic (Kwiatkowski et al. 1992, public).
#
#   e_t = x_t - mean;  S_t = sum_{i<=t} e_i
#   eta = (1/n^2) sum S_t^2 / s^2(l),  Bartlett long-run variance
#   s^2(l) = g0 + 2 sum_{j=1..l} (1 - j/(l+1)) gj,
#   gj = (1/n) sum e_t e_{t+j},  fixed l = _KPSS_LAG.
#
# Exactness: with u_t = n*x_t - sum(x) (integer), S_t = (n*C_t -
# t*sum(x))/n where C_t is the integer prefix sum — so sum S_t^2 =
# sum(Sn_t^2)/n^2 and gj = sum(u_t u_{t+j})/n^3 with EXACT integer
# numerators; the day grid is one row per day (bounded), so the
# prefix sum's sort is over a bounded relation, never the corpus.
# ---------------------------------------------------------------------------

_KPSS_LAG = 3


@register("kpss_stationarity", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sx
    FROM daily
),
seq AS (
    SELECT t, cnt, row_number() OVER (ORDER BY t) AS rn,
           sum(cnt) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cx
    FROM daily
),
snum AS (
    SELECT CAST(sum(sn * sn) AS DECIMAL(38,0)) AS ssq
    FROM (SELECT CAST(m.n AS DECIMAL(38,0)) * s.cx
                 - CAST(s.rn AS DECIMAL(38,0)) * m.sx AS sn
          FROM seq s CROSS JOIN mom m)
),
gam AS (
    SELECT j, CAST(sum(ua * ub) AS DECIMAL(38,0)) AS guu
    FROM (SELECT l.j,
                 CAST(m.n AS DECIMAL(38,0)) * a.cnt - m.sx AS ua,
                 CAST(m.n AS DECIMAL(38,0)) * b.cnt - m.sx AS ub
          FROM (SELECT unnest(generate_series(0, {_KPSS_LAG})) AS j) l
          JOIN daily a ON TRUE
          JOIN daily b ON b.t = a.t + l.j
          CROSS JOIN mom m)
    GROUP BY j
),
wide AS (
    SELECT m.n,
           CAST(CAST(s.ssq AS VARCHAR) AS DOUBLE) AS ssq,
           {", ".join(f"CAST(CAST(sum(CASE WHEN g.j = {j} THEN g.guu END) "
                      f"AS VARCHAR) AS DOUBLE) AS g{j}" for j in range(_KPSS_LAG + 1))}
    FROM gam g CROSS JOIN mom m CROSS JOIN snum s
    GROUP BY m.n, s.ssq
),
f AS (
    SELECT n, CAST(n AS DOUBLE) AS nd, ssq,
           (g0 + 2.0 * ({" + ".join(
               f"(1.0 - {j}.0 / {_KPSS_LAG + 1}.0) * g{j}"
               for j in range(1, _KPSS_LAG + 1))}))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                * CAST(n AS DOUBLE)) AS s2
    FROM wide
)
SELECT n AS n_days, CAST({_KPSS_LAG} AS INT) AS lag,
       {round_sql('s2')} AS s2_lrv,
       CASE WHEN s2 <= 0.0 THEN NULL
            ELSE {round_sql('ssq / (nd * nd * nd * nd) / s2')}
       END AS kpss_eta
FROM f
""")
def kpss_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity eta over the daily count series with a
    Bartlett(l=3) long-run variance — exact integer numerators, one
    shared double expression."""
    ev = load_table(spark, sf_dir, "events")
    # daily feeds mom + the prefix scan + both gamma lag sides — a
    # lazy localCheckpoint derives the corpus groupBy ONCE (the
    # adamic_adar treatment; 18 -> ~6 exchanges in the audit)
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    mom = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("cnt").cast("long").alias("sx"))
    w = Window.orderBy("t")
    seq = (daily.withColumn("rn", F.row_number().over(w))
           .withColumn("cx", F.sum("cnt").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sn = (seq.crossJoin(F.broadcast(mom))
          .select((dec(F.col("n")) * F.col("cx")
                   - dec(F.col("rn")) * F.col("sx")).alias("sn")))
    snum = sn.agg(dec(F.sum(F.col("sn") * F.col("sn"))).alias("ssq"))
    lags = spark.range(0, _KPSS_LAG + 1).select(
        F.col("id").cast("int").alias("j"))
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("xa"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    gam = (lags.crossJoin(F.broadcast(a))
           .join(F.broadcast(b), F.col("tb") == F.col("ta") + F.col("j"))
           .crossJoin(F.broadcast(mom))
           .select("j", (dec(F.col("n")) * F.col("xa") - F.col("sx"))
                   .alias("ua"),
                   (dec(F.col("n")) * F.col("xb") - F.col("sx"))
                   .alias("ub"))
           .groupBy("j")
           .agg(dec(F.sum(F.col("ua") * F.col("ub"))).alias("guu")))
    wide = (gam.crossJoin(F.broadcast(mom))
            .crossJoin(F.broadcast(snum))
            .groupBy("n", "ssq")
            .agg(*[F.sum(F.when(F.col("j") == j, F.col("guu")))
                   .cast("string").cast("double").alias(f"g{j}")
                   for j in range(_KPSS_LAG + 1)])
            .withColumn("ssqd",
                        F.col("ssq").cast("string").cast("double")))
    nd = F.col("n").cast("double")
    # weight terms fold left-to-right exactly as the oracle's
    # parenthesized sum; the leading 0.0 seed is IEEE-exact
    wsum = F.lit(0.0)
    for j in range(1, _KPSS_LAG + 1):
        wsum = wsum + (1.0 - j / (_KPSS_LAG + 1.0)) * F.col(f"g{j}")
    s2 = (F.col("g0") + 2.0 * wsum) / (nd * nd * nd)
    return wide.select(
        F.col("n").alias("n_days"),
        F.lit(_KPSS_LAG).cast("int").alias("lag"),
        F.round(s2, 6).alias("s2_lrv"),
        F.when(s2 <= 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("ssqd") / (nd * nd * nd * nd) / s2, 6))
        .alias("kpss_eta"))


# ---------------------------------------------------------------------------
# Augmented(0) Dickey-Fuller unit-root regression (Dickey & Fuller
# 1979, public): OLS of dx_t = alpha + rho * x_{t-1} on the daily
# grid; the DF test statistic is rho / se(rho). Moments are exact
# integers (lag-1 self-join on the bounded day grid); the t-statistic
# is one shared double expression with explicit degenerate branches.
# ---------------------------------------------------------------------------

_ADF_T = ("CASE WHEN m <= 2 OR md * szz - szd * szd <= 0.0 THEN NULL "
          "ELSE (md * szy - szd * syd) / (md * szz - szd * szd) END")


@register("adf_unit_root", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
pairs AS (
    SELECT a.cnt AS z, b.cnt - a.cnt AS y
    FROM daily a JOIN daily b ON b.t = a.t + 1
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(z) AS BIGINT) AS sz, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS szz,
           CAST(sum(CAST(z AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS szy,
           CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
    FROM pairs
),
f AS (
    SELECT m, CAST(m AS DOUBLE) AS md,
           CAST(sz AS DOUBLE) AS szd, CAST(sy AS DOUBLE) AS syd,
           CAST(CAST(szz AS VARCHAR) AS DOUBLE) AS szz,
           CAST(CAST(szy AS VARCHAR) AS DOUBLE) AS szy,
           CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy
    FROM mom
),
coef AS (
    SELECT *, {_ADF_T} AS rho FROM f
),
fit AS (
    SELECT *,
           CASE WHEN rho IS NULL THEN NULL
                ELSE (syd - rho * szd) / md END AS alpha,
           CASE WHEN rho IS NULL THEN NULL
                ELSE syy - ((syd - rho * szd) / md) * syd - rho * szy
           END AS rss
    FROM coef
)
SELECT m AS n_diffs,
       {round_sql('rho')} + 0.0 AS rho_hat,
       {round_sql('alpha')} + 0.0 AS alpha_hat,
       CASE WHEN rho IS NULL OR rss <= 0.0
              OR szz - szd * szd / md <= 0.0 THEN NULL
            ELSE {round_sql('rho / sqrt((rss / (md - 2.0))'
                            ' / (szz - szd * szd / md))')}
       END AS df_t
FROM fit
""")
def adf_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root regression dx ~ alpha + rho * lag(x)
    over the daily counts; reports rho, alpha, and the DF t-statistic
    from exact integer moments."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("z"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pairs = (a.join(F.broadcast(b), F.col("tb") == F.col("ta") + 1)
             .select("z", (F.col("xb") - F.col("z")).alias("y")))
    mom = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("z").cast("long").alias("sz"),
        F.sum("y").cast("long").alias("sy"),
        dec(F.sum(dec(F.col("z")) * F.col("z"))).alias("szz"),
        dec(F.sum(dec(F.col("z")) * F.col("y"))).alias("szy"),
        dec(F.sum(dec(F.col("y")) * F.col("y"))).alias("syy"))
    md = F.col("m").cast("double")
    szd, syd = F.col("sz").cast("double"), F.col("sy").cast("double")
    szz = F.col("szz").cast("string").cast("double")
    szy = F.col("szy").cast("string").cast("double")
    syy = F.col("syy").cast("string").cast("double")
    rho = (F.when((F.col("m") <= 2)
                  | (md * szz - szd * szd <= 0.0),
                  F.lit(None).cast("double"))
           .otherwise((md * szy - szd * syd)
                      / (md * szz - szd * szd)))
    coef = mom.select("m", md.alias("md"), szd.alias("szd"),
                      syd.alias("syd"), szz.alias("szz"),
                      szy.alias("szy"), syy.alias("syy"),
                      rho.alias("rho"))
    md2 = F.col("md")
    alpha = (F.when(F.col("rho").isNull(), F.lit(None).cast("double"))
             .otherwise((F.col("syd") - F.col("rho") * F.col("szd"))
                        / md2))
    rss = (F.when(F.col("rho").isNull(), F.lit(None).cast("double"))
           .otherwise(F.col("syy")
                      - ((F.col("syd") - F.col("rho") * F.col("szd"))
                         / md2) * F.col("syd")
                      - F.col("rho") * F.col("szy")))
    fit = coef.withColumn("alpha", alpha).withColumn("rss", rss)
    se_den = F.col("szz") - F.col("szd") * F.col("szd") / md2
    df_t = (F.when(F.col("rho").isNull() | (F.col("rss") <= 0.0)
                   | (se_den <= 0.0), F.lit(None).cast("double"))
            .otherwise(F.round(
                F.col("rho") / F.sqrt((F.col("rss") / (md2 - 2.0))
                                      / se_den), 6)))
    return fit.select(
        F.col("m").alias("n_diffs"),
        (F.round("rho", 6) + 0.0).alias("rho_hat"),
        (F.round("alpha", 6) + 0.0).alias("alpha_hat"),
        df_t.alias("df_t"))


# ---------------------------------------------------------------------------
# Rescaled-range Hurst exponent (Hurst 1951 / Mandelbrot-Wallis,
# public) over the HOURLY count sequence (by position in hour order —
# gap-robust): for each dyadic block size B in _HURST_SIZES, complete
# blocks only, R = range of within-block cumulative deviations (exact
# integers scaled by B), S = population std; H = the OLS slope of
# ln E[R/S] on ln B. The per-size mean of R/S is an order-pinned fold
# over the (bounded, <= hours/8) block list; the 4-point regression
# collapses to a closed form with literal ln(B) abscissae.
# ---------------------------------------------------------------------------

_HURST_SIZES = (8, 16, 32, 64)


def _hurst_lnb():
    """Centered ln(B) abscissae and their sum of squares, computed
    ONCE in Python and embedded as shortest-repr literals in BOTH
    engines (the random_planes literal discipline) — so the 4-point
    regression arithmetic is identical by construction."""
    import math

    lnb = [math.log(float(b)) for b in _HURST_SIZES]
    mlx = sum(lnb) / len(lnb)
    dxs = [x - mlx for x in lnb]
    sxx = sum(d * d for d in dxs)
    return dxs, sxx


def _hurst_oracle() -> str:
    dxs, sxx_l = _hurst_lnb()
    ycols = ", ".join(
        f"sum(CASE WHEN b = {b} THEN ln(mean_rs) END) AS y{b}"
        for b in _HURST_SIZES)
    my = "(0.0 + " + " + ".join(f"y{b}" for b in _HURST_SIZES) + \
        f") / {float(len(_HURST_SIZES))!r}"
    sxy = "0.0"
    for d, b in zip(dxs, _HURST_SIZES):
        sxy += f" + ({d!r}) * (y{b} - my)"
    nullchk = " OR ".join(f"y{b} IS NULL" for b in _HURST_SIZES)
    return f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
    FROM events GROUP BY 1
),
seq AS (SELECT cnt, row_number() OVER (ORDER BY h) AS rn FROM hourly),
tagged AS (
    SELECT s.b, q.cnt,
           CAST(floor((q.rn - 1) / s.b) AS BIGINT) AS blk,
           (q.rn - 1) % s.b + 1 AS i
    FROM (SELECT unnest([{", ".join(str(b) for b in _HURST_SIZES)}])
            AS b) s
    CROSS JOIN seq q
),
scan AS (
    SELECT *, sum(cnt) OVER (PARTITION BY b, blk ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS ci
    FROM tagged
),
blocks AS (
    SELECT b, blk, CAST(sum(cnt) AS BIGINT) AS sx,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt)
                AS DECIMAL(38,0)) AS sxx
    FROM scan GROUP BY b, blk
    HAVING count(*) = b
),
devs AS (
    SELECT s.b, s.blk,
           CAST(s.b AS DECIMAL(38,0)) * s.ci
           - CAST(s.i AS DECIMAL(38,0)) * k.sx AS snb
    FROM scan s JOIN blocks k ON k.b = s.b AND k.blk = s.blk
),
rng AS (
    SELECT b, blk, max(snb) AS mx, min(snb) AS mn
    FROM devs GROUP BY b, blk
),
per_block AS (
    SELECT k.b, k.blk,
           CAST(CAST(r.mx - r.mn AS VARCHAR) AS DOUBLE)
             / CAST(k.b AS DOUBLE) AS r,
           sqrt((CAST(CAST(k.sxx AS VARCHAR) AS DOUBLE)
                 - CAST(k.sx AS DOUBLE) * k.sx / CAST(k.b AS DOUBLE))
                / CAST(k.b AS DOUBLE)) AS s
    FROM blocks k JOIN rng r ON r.b = k.b AND r.blk = k.blk
),
kept AS (SELECT * FROM per_block WHERE s > 0.0),
per_size AS (
    SELECT b, CAST(count(*) AS BIGINT) AS n_blocks,
           {ordered_sum_sql("r / s", "blk")} AS srs
    FROM kept GROUP BY b
),
ps2 AS (
    SELECT b, n_blocks, srs / CAST(n_blocks AS DOUBLE) AS mean_rs
    FROM per_size
),
wide AS (SELECT {ycols} FROM ps2),
m AS (SELECT *, {my} AS my FROM wide),
h AS (
    SELECT CASE WHEN {nullchk} THEN NULL
                ELSE ({sxy}) / ({sxx_l!r}) END AS hurst
    FROM m
)
SELECT CAST(p.b AS INT) AS block_size, p.n_blocks,
       {round_sql('p.mean_rs')} AS mean_rs,
       {round_sql('h.hurst')} AS hurst
FROM ps2 p CROSS JOIN h
"""


@register("hurst_rs_exponent", lambda: _hurst_oracle())
def hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R/S Hurst exponent over hourly counts: per-block rescaled
    ranges at sizes 8/16/32/64, order-pinned per-size means, 4-point
    log-log OLS slope repeated per size row."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count("*").alias("cnt")))
    seq = hourly.withColumn(
        "rn", F.row_number().over(Window.orderBy("h")))
    sizes = local_relation(spark, [(b,) for b in _HURST_SIZES], "b int")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tagged = (sizes.crossJoin(seq)
              .select("b", "cnt",
                      F.floor((F.col("rn") - 1) / F.col("b"))
                      .alias("blk"),
                      ((F.col("rn") - 1) % F.col("b") + 1).alias("i")))
    wb = Window.partitionBy("b", "blk").orderBy("i")
    # exact scaled cumulative deviation: B*S_i = B*C_i - i*sum(x)
    scan = (tagged.withColumn("ci", F.sum("cnt").over(
        wb.rowsBetween(Window.unboundedPreceding, 0)))
            .localCheckpoint(eager=False))
    blocks = (scan.groupBy("b", "blk")
              .agg(F.count("*").alias("nb"),
                   F.sum("cnt").cast("long").alias("sx"),
                   dec(F.sum(dec(F.col("cnt")) * F.col("cnt")))
                   .alias("sxx"))
              .filter(F.col("nb") == F.col("b")))
    devs = (scan.join(blocks.select("b", "blk", "sx"), ["b", "blk"])
            .select("b", "blk",
                    (dec(F.col("b")) * F.col("ci")
                     - dec(F.col("i")) * F.col("sx")).alias("snb")))
    rng = (devs.groupBy("b", "blk")
           .agg(F.max("snb").alias("mx"), F.min("snb").alias("mn")))
    bd = F.col("b").cast("double")
    per_block = (blocks.join(rng, ["b", "blk"])
                 .select("b", "blk",
                         ((F.col("mx") - F.col("mn"))
                          .cast("string").cast("double") / bd)
                         .alias("r"),
                         F.sqrt((F.col("sxx").cast("string")
                                 .cast("double")
                                 - F.col("sx").cast("double")
                                 * F.col("sx") / bd) / bd).alias("s")))
    # order-pinned per-size mean of r/s over blocks (skip s == 0)
    kept = per_block.filter(F.col("s") > 0.0)
    per_size = (kept.groupBy("b")
                .agg(F.count("*").cast("long").alias("n_blocks"),
                     ordered_sum(F.col("r") / F.col("s"), "blk")
                     .alias("srs")))
    per_size = per_size.withColumn(
        "mean_rs", F.col("srs") / F.col("n_blocks").cast("double"))
    dxs, sxx_l = _hurst_lnb()
    wide = per_size.agg(
        *[F.sum(F.when(F.col("b") == b, F.log(F.col("mean_rs"))))
          .alias(f"y{b}") for b in _HURST_SIZES])
    ys = [F.col(f"y{b}") for b in _HURST_SIZES]
    my = F.lit(0.0)
    for y in ys:
        my = my + y
    my = my / float(len(_HURST_SIZES))
    sxy = F.lit(0.0)
    for dx, y in zip(dxs, ys):
        sxy = sxy + F.lit(dx) * (y - my)
    any_null = ys[0].isNull()
    for y in ys[1:]:
        any_null = any_null | y.isNull()
    hurst = (F.when(any_null, F.lit(None).cast("double"))
             .otherwise(sxy / F.lit(sxx_l)))
    hrow = wide.select(F.round(hurst, 6).alias("hurst"))
    return (per_size.crossJoin(F.broadcast(hrow))
            .select(F.col("b").cast("int").alias("block_size"),
                    "n_blocks",
                    F.round("mean_rs", 6).alias("mean_rs"),
                    "hurst"))


# ---------------------------------------------------------------------------
# Granger lead-lag F-test (Granger 1969, public): does yesterday's
# view count improve the 1-lag autoregression of today's purchase
# count?  Restricted OLS p_t ~ a + b p_{t-1} vs unrestricted
# p_t ~ a + b p_{t-1} + c v_{t-1} (3x3 normal equations solved in
# closed Cramer form), F = (RSS_r - RSS_u) / (RSS_u / (m - 3)).
# Sample: days where all three series values exist (inner lag join on
# the bounded day grid). Exact integer moments -> one shared double
# expression per coefficient.
# ---------------------------------------------------------------------------

_GRANGER_D = ("(m2 * (suu * sww - suw * suw)"
              " - su * (su * sww - suw * sw)"
              " + sw * (su * suw - suu * sw))")
_GRANGER_DB = ("(m2 * (suy * sww - suw * swy)"
               " - sy * (su * sww - suw * sw)"
               " + sw * (su * swy - suy * sw))")
_GRANGER_DC = ("(m2 * (suu * swy - suw * suy)"
               " - su * (su * swy - suy * sw)"
               " + sy * (su * suw - suu * sw))")
_GRANGER_DA = ("(sy * (suu * sww - suw * suw)"
               " - su * (suy * sww - suw * swy)"
               " + sw * (suy * suw - suu * swy))")


@register("granger_views_purchases", f"""
WITH v AS ({_DAILY_SQL.format(where="WHERE event_type = 'view'")}),
p AS ({_DAILY_SQL.format(where="WHERE event_type = 'purchase'")}),
rows_in AS (
    SELECT p1.cnt AS y, p0.cnt AS u, v0.cnt AS w
    FROM p p1
    JOIN p p0 ON p0.t = p1.t - 1
    JOIN v v0 ON v0.t = p1.t - 1
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(y) AS BIGINT) AS isy,
           CAST(sum(u) AS BIGINT) AS isu,
           CAST(sum(w) AS BIGINT) AS isw,
           CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS isyy,
           CAST(sum(CAST(u AS DECIMAL(38,0)) * u) AS DECIMAL(38,0)) AS isuu,
           CAST(sum(CAST(w AS DECIMAL(38,0)) * w) AS DECIMAL(38,0)) AS isww,
           CAST(sum(CAST(u AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS isuy,
           CAST(sum(CAST(w AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS iswy,
           CAST(sum(CAST(u AS DECIMAL(38,0)) * w) AS DECIMAL(38,0)) AS isuw
    FROM rows_in
),
f AS (
    SELECT m, CAST(m AS DOUBLE) AS m2,
           CAST(isy AS DOUBLE) AS sy, CAST(isu AS DOUBLE) AS su,
           CAST(isw AS DOUBLE) AS sw,
           CAST(CAST(isyy AS VARCHAR) AS DOUBLE) AS syy,
           CAST(CAST(isuu AS VARCHAR) AS DOUBLE) AS suu,
           CAST(CAST(isww AS VARCHAR) AS DOUBLE) AS sww,
           CAST(CAST(isuy AS VARCHAR) AS DOUBLE) AS suy,
           CAST(CAST(iswy AS VARCHAR) AS DOUBLE) AS swy,
           CAST(CAST(isuw AS VARCHAR) AS DOUBLE) AS suw
    FROM mom
),
rfit AS (
    SELECT *,
           CASE WHEN m <= 3 OR m2 * suu - su * su <= 0.0 THEN NULL
                ELSE (m2 * suy - su * sy) / (m2 * suu - su * su)
           END AS br
    FROM f
),
rr AS (
    SELECT *,
           CASE WHEN br IS NULL THEN NULL
                ELSE syy - ((sy - br * su) / m2) * sy - br * suy
           END AS rss_r
    FROM rfit
),
ufit AS (
    SELECT *, {_GRANGER_D} AS det FROM rr
),
uu AS (
    SELECT *,
           CASE WHEN br IS NULL OR det <= 0.0 THEN NULL
                ELSE {_GRANGER_DA} / det END AS ca,
           CASE WHEN br IS NULL OR det <= 0.0 THEN NULL
                ELSE {_GRANGER_DB} / det END AS cb,
           CASE WHEN br IS NULL OR det <= 0.0 THEN NULL
                ELSE {_GRANGER_DC} / det END AS cc
    FROM ufit
),
fin AS (
    SELECT *,
           CASE WHEN cb IS NULL THEN NULL
                ELSE syy - ca * sy - cb * suy - cc * swy END AS rss_u
    FROM uu
)
SELECT m AS n_obs,
       {round_sql('br')} + 0.0 AS ar1_coef,
       {round_sql('cb')} + 0.0 AS lag_p_coef,
       {round_sql('cc')} + 0.0 AS lag_v_coef,
       {round_sql('rss_r')} AS rss_restricted,
       {round_sql('rss_u')} AS rss_unrestricted,
       CASE WHEN rss_u IS NULL OR rss_u <= 0.0 THEN NULL
            ELSE {round_sql('(rss_r - rss_u) / (rss_u / (m2 - 3.0))')}
       END AS granger_f
FROM fin
""")
def granger_views_purchases(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Granger 1-lag F: do lagged views improve the purchase AR(1)?
    Cramer-form 3x3 OLS from exact integer moments."""
    ev = load_table(spark, sf_dir, "events")
    v = _daily_counts(ev, "view").select(
        F.col("t").alias("tv"), F.col("cnt").alias("w"))
    p = _daily_counts(ev, "purchase")
    p1 = p.select(F.col("t").alias("t1"), F.col("cnt").alias("y"))
    p0 = p.select(F.col("t").alias("t0"), F.col("cnt").alias("u"))
    rows_in = (p1.join(F.broadcast(p0), F.col("t0") == F.col("t1") - 1)
               .join(F.broadcast(v), F.col("tv") == F.col("t1") - 1)
               .select("y", "u", "w"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = rows_in.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("y").cast("long").alias("isy"),
        F.sum("u").cast("long").alias("isu"),
        F.sum("w").cast("long").alias("isw"),
        dec(F.sum(dec(F.col("y")) * F.col("y"))).alias("isyy"),
        dec(F.sum(dec(F.col("u")) * F.col("u"))).alias("isuu"),
        dec(F.sum(dec(F.col("w")) * F.col("w"))).alias("isww"),
        dec(F.sum(dec(F.col("u")) * F.col("y"))).alias("isuy"),
        dec(F.sum(dec(F.col("w")) * F.col("y"))).alias("iswy"),
        dec(F.sum(dec(F.col("u")) * F.col("w"))).alias("isuw"))
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    f = mom.select(
        "m", F.col("m").cast("double").alias("m2"),
        F.col("isy").cast("double").alias("sy"),
        F.col("isu").cast("double").alias("su"),
        F.col("isw").cast("double").alias("sw"),
        sd("isyy").alias("syy"), sd("isuu").alias("suu"),
        sd("isww").alias("sww"), sd("isuy").alias("suy"),
        sd("iswy").alias("swy"), sd("isuw").alias("suw"))
    m2, sy, su, sw = (F.col("m2"), F.col("sy"), F.col("su"),
                      F.col("sw"))
    syy, suu, sww = F.col("syy"), F.col("suu"), F.col("sww")
    suy, swy, suw = F.col("suy"), F.col("swy"), F.col("suw")
    br = (F.when((F.col("m") <= 3) | (m2 * suu - su * su <= 0.0),
                 F.lit(None).cast("double"))
          .otherwise((m2 * suy - su * sy) / (m2 * suu - su * su)))
    rr = f.withColumn("br", br)
    rss_r = (F.when(F.col("br").isNull(), F.lit(None).cast("double"))
             .otherwise(syy - ((sy - F.col("br") * su) / m2) * sy
                        - F.col("br") * suy))
    rr = rr.withColumn("rss_r", rss_r)
    det = (m2 * (suu * sww - suw * suw)
           - su * (su * sww - suw * sw)
           + sw * (su * suw - suu * sw))
    rr = rr.withColumn("det", det)
    bad = F.col("br").isNull() | (F.col("det") <= 0.0)
    da = (sy * (suu * sww - suw * suw)
          - su * (suy * sww - suw * swy)
          + sw * (suy * suw - suu * swy))
    db = (m2 * (suy * sww - suw * swy)
          - sy * (su * sww - suw * sw)
          + sw * (su * swy - suy * sw))
    dc = (m2 * (suu * swy - suw * suy)
          - su * (su * swy - suy * sw)
          + sy * (su * suw - suu * sw))
    nulld = F.lit(None).cast("double")
    uu = (rr.withColumn("ca", F.when(bad, nulld)
                        .otherwise(da / F.col("det")))
          .withColumn("cb", F.when(bad, nulld)
                      .otherwise(db / F.col("det")))
          .withColumn("cc", F.when(bad, nulld)
                      .otherwise(dc / F.col("det"))))
    rss_u = (F.when(F.col("cb").isNull(), nulld)
             .otherwise(syy - F.col("ca") * sy - F.col("cb") * suy
                        - F.col("cc") * swy))
    fin = uu.withColumn("rss_u", rss_u)
    gf = (F.when(F.col("rss_u").isNull() | (F.col("rss_u") <= 0.0),
                 nulld)
          .otherwise(F.round((F.col("rss_r") - F.col("rss_u"))
                             / (F.col("rss_u") / (m2 - 3.0)), 6)))
    return fin.select(
        F.col("m").alias("n_obs"),
        (F.round("br", 6) + 0.0).alias("ar1_coef"),
        (F.round("cb", 6) + 0.0).alias("lag_p_coef"),
        (F.round("cc", 6) + 0.0).alias("lag_v_coef"),
        F.round("rss_r", 6).alias("rss_restricted"),
        F.round("rss_u", 6).alias("rss_unrestricted"),
        gf.alias("granger_f"))


# ---------------------------------------------------------------------------
# Western-Electric control-chart rules (WE handbook 1956, public)
# over the daily count series, Phase-I limits (center/sigma from the
# WHOLE series' exact integer moments):
#   R1: |z| > 3;  R2: >= 2 of the trailing 3 beyond 2 sigma on one
#   side;  R3: >= 4 of the trailing 5 beyond 1 sigma on one side;
#   R4: all trailing 8 on one side of center.
# The z expression and every side indicator share one spelling in
# both engines; rule windows run over the bounded day grid.
# ---------------------------------------------------------------------------

@register("spc_western_electric", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cnt) AS BIGINT) AS sx,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt)
                AS DECIMAL(38,0)) AS sxx
    FROM daily
),
z AS (
    -- zero-variance guard: ANSI division by zero is an ERROR in
    -- Spark 4; a constant series yields NULL z (and the downstream
    -- CASE flags fall to their ELSE in both engines identically)
    SELECT d.t, d.cnt,
           CASE WHEN m.n * CAST(CAST(m.sxx AS VARCHAR) AS DOUBLE)
                     - CAST(m.sx AS DOUBLE) * m.sx <= 0.0 THEN NULL
                ELSE (CAST(d.cnt AS DOUBLE)
                      - CAST(m.sx AS DOUBLE) / m.n)
                     / (sqrt(m.n * CAST(CAST(m.sxx AS VARCHAR)
                                        AS DOUBLE)
                             - CAST(m.sx AS DOUBLE) * m.sx) / m.n)
           END AS zv
    FROM daily d CROSS JOIN mom m
),
flags AS (
    SELECT t, cnt, zv,
           CASE WHEN zv > 2.0 THEN 1 ELSE 0 END AS a2,
           CASE WHEN zv < -2.0 THEN 1 ELSE 0 END AS b2,
           CASE WHEN zv > 1.0 THEN 1 ELSE 0 END AS a1,
           CASE WHEN zv < -1.0 THEN 1 ELSE 0 END AS b1,
           CASE WHEN zv > 0.0 THEN 1 ELSE 0 END AS a0,
           CASE WHEN zv < 0.0 THEN 1 ELSE 0 END AS b0
    FROM z
),
wins AS (
    SELECT t, cnt, zv,
           abs(zv) > 3.0 AS r1,
           count(*) OVER w3 >= 3 AND (sum(a2) OVER w3 >= 2
                                      OR sum(b2) OVER w3 >= 2) AS r2,
           count(*) OVER w5 >= 5 AND (sum(a1) OVER w5 >= 4
                                      OR sum(b1) OVER w5 >= 4) AS r3,
           count(*) OVER w8 >= 8 AND (sum(a0) OVER w8 >= 8
                                      OR sum(b0) OVER w8 >= 8) AS r4
    FROM flags
    WINDOW w3 AS (ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           w5 AS (ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w8 AS (ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT CAST(t AS BIGINT) AS t, CAST(cnt AS BIGINT) AS cnt,
       {round_sql('zv')} + 0.0 AS z, r1, r2, r3, r4
FROM wins
""")
def spc_western_electric(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Western-Electric rules R1-R4 per day on the daily count chart
    (Phase-I limits from the whole series)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("sx"),
        dec(F.sum(dec(F.col("cnt")) * F.col("cnt"))).alias("sxx"))
    nd = F.col("n")
    var_n = (nd * F.col("sxx").cast("string").cast("double")
             - F.col("sx").cast("double") * F.col("sx"))
    zv = (F.when(var_n <= 0.0, F.lit(None).cast("double"))
          .otherwise((F.col("cnt").cast("double")
                      - F.col("sx").cast("double") / nd)
                     / (F.sqrt(var_n) / nd)))
    z = (daily.crossJoin(F.broadcast(mom))
         .select("t", "cnt", zv.alias("zv")))
    flg = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    flags = z.select(
        "t", "cnt", "zv",
        flg(F.col("zv") > 2.0).alias("a2"),
        flg(F.col("zv") < -2.0).alias("b2"),
        flg(F.col("zv") > 1.0).alias("a1"),
        flg(F.col("zv") < -1.0).alias("b1"),
        flg(F.col("zv") > 0.0).alias("a0"),
        flg(F.col("zv") < 0.0).alias("b0"))
    w3 = Window.orderBy("t").rowsBetween(-2, 0)
    w5 = Window.orderBy("t").rowsBetween(-4, 0)
    w8 = Window.orderBy("t").rowsBetween(-7, 0)
    wins = flags.select(
        F.col("t").cast("long").alias("t"),
        F.col("cnt").cast("long").alias("cnt"), "zv",
        (F.abs(F.col("zv")) > 3.0).alias("r1"),
        ((F.count("*").over(w3) >= 3)
         & ((F.sum("a2").over(w3) >= 2)
            | (F.sum("b2").over(w3) >= 2))).alias("r2"),
        ((F.count("*").over(w5) >= 5)
         & ((F.sum("a1").over(w5) >= 4)
            | (F.sum("b1").over(w5) >= 4))).alias("r3"),
        ((F.count("*").over(w8) >= 8)
         & ((F.sum("a0").over(w8) >= 8)
            | (F.sum("b0").over(w8) >= 8))).alias("r4"))
    return wins.select(
        "t", "cnt", (F.round("zv", 6) + 0.0).alias("z"),
        "r1", "r2", "r3", "r4")


# ---------------------------------------------------------------------------
# Partial autocorrelation via the Durbin-Levinson recursion (Durbin
# 1960, public), UNROLLED to lag 4: the autocovariance ratios
# r_j = gamma_j / gamma_0 come from the exact integer numerators of
# the KPSS gamma machinery (the 1/n^3 scale cancels in the ratio);
# phi_kk then unrolls to a fixed expression DAG over r1..r4 shared
# verbatim by both engines. Output: one row per lag with acf + pacf.
# ---------------------------------------------------------------------------

_PACF_K = 4


@register("pacf_durbin_levinson", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sx
    FROM daily
),
gam AS (
    SELECT j, CAST(sum(ua * ub) AS DECIMAL(38,0)) AS guu
    FROM (SELECT l.j,
                 CAST(m.n AS DECIMAL(38,0)) * a.cnt - m.sx AS ua,
                 CAST(m.n AS DECIMAL(38,0)) * b.cnt - m.sx AS ub
          FROM (SELECT unnest(generate_series(0, {_PACF_K})) AS j) l
          JOIN daily a ON TRUE
          JOIN daily b ON b.t = a.t + l.j
          CROSS JOIN mom m)
    GROUP BY j
),
wide AS (
    SELECT {", ".join(f"CAST(CAST(sum(CASE WHEN j = {j} THEN guu END) "
                      f"AS VARCHAR) AS DOUBLE) AS g{j}"
                      for j in range(_PACF_K + 1))}
    FROM gam
),
r AS (
    SELECT {", ".join(
        f"CASE WHEN g0 <= 0.0 THEN NULL ELSE g{j} / g0 END AS r{j}"
        for j in range(1, _PACF_K + 1))}
    FROM wide
),
d1 AS (SELECT *, r1 AS p11 FROM r),
d2 AS (
    SELECT *,
           CASE WHEN 1.0 - p11 * r1 = 0.0 THEN NULL
                ELSE (r2 - p11 * r1) / (1.0 - p11 * r1) END AS p22
    FROM d1
),
d2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM d2),
d3 AS (
    SELECT *,
           CASE WHEN 1.0 - (p21 * r1 + p22 * r2) = 0.0 THEN NULL
                ELSE (r3 - (p21 * r2 + p22 * r1))
                     / (1.0 - (p21 * r1 + p22 * r2)) END AS p33
    FROM d2b
),
d3b AS (
    SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM d3
),
d4 AS (
    SELECT *,
           CASE WHEN 1.0 - (p31 * r1 + p32 * r2 + p33 * r3) = 0.0
                THEN NULL
                ELSE (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
                     / (1.0 - (p31 * r1 + p32 * r2 + p33 * r3))
           END AS p44
    FROM d3b
)
SELECT CAST(lag AS INT) AS lag,
       {round_sql('acf')} + 0.0 AS acf,
       {round_sql('pacf')} + 0.0 AS pacf
FROM (
    SELECT 1 AS lag, r1 AS acf, p11 AS pacf FROM d4
    UNION ALL SELECT 2, r2, p22 FROM d4
    UNION ALL SELECT 3, r3, p33 FROM d4
    UNION ALL SELECT 4, r4, p44 FROM d4
)
""")
def pacf_durbin_levinson(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """PACF lags 1-4 of the daily count series via the unrolled
    Durbin-Levinson recursion on exact autocovariance ratios."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    mom = daily.agg(F.count("*").cast("long").alias("n"),
                    F.sum("cnt").cast("long").alias("sx"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    lags = spark.range(0, _PACF_K + 1).select(
        F.col("id").cast("int").alias("j"))
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("xa"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    gam = (lags.crossJoin(F.broadcast(a))
           .join(F.broadcast(b), F.col("tb") == F.col("ta") + F.col("j"))
           .crossJoin(F.broadcast(mom))
           .select("j", (dec(F.col("n")) * F.col("xa") - F.col("sx"))
                   .alias("ua"),
                   (dec(F.col("n")) * F.col("xb") - F.col("sx"))
                   .alias("ub"))
           .groupBy("j")
           .agg(dec(F.sum(F.col("ua") * F.col("ub"))).alias("guu")))
    wide = gam.agg(*[
        F.sum(F.when(F.col("j") == j, F.col("guu")))
        .cast("string").cast("double").alias(f"g{j}")
        for j in range(_PACF_K + 1)])
    nulld = F.lit(None).cast("double")
    r = wide.select(*[
        F.when(F.col("g0") <= 0.0, nulld)
        .otherwise(F.col(f"g{j}") / F.col("g0")).alias(f"r{j}")
        for j in range(1, _PACF_K + 1)])
    r1, r2 = F.col("r1"), F.col("r2")
    r3, r4 = F.col("r3"), F.col("r4")
    d = r.withColumn("p11", r1)
    p11 = F.col("p11")
    d = d.withColumn(
        "p22", F.when(F.lit(1.0) - p11 * r1 == 0.0, nulld)
        .otherwise((r2 - p11 * r1) / (F.lit(1.0) - p11 * r1)))
    p22 = F.col("p22")
    d = d.withColumn("p21", p11 - p22 * p11)
    p21 = F.col("p21")
    d = d.withColumn(
        "p33",
        F.when(F.lit(1.0) - (p21 * r1 + p22 * r2) == 0.0, nulld)
        .otherwise((r3 - (p21 * r2 + p22 * r1))
                   / (F.lit(1.0) - (p21 * r1 + p22 * r2))))
    p33 = F.col("p33")
    d = (d.withColumn("p31", p21 - p33 * p22)
         .withColumn("p32", p22 - p33 * p21))
    p31, p32 = F.col("p31"), F.col("p32")
    d = d.withColumn(
        "p44",
        F.when(F.lit(1.0) - (p31 * r1 + p32 * r2 + p33 * r3) == 0.0,
               nulld)
        .otherwise((r4 - (p31 * r3 + p32 * r2 + p33 * r1))
                   / (F.lit(1.0)
                      - (p31 * r1 + p32 * r2 + p33 * r3))))
    rows = None
    for lag, (ac, pc) in enumerate(
            [("r1", "p11"), ("r2", "p22"), ("r3", "p33"),
             ("r4", "p44")], start=1):
        leg = d.select(F.lit(lag).cast("int").alias("lag"),
                       (F.round(F.col(ac), 6) + 0.0).alias("acf"),
                       (F.round(F.col(pc), 6) + 0.0).alias("pacf"))
        rows = leg if rows is None else rows.unionAll(leg)
    return rows


# ---------------------------------------------------------------------------
# Binary-segmentation changepoints, depth 2 (Scott & Knott 1974 /
# binary segmentation, public): the split minimizing total
# within-segment SSE (equivalently maximizing gain = SSE_seg -
# SSE_left - SSE_right) on the daily series, then the best sub-split
# of each child. SSE terms come from exact integer prefix sums; gain
# is one shared double expression, argmax ties break on the earliest
# position. Emits the root and both children (NULL split when a
# child has < 2 positions).
# ---------------------------------------------------------------------------

_BINSEG_COST = ("(CAST(CAST(qq AS VARCHAR) AS DOUBLE)"
                " - CAST(q AS DOUBLE) * q / len)")


@register("binseg_double_changepoint", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
seq AS (
    SELECT t, cnt, row_number() OVER (ORDER BY t) AS rn,
           CAST(sum(cnt) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS c,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt)
                OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                AS DECIMAL(38,0)) AS cc
    FROM daily
),
tot AS (
    SELECT max(rn) AS n, max(c) AS cn,
           max(cc) AS ccn
    FROM (SELECT * FROM seq WHERE rn = (SELECT max(rn) FROM seq))
),
cost AS (
    SELECT s.rn, s.t, s.c, s.cc, o.n, o.cn, o.ccn
    FROM seq s CROSS JOIN tot o
),
g1 AS (
    SELECT rn, t,
           (SELECT {_BINSEG_COST.replace('qq', 'ccn').replace('q /', 'cn /').replace('CAST(q ', 'CAST(cn ')
                    .replace('len', 'CAST(n AS DOUBLE)')})
           - ({_BINSEG_COST.replace('qq', 'cc').replace('q /', 'c /').replace('CAST(q ', 'CAST(c ')
               .replace('len', 'CAST(rn AS DOUBLE)')})
           - ({_BINSEG_COST.replace('qq', '(ccn - cc)').replace('q /', '(cn - c) /').replace('CAST(q ', 'CAST((cn - c) ')
               .replace('len', 'CAST(n - rn AS DOUBLE)')}) AS gain
    FROM cost WHERE rn < n
),
t1 AS (
    SELECT rn AS rn1, t AS t1, gain AS gain1 FROM g1
    ORDER BY gain DESC, rn ASC LIMIT 1
),
b1 AS (
    SELECT c.rn, c.t, c.c, c.cc, c.n, c.cn, c.ccn,
           w.rn1, s1.c AS c1, s1.cc AS cc1
    FROM cost c CROSS JOIN t1 w
    JOIN seq s1 ON s1.rn = w.rn1
),
gl AS (
    -- left child [1..rn1]: candidates rn < rn1
    SELECT rn, t,
           (CAST(CAST(cc1 AS VARCHAR) AS DOUBLE)
            - CAST(c1 AS DOUBLE) * c1 / CAST(rn1 AS DOUBLE))
           - (CAST(CAST(cc AS VARCHAR) AS DOUBLE)
              - CAST(c AS DOUBLE) * c / CAST(rn AS DOUBLE))
           - (CAST(CAST(cc1 - cc AS VARCHAR) AS DOUBLE)
              - CAST(c1 - c AS DOUBLE) * (c1 - c)
                / CAST(rn1 - rn AS DOUBLE)) AS gain
    FROM b1 WHERE rn < rn1
),
gr AS (
    -- right child [rn1+1..n]: candidates rn1 < rn < n
    SELECT rn, t,
           (CAST(CAST(ccn - cc1 AS VARCHAR) AS DOUBLE)
            - CAST(cn - c1 AS DOUBLE) * (cn - c1)
              / CAST(n - rn1 AS DOUBLE))
           - (CAST(CAST(cc - cc1 AS VARCHAR) AS DOUBLE)
              - CAST(c - c1 AS DOUBLE) * (c - c1)
                / CAST(rn - rn1 AS DOUBLE))
           - (CAST(CAST(ccn - cc AS VARCHAR) AS DOUBLE)
              - CAST(cn - c AS DOUBLE) * (cn - c)
                / CAST(n - rn AS DOUBLE)) AS gain
    FROM b1 WHERE rn > rn1 AND rn < n
),
tl AS (SELECT rn, t, gain FROM gl ORDER BY gain DESC, rn ASC LIMIT 1),
tr AS (SELECT rn, t, gain FROM gr ORDER BY gain DESC, rn ASC LIMIT 1)
-- FROM-less legs throughout: every depth row survives a degenerate
-- series (empty t1) with NULL splits, matching the Spark side's
-- seeded left joins (review r12)
SELECT 1 AS depth, CAST(1 AS BIGINT) AS seg_lo,
       (SELECT CAST(n AS BIGINT) FROM tot) AS seg_hi,
       (SELECT CAST(rn1 AS BIGINT) FROM t1) AS split_rn,
       (SELECT CAST(t1 AS BIGINT) FROM t1) AS split_t,
       (SELECT {round_sql('gain1')} FROM t1) AS gain
UNION ALL
SELECT 2, CAST(1 AS BIGINT), (SELECT CAST(rn1 AS BIGINT) FROM t1),
       (SELECT CAST(rn AS BIGINT) FROM tl),
       (SELECT CAST(t AS BIGINT) FROM tl),
       (SELECT {round_sql('gain')} FROM tl)
UNION ALL
SELECT 3, (SELECT CAST(rn1 + 1 AS BIGINT) FROM t1),
       (SELECT CAST(n AS BIGINT) FROM tot),
       (SELECT CAST(rn AS BIGINT) FROM tr),
       (SELECT CAST(t AS BIGINT) FROM tr),
       (SELECT {round_sql('gain')} FROM tr)
""")
def binseg_double_changepoint(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Depth-2 binary-segmentation changepoints of the daily series
    by SSE gain from exact integer prefix sums (root + two children,
    earliest-position tie-break)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # the prefix-sum relation feeds the total row, level-1 gains,
    # the split lookup, and both child gain relations — derive once
    seq = daily.select(
        "t", "cnt",
        F.row_number().over(Window.orderBy("t")).alias("rn"),
        F.sum("cnt").over(w).cast("long").alias("c"),
        dec(F.sum(dec(F.col("cnt")) * F.col("cnt")).over(w))
        .alias("cc")).localCheckpoint(eager=False)
    n_row = seq.orderBy(F.col("rn").desc()).limit(1).select(
        F.col("rn").alias("n"), F.col("c").alias("cn"),
        F.col("cc").alias("ccn"))
    cost = seq.crossJoin(F.broadcast(n_row))

    def sse(qq, q, ln):
        return (qq.cast("string").cast("double")
                - q.cast("double") * q / ln.cast("double"))

    g1 = (cost.filter(F.col("rn") < F.col("n"))
          .select("rn", "t",
                  (sse(F.col("ccn"), F.col("cn"), F.col("n"))
                   - sse(F.col("cc"), F.col("c"), F.col("rn"))
                   - sse(F.col("ccn") - F.col("cc"),
                         F.col("cn") - F.col("c"),
                         F.col("n") - F.col("rn"))).alias("gain")))
    t1 = (g1.orderBy(F.col("gain").desc(), F.col("rn").asc()).limit(1)
          .select(F.col("rn").alias("rn1"), F.col("t").alias("t1v"),
                  F.col("gain").alias("gain1"))
          .localCheckpoint(eager=False))
    s1 = seq.select(F.col("rn").alias("rn1j"), F.col("c").alias("c1"),
                    F.col("cc").alias("cc1"))
    b1 = (cost.crossJoin(F.broadcast(t1))
          .join(F.broadcast(s1), F.col("rn1j") == F.col("rn1")))
    gl = (b1.filter(F.col("rn") < F.col("rn1"))
          .select("rn", "t",
                  (sse(F.col("cc1"), F.col("c1"), F.col("rn1"))
                   - sse(F.col("cc"), F.col("c"), F.col("rn"))
                   - sse(F.col("cc1") - F.col("cc"),
                         F.col("c1") - F.col("c"),
                         F.col("rn1") - F.col("rn"))).alias("gain")))
    gr = (b1.filter((F.col("rn") > F.col("rn1"))
                    & (F.col("rn") < F.col("n")))
          .select("rn", "t",
                  (sse(F.col("ccn") - F.col("cc1"),
                       F.col("cn") - F.col("c1"),
                       F.col("n") - F.col("rn1"))
                   - sse(F.col("cc") - F.col("cc1"),
                         F.col("c") - F.col("c1"),
                         F.col("rn") - F.col("rn1"))
                   - sse(F.col("ccn") - F.col("cc"),
                         F.col("cn") - F.col("c"),
                         F.col("n") - F.col("rn"))).alias("gain")))
    tl = gl.orderBy(F.col("gain").desc(), F.col("rn").asc()).limit(1)
    tr = gr.orderBy(F.col("gain").desc(), F.col("rn").asc()).limit(1)
    lng = lambda c: c.cast("long")  # noqa: E731
    # seed one literal row and LEFT-join everything onto it so a
    # degenerate series (< 2 daily rows -> empty t1/tl/tr) still
    # emits all three rows with NULL splits — matching the oracle's
    # FROM-less scalar-subquery legs (review r12: the previous
    # spelling dropped rows the oracle kept)
    seed = spark.range(1).select(F.lit(1).alias("_one"))
    base = (seed
            .join(F.broadcast(t1), F.lit(True), "left")
            .join(F.broadcast(n_row), F.lit(True), "left"))
    root = base.select(
        F.lit(1).cast("int").alias("depth"),
        F.lit(1).cast("long").alias("seg_lo"),
        lng(F.col("n")).alias("seg_hi"),
        lng(F.col("rn1")).alias("split_rn"),
        lng(F.col("t1v")).alias("split_t"),
        F.round("gain1", 6).alias("gain"))

    def child(depth, lo_col, hi_col, pick):
        b2 = base.join(F.broadcast(
            pick.select(F.col("rn").alias("prn"),
                        F.col("t").alias("pt"),
                        F.col("gain").alias("pg"))),
            F.lit(True), "left")
        return b2.select(
            F.lit(depth).cast("int").alias("depth"),
            lo_col.alias("seg_lo"), hi_col.alias("seg_hi"),
            lng(F.col("prn")).alias("split_rn"),
            lng(F.col("pt")).alias("split_t"),
            F.round("pg", 6).alias("gain"))

    left = child(2, F.lit(1).cast("long"), lng(F.col("rn1")), tl)
    right = child(3, lng(F.col("rn1") + 1), lng(F.col("n")), tr)
    return root.unionAll(left).unionAll(right)


# ---------------------------------------------------------------------------
# Batch B — k-sample rank statistics over the md5 order-value arms
# (the brown_forsythe/kruskal_wallis family): everything reduces to
# the (value, count) grid first, cumulative integers ride
# two_phase_ordered (no single-partition sort), and each statistic is
# a fixed-order expression over EXACT integer/decimal aggregates.
# ---------------------------------------------------------------------------

_R17_ARMS = 4
_R17_ARM = (f"CAST({md5_long_sql(chr(39) + 'r17:' + chr(39) + ' || CAST(o_custkey AS VARCHAR)')}"
            f" % {_R17_ARMS} AS INT)")
_R17_ARM2 = (f"CAST({md5_long_sql(chr(39) + 'r17b:' + chr(39) + ' || CAST(o_custkey AS VARCHAR)')}"
             f" % 2 AS INT)")
_YC = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _r17_arm_col(n_arms: int = _R17_ARMS, salt: str = "r17:"):
    return (md5_long(F.concat(F.lit(salt),
                              F.col("o_custkey").cast("string")))
            % n_arms).cast("int")


def _r17_yc_col():
    return ((F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long"))


# --- Mood's median test across the 4 arms ----------------------------------
#
# Counts above / at-or-below the POOLED lower median (the
# ceil(n/2)-th order statistic) per arm; chi-square over the 4x2
# table with expected = row_total * col_total / n. Pooled-median
# selection is a cumulative-count threshold on the value grid
# (two-phase cumsum, never a global sort of rows).
# ---------------------------------------------------------------------------

@register("mood_median_arms", f"""
WITH units AS (
    SELECT {_R17_ARM} AS arm, {_YC} AS yc FROM orders
),
vals AS (SELECT yc, count(*) AS cnt FROM units GROUP BY yc),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vals),
ranked AS (
    SELECT yc, sum(cnt) OVER (ORDER BY yc
                              ROWS UNBOUNDED PRECEDING) AS cum
    FROM vals
),
med AS (
    SELECT min(yc) AS mv FROM ranked CROSS JOIN tot
    WHERE cum >= (n + 1) // 2
),
per_arm AS (
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_arm,
           CAST(sum(CASE WHEN yc > mv THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above
    FROM units CROSS JOIN med GROUP BY arm
),
wide AS (
    SELECT CAST(sum(n_arm) AS BIGINT) AS n,
           CAST(sum(n_above) AS BIGINT) AS ta,
           {", ".join(f"CAST(sum(CASE WHEN arm = {a} THEN n_arm END) AS BIGINT) AS n{a}, "
                      f"CAST(sum(CASE WHEN arm = {a} THEN n_above END) AS BIGINT) AS a{a}"
                      for a in range(_R17_ARMS))}
    FROM per_arm
),
chi AS (
    SELECT CASE WHEN ta = 0 OR ta = n THEN NULL ELSE 0.0
           {"".join(f'''
           + (CAST(a{a} AS DOUBLE)
              - CAST(n{a} AS DOUBLE) * ta / n)
             * (CAST(a{a} AS DOUBLE) - CAST(n{a} AS DOUBLE) * ta / n)
             / (CAST(n{a} AS DOUBLE) * ta / n)
           + (CAST(n{a} - a{a} AS DOUBLE)
              - CAST(n{a} AS DOUBLE) * (n - ta) / n)
             * (CAST(n{a} - a{a} AS DOUBLE)
                - CAST(n{a} AS DOUBLE) * (n - ta) / n)
             / (CAST(n{a} AS DOUBLE) * (n - ta) / n)''' for a in range(_R17_ARMS))}
           END AS chi2
    FROM wide
)
SELECT p.arm, p.n_arm, p.n_above,
       CAST(p.n_arm - p.n_above AS BIGINT) AS n_at_or_below,
       (SELECT CAST(mv AS BIGINT) FROM med) AS pooled_median_cents,
       (SELECT {round_sql('chi2')} FROM chi) AS chi2
FROM per_arm p
""")
def mood_median_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the 4 md5 arms on order values:
    above/at-or-below the pooled lower median, fixed-order 4x2
    chi-square."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(_r17_arm_col().alias("arm"),
                          _r17_yc_col().alias("yc"))
    vals = (units.groupBy("yc").agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=False))
    tot = vals.agg(F.sum("cnt").cast("long").alias("n"))
    ranked = two_phase_ordered(
        vals, [F.col("yc").asc()], bucket_on=F.col("yc"),
        cumsum_cols={"cnt": "cum"})
    med = (ranked.crossJoin(F.broadcast(tot))
           .filter(F.col("cum") >= F.floor((F.col("n") + 1) / 2))
           .agg(F.min("yc").alias("mv")))
    per_arm = (units.crossJoin(F.broadcast(med))
               .groupBy("arm")
               .agg(F.count("*").cast("long").alias("n_arm"),
                    F.sum(F.when(F.col("yc") > F.col("mv"), 1)
                          .otherwise(0)).cast("long")
                    .alias("n_above")))
    wide = per_arm.agg(
        F.sum("n_arm").cast("long").alias("n"),
        F.sum("n_above").cast("long").alias("ta"),
        *[c for a in range(_R17_ARMS) for c in (
            F.sum(F.when(F.col("arm") == a, F.col("n_arm")))
            .cast("long").alias(f"n{a}"),
            F.sum(F.when(F.col("arm") == a, F.col("n_above")))
            .cast("long").alias(f"a{a}"))])
    n = F.col("n")
    ta = F.col("ta")
    chi = F.lit(0.0)
    for a in range(_R17_ARMS):
        na, aa_ = F.col(f"n{a}"), F.col(f"a{a}")
        ea = na.cast("double") * ta / n
        eb = na.cast("double") * (n - ta) / n
        chi = (chi + (aa_.cast("double") - ea)
               * (aa_.cast("double") - ea) / ea
               + ((na - aa_).cast("double") - eb)
               * ((na - aa_).cast("double") - eb) / eb)
    chirow = wide.select(
        F.when((ta == 0) | (ta == n), F.lit(None).cast("double"))
        .otherwise(chi).alias("chi2"))
    return (per_arm.crossJoin(F.broadcast(med))
            .crossJoin(F.broadcast(chirow))
            .select("arm", "n_arm", "n_above",
                    (F.col("n_arm") - F.col("n_above")).cast("long")
                    .alias("n_at_or_below"),
                    F.col("mv").cast("long")
                    .alias("pooled_median_cents"),
                    F.round("chi2", 6).alias("chi2")))


# --- two-sample Cramér-von Mises over the md5 parity split -----------------
#
# ECDF form at the pooled distinct values (right-continuous, exactly
# what the discrete data defines):
#   T = n*m/(n+m)^2 * sum_j l_j * (F_n(v_j) - G_m(v_j))^2
# With integer cumulative counts cA, cB this is EXACT:
#   sum_j l_j * (m*cA_j - n*cB_j)^2   (decimal)
#   T = that / (n * m * (n+m)^2)      (one double division)
# ---------------------------------------------------------------------------

@register("cvm_two_sample", f"""
WITH units AS (
    SELECT {_R17_ARM2} AS grp, {_YC} AS yc FROM orders
),
vals AS (
    SELECT yc, count(*) AS l,
           CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS la,
           CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS lb
    FROM units GROUP BY yc
),
cums AS (
    SELECT yc, l,
           sum(la) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING) AS ca,
           sum(lb) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING) AS cb
    FROM vals
),
tot AS (
    SELECT CAST(sum(la) AS BIGINT) AS n, CAST(sum(lb) AS BIGINT) AS m
    FROM vals
),
num AS (
    SELECT CAST(sum(CAST(l AS DECIMAL(38,0))
                    * (CAST(t.m AS DECIMAL(38,0)) * ca
                       - CAST(t.n AS DECIMAL(38,0)) * cb)
                    * (CAST(t.m AS DECIMAL(38,0)) * ca
                       - CAST(t.n AS DECIMAL(38,0)) * cb))
                AS DECIMAL(38,0)) AS s
    FROM cums CROSS JOIN tot t
)
SELECT t.n AS n_group0, t.m AS n_group1,
       CASE WHEN t.n = 0 OR t.m = 0 THEN NULL
            ELSE {round_sql('CAST(CAST(u.s AS VARCHAR) AS DOUBLE)'
                            ' / (CAST(t.n AS DOUBLE) * t.m'
                            ' * (CAST(t.n + t.m AS DOUBLE))'
                            ' * (CAST(t.n + t.m AS DOUBLE)))')}
       END AS cvm_t
FROM tot t CROSS JOIN num u
""")
def cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises T over the md5 parity split of
    order values — exact decimal numerator at the pooled value grid,
    one double division."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(
        _r17_arm_col(2, "r17b:").alias("grp"),
        _r17_yc_col().alias("yc"))
    vals = (units.groupBy("yc")
            .agg(F.count("*").alias("l"),
                 F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
                 .cast("long").alias("la"),
                 F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
                 .cast("long").alias("lb"))
            .localCheckpoint(eager=False))
    cums = two_phase_ordered(
        vals, [F.col("yc").asc()], bucket_on=F.col("yc"),
        cumsum_cols={"la": "ca", "lb": "cb"})
    tot = vals.agg(F.sum("la").cast("long").alias("n"),
                   F.sum("lb").cast("long").alias("m"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = (cums.crossJoin(F.broadcast(tot))
           .select((dec(F.col("l"))
                    * (dec(F.col("m")) * F.col("ca")
                       - dec(F.col("n")) * F.col("cb"))
                    * (dec(F.col("m")) * F.col("ca")
                       - dec(F.col("n")) * F.col("cb"))).alias("term"))
           .agg(dec(F.sum("term")).alias("s")))
    nd = F.col("n").cast("double")
    nm = (F.col("n") + F.col("m")).cast("double")
    t = (F.when((F.col("n") == 0) | (F.col("m") == 0),
                F.lit(None).cast("double"))
         .otherwise(F.round(
             F.col("s").cast("string").cast("double")
             / (nd * F.col("m") * nm * nm), 6)))
    return (tot.crossJoin(F.broadcast(num))
            .select(F.col("n").alias("n_group0"),
                    F.col("m").alias("n_group1"),
                    t.alias("cvm_t")))


# --- Ansari-Bradley two-sample scale test ----------------------------------
#
# Outside-in scores with ties scored AT THE MIDRANK (a = min(r~,
# N+1-r~), r~ the midrank — so 2a = min(prev+cum+1, 2(N+1)-(prev+
# cum+1)) is an EXACT integer per distinct value). AB = sum over
# group-0 members of a; null mean/variance from the same score grid
# (Ansari & Bradley 1960, public). Everything is exact
# integer/decimal until the one z expression.
# ---------------------------------------------------------------------------

@register("ansari_bradley_arms", f"""
WITH units AS (
    SELECT {_R17_ARM2} AS grp, {_YC} AS yc FROM orders
),
vals AS (
    SELECT yc, count(*) AS l,
           CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS l0
    FROM units GROUP BY yc
),
cums AS (
    SELECT yc, l, l0,
           sum(l) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING) AS cum
    FROM vals
),
tot AS (
    SELECT CAST(sum(l) AS BIGINT) AS n,
           CAST(sum(l0) AS BIGINT) AS n0
    FROM vals
),
scored AS (
    SELECT c.yc, c.l, c.l0,
           CASE WHEN (c.cum - c.l) + c.cum + 1
                     <= 2 * (t.n + 1) - ((c.cum - c.l) + c.cum + 1)
                THEN (c.cum - c.l) + c.cum + 1
                ELSE 2 * (t.n + 1) - ((c.cum - c.l) + c.cum + 1)
           END AS a2
    FROM cums c CROSS JOIN tot t
),
mom AS (
    SELECT CAST(sum(CAST(l0 AS DECIMAL(38,0)) * a2)
                AS DECIMAL(38,0)) AS ab2,
           CAST(sum(CAST(l AS DECIMAL(38,0)) * a2)
                AS DECIMAL(38,0)) AS sa2,
           CAST(sum(CAST(l AS DECIMAL(38,0)) * a2 * a2)
                AS DECIMAL(38,0)) AS sa2q
    FROM scored
),
f AS (
    SELECT t.n, t.n0, CAST(t.n - t.n0 AS BIGINT) AS n1,
           CAST(CAST(m.ab2 AS VARCHAR) AS DOUBLE) AS ab2,
           CAST(CAST(m.sa2 AS VARCHAR) AS DOUBLE) AS sa2,
           CAST(CAST(m.sa2q AS VARCHAR) AS DOUBLE) AS sa2q,
           CAST(t.n AS DOUBLE) AS nd,
           CAST(t.n0 AS DOUBLE) AS n0d,
           CAST(t.n - t.n0 AS DOUBLE) AS n1d
    FROM tot t CROSS JOIN mom m
),
g AS (
    SELECT *,
           ab2 / 2.0 AS ab_stat,
           n0d * sa2 / (2.0 * nd) AS ab_mean,
           CASE WHEN n <= 1 THEN NULL
                ELSE n0d * n1d * (nd * sa2q - sa2 * sa2)
                     / (4.0 * nd * nd * (nd - 1.0)) END AS ab_var
    FROM f
)
SELECT n0 AS n_group0, n1 AS n_group1,
       {round_sql('ab_stat')} AS ab_stat,
       {round_sql('ab_mean')} AS ab_mean,
       {round_sql('ab_var')} AS ab_var,
       CASE WHEN ab_var IS NULL OR ab_var <= 0.0 THEN NULL
            ELSE {round_sql('(ab_stat - ab_mean) / sqrt(ab_var)')}
       END + 0.0 AS ab_z
FROM g
""")
def ansari_bradley_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test over the md5 parity split of order
    values: exact midrank outside-in scores, null moments, z."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(
        _r17_arm_col(2, "r17b:").alias("grp"),
        _r17_yc_col().alias("yc"))
    vals = (units.groupBy("yc")
            .agg(F.count("*").alias("l"),
                 F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
                 .cast("long").alias("l0"))
            .localCheckpoint(eager=False))
    cums = two_phase_ordered(
        vals, [F.col("yc").asc()], bucket_on=F.col("yc"),
        cumsum_cols={"l": "cum"})
    tot = vals.agg(F.sum("l").cast("long").alias("n"),
                   F.sum("l0").cast("long").alias("n0"))
    mid2 = (F.col("cum") - F.col("l")) + F.col("cum") + 1
    a2 = (F.when(mid2 <= 2 * (F.col("n") + 1) - mid2, mid2)
          .otherwise(2 * (F.col("n") + 1) - mid2))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    scored = (cums.crossJoin(F.broadcast(tot))
              .select("yc", "l", "l0", a2.alias("a2")))
    mom = scored.agg(
        dec(F.sum(dec(F.col("l0")) * F.col("a2"))).alias("ab2"),
        dec(F.sum(dec(F.col("l")) * F.col("a2"))).alias("sa2"),
        dec(F.sum(dec(F.col("l")) * F.col("a2") * F.col("a2")))
        .alias("sa2q"))
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    f = (tot.crossJoin(F.broadcast(mom))
         .select("n", "n0", (F.col("n") - F.col("n0")).cast("long")
                 .alias("n1"),
                 sd("ab2").alias("ab2"), sd("sa2").alias("sa2"),
                 sd("sa2q").alias("sa2q"),
                 F.col("n").cast("double").alias("nd"),
                 F.col("n0").cast("double").alias("n0d"),
                 (F.col("n") - F.col("n0")).cast("double")
                 .alias("n1d")))
    g = (f.withColumn("ab_stat", F.col("ab2") / 2.0)
         .withColumn("ab_mean",
                     F.col("n0d") * F.col("sa2") / (2.0 * F.col("nd")))
         .withColumn(
             "ab_var",
             F.when(F.col("n") <= 1, F.lit(None).cast("double"))
             .otherwise(F.col("n0d") * F.col("n1d")
                        * (F.col("nd") * F.col("sa2q")
                           - F.col("sa2") * F.col("sa2"))
                        / (4.0 * F.col("nd") * F.col("nd")
                           * (F.col("nd") - 1.0)))))
    z = (F.when(F.col("ab_var").isNull() | (F.col("ab_var") <= 0.0),
                F.lit(None).cast("double"))
         .otherwise(F.round((F.col("ab_stat") - F.col("ab_mean"))
                            / F.sqrt(F.col("ab_var")), 6)) + 0.0)
    return g.select(F.col("n0").alias("n_group0"),
                    F.col("n1").alias("n_group1"),
                    F.round("ab_stat", 6).alias("ab_stat"),
                    F.round("ab_mean", 6).alias("ab_mean"),
                    F.round("ab_var", 6).alias("ab_var"),
                    z.alias("ab_z"))


# --- Anderson-Darling k-sample (discrete / midrank version) ----------------
#
# Scholz & Stephens 1987 (public), tie-adjusted A2akN over order
# values BINNED to whole hundred-dollar buckets (the discrete version
# is defined on exactly such grids; binning keeps the distinct-value
# relation bounded at any SF):
#
#   A2 = (N-1)/N * sum_i (1/n_i) * sum_j
#          l_j/N * (N*Ma_ij - n_i*Ba_j)^2
#            / (Ba_j*(N - Ba_j) - N*l_j/4)
#
# with Ba/Ma the midrank cumulatives (B - l/2, M_i - l_i/2). Scaled
# by 2 everything in num/den is an exact integer; the per-arm sum
# over the value grid is an ORDER-PINNED fold (bounded bins), and
# the outer 4-arm sum is a fixed-order expression.
# ---------------------------------------------------------------------------

_AD_BIN = 10_000  # cents per bin = $100


@register("ad_ksample_arms", f"""
WITH units AS (
    SELECT {_R17_ARM} AS arm, {_YC} // {_AD_BIN} AS v FROM orders
),
vals AS (
    SELECT v, count(*) AS l,
           {", ".join(f"CAST(sum(CASE WHEN arm = {a} THEN 1 ELSE 0 END) AS BIGINT) AS l{a}"
                      for a in range(_R17_ARMS))}
    FROM units GROUP BY v
),
cums AS (
    SELECT v, l, {", ".join(f"l{a}" for a in range(_R17_ARMS))},
           sum(l) OVER wv AS b,
           {", ".join(f"sum(l{a}) OVER wv AS c{a}"
                      for a in range(_R17_ARMS))}
    FROM vals
    WINDOW wv AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
tot AS (
    SELECT CAST(sum(l) AS BIGINT) AS n,
           {", ".join(f"CAST(sum(l{a}) AS BIGINT) AS n{a}"
                      for a in range(_R17_ARMS))}
    FROM vals
),
terms AS (
    SELECT c.v, c.l,
           CAST(2 * c.b - c.l AS DECIMAL(38,0))
             * (2 * t.n - (2 * c.b - c.l)) - CAST(t.n AS DECIMAL(38,0)) * c.l AS den4,
           {", ".join(f'''
           (CAST(t.n AS DECIMAL(38,0)) * (2 * c.c{a} - c.l{a})
            - CAST(t.n{a} AS DECIMAL(38,0)) * (2 * c.b - c.l))
           * (CAST(t.n AS DECIMAL(38,0)) * (2 * c.c{a} - c.l{a})
              - CAST(t.n{a} AS DECIMAL(38,0)) * (2 * c.b - c.l))
             AS num{a}''' for a in range(_R17_ARMS))}
    FROM cums c CROSS JOIN tot t
),
kept AS (SELECT * FROM terms WHERE den4 > 0),
inner_s AS (
    SELECT {", ".join(ordered_sum_sql(
        f"CAST(l AS DOUBLE) * (CAST(CAST(num{a} AS VARCHAR) AS DOUBLE)"
        " / CAST(CAST(den4 AS VARCHAR) AS DOUBLE))", "v") + f" AS s{a}"
        for a in range(_R17_ARMS))}
    FROM kept
),
a2 AS (
    SELECT CASE WHEN {" OR ".join(f"t.n{a} = 0" for a in range(_R17_ARMS))}
                THEN NULL
                ELSE (CAST(t.n AS DOUBLE) - 1.0) / t.n * (0.0
                {" ".join(f"+ i.s{a} / t.n{a}" for a in range(_R17_ARMS))}
                ) / CAST(t.n AS DOUBLE) END AS a2
    FROM tot t CROSS JOIN inner_s i
)
SELECT {", ".join(f"t.n{a} AS n_arm{a}" for a in range(_R17_ARMS))},
       (SELECT {round_sql('a2')} FROM a2) AS ad_a2
FROM tot t
""")
def ad_ksample_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-adjusted Anderson-Darling k-sample A2 across the 4 md5
    arms on $100-binned order values (order-pinned per-arm folds over
    the bounded bin grid)."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(
        _r17_arm_col().alias("arm"),
        F.floor(_r17_yc_col() / _AD_BIN).cast("long").alias("v"))
    vals = (units.groupBy("v")
            .agg(F.count("*").alias("l"),
                 *[F.sum(F.when(F.col("arm") == a, 1).otherwise(0))
                   .cast("long").alias(f"l{a}")
                   for a in range(_R17_ARMS)])
            .localCheckpoint(eager=False))
    cums = two_phase_ordered(
        vals, [F.col("v").asc()], bucket_on=F.col("v"),
        cumsum_cols={"l": "b",
                     **{f"l{a}": f"c{a}" for a in range(_R17_ARMS)}})
    tot = vals.agg(F.sum("l").cast("long").alias("n"),
                   *[F.sum(f"l{a}").cast("long").alias(f"n{a}")
                     for a in range(_R17_ARMS)])
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mb2 = 2 * F.col("b") - F.col("l")
    den4 = (dec(mb2) * (2 * F.col("n") - mb2)
            - dec(F.col("n")) * F.col("l"))
    num_cols = []
    for a in range(_R17_ARMS):
        mm2 = 2 * F.col(f"c{a}") - F.col(f"l{a}")
        diff = dec(F.col("n")) * mm2 - dec(F.col(f"n{a}")) * mb2
        num_cols.append((diff * diff).alias(f"num{a}"))
    terms = (cums.crossJoin(F.broadcast(tot))
             .select("v", "l", den4.alias("den4"), *num_cols))
    kept = terms.filter(F.col("den4") > 0)
    sd = lambda c: c.cast("string").cast("double")  # noqa: E731
    inner = kept.agg(*[
        ordered_sum(F.col("l").cast("double")
                    * (sd(F.col(f"num{a}")) / sd(F.col("den4"))), "v")
        .alias(f"s{a}") for a in range(_R17_ARMS)])
    nd = F.col("n").cast("double")
    any0 = F.lit(False)
    for a in range(_R17_ARMS):
        any0 = any0 | (F.col(f"n{a}") == 0)
    ssum = F.lit(0.0)
    for a in range(_R17_ARMS):
        ssum = ssum + F.col(f"s{a}") / F.col(f"n{a}")
    a2 = (F.when(any0, F.lit(None).cast("double"))
          .otherwise((nd - 1.0) / F.col("n") * ssum / nd))
    a2row = (tot.crossJoin(F.broadcast(inner))
             .select(F.round(a2, 6).alias("ad_a2")))
    return (tot.crossJoin(F.broadcast(a2row))
            .select(*[F.col(f"n{a}").alias(f"n_arm{a}")
                      for a in range(_R17_ARMS)],
                    "ad_a2"))


# ---------------------------------------------------------------------------
# Batch C — causal estimators + an exact inequality index.
# ---------------------------------------------------------------------------

# --- Wald IV / LATE --------------------------------------------------------
#
# Binary md5 instrument z on the customer, treatment d = urgent/high
# order priority, outcome y = order value cents:
#   LATE = (E[y|z=1] - E[y|z=0]) / (E[d|z=1] - E[d|z=0])
# (Wald 1940 / Imbens-Angrist 1994, public.) Integer group sums ->
# one shared double expression; NULL when the first stage is zero.
# ---------------------------------------------------------------------------

_IV_Z = (f"CAST({md5_long_sql(chr(39) + 'iv:' + chr(39) + ' || CAST(o_custkey AS VARCHAR)')}"
         f" % 2 AS INT)")


@register("iv_wald_late", f"""
WITH units AS (
    SELECT {_IV_Z} AS z,
           CASE WHEN o_orderpriority LIKE '1%'
                  OR o_orderpriority LIKE '2%' THEN 1 ELSE 0 END AS d,
           {_YC} AS y
    FROM orders
),
grp AS (
    SELECT z, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d) AS BIGINT) AS sd,
           CAST(sum(y) AS BIGINT) AS sy
    FROM units GROUP BY z
),
wide AS (
    SELECT CAST(sum(CASE WHEN z = 0 THEN n END) AS BIGINT) AS nz0,
           CAST(sum(CASE WHEN z = 1 THEN n END) AS BIGINT) AS nz1,
           CAST(sum(CASE WHEN z = 0 THEN sd END) AS BIGINT) AS d0,
           CAST(sum(CASE WHEN z = 1 THEN sd END) AS BIGINT) AS d1,
           CAST(sum(CASE WHEN z = 0 THEN sy END) AS BIGINT) AS y0,
           CAST(sum(CASE WHEN z = 1 THEN sy END) AS BIGINT) AS y1
    FROM grp
),
f AS (
    SELECT *,
           CAST(y1 AS DOUBLE) / nz1 - CAST(y0 AS DOUBLE) / nz0 AS itt,
           CAST(d1 AS DOUBLE) / nz1 - CAST(d0 AS DOUBLE) / nz0 AS fs
    FROM wide
)
SELECT g.z, g.n,
       {round_sql('CAST(g.sd AS DOUBLE) / g.n')} AS mean_d,
       {round_sql('CAST(g.sy AS DOUBLE) / g.n / 100.0')} AS mean_y,
       (SELECT {round_sql('itt / 100.0')} FROM f) + 0.0 AS itt,
       (SELECT {round_sql('fs')} FROM f) + 0.0 AS first_stage,
       (SELECT CASE WHEN fs = 0.0 THEN NULL
                    ELSE {round_sql('itt / fs / 100.0')} END
        FROM f) + 0.0 AS late
FROM grp g
""")
def iv_wald_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald IV: md5 instrument on the customer, urgent/high-priority
    treatment, order-value outcome; per-z means + ITT / first stage /
    LATE repeated."""
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(
        (md5_long(F.concat(F.lit("iv:"),
                           F.col("o_custkey").cast("string")))
         % 2).cast("int").alias("z"),
        F.when(F.col("o_orderpriority").startswith("1")
               | F.col("o_orderpriority").startswith("2"), 1)
        .otherwise(0).alias("d"),
        _r17_yc_col().alias("y"))
    grp = units.groupBy("z").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("y").cast("long").alias("sy"))
    wide = grp.agg(
        *[F.sum(F.when(F.col("z") == z, F.col(c))).cast("long")
          .alias(a) for z, c, a in
          [(0, "n", "nz0"), (1, "n", "nz1"), (0, "sd", "d0"),
           (1, "sd", "d1"), (0, "sy", "y0"), (1, "sy", "y1")]])
    itt = (F.col("y1").cast("double") / F.col("nz1")
           - F.col("y0").cast("double") / F.col("nz0"))
    fs = (F.col("d1").cast("double") / F.col("nz1")
          - F.col("d0").cast("double") / F.col("nz0"))
    f = wide.select(itt.alias("itt"), fs.alias("fs"))
    stats = f.select(
        (F.round(F.col("itt") / 100.0, 6) + 0.0).alias("itt"),
        (F.round("fs", 6) + 0.0).alias("first_stage"),
        (F.when(F.col("fs") == 0.0, F.lit(None).cast("double"))
         .otherwise(F.round(F.col("itt") / F.col("fs") / 100.0, 6))
         + 0.0).alias("late"))
    return (grp.crossJoin(F.broadcast(stats))
            .select("z", "n",
                    F.round(F.col("sd").cast("double") / F.col("n"), 6)
                    .alias("mean_d"),
                    F.round(F.col("sy").cast("double") / F.col("n")
                            / 100.0, 6).alias("mean_y"),
                    "itt", "first_stage", "late"))


# --- Sharp RDD, local linear -----------------------------------------------
#
# Running variable: customer account balance (cents), cutoff 0,
# bandwidth $1000; outcome: the customer's total order value cents
# (LEFT join, 0 for never-ordered — the engine-wide J8 policy).
# Separate OLS y ~ a + b*x on [-h, 0) and [0, h]; the effect is the
# intercept jump at the cutoff (Thistlethwaite & Campbell 1960 /
# Hahn-Todd-van-der-Klaauw 2001, public). Exact decimal moments.
# ---------------------------------------------------------------------------

_RDD_H = 100_000  # cents


@register("rdd_local_linear", f"""
WITH cust AS (
    SELECT c.c_custkey,
           CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS x,
           CAST(COALESCE(o.rev, 0) AS BIGINT) AS y
    FROM customer c
    LEFT JOIN (SELECT o_custkey, sum({_YC}) AS rev
               FROM orders GROUP BY o_custkey) o
           ON o.o_custkey = c.c_custkey
),
win AS (
    SELECT CASE WHEN x < 0 THEN 0 ELSE 1 END AS side, x, y
    FROM cust WHERE x >= -{_RDD_H} AND x < {_RDD_H}
),
mom AS (
    SELECT side, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
    FROM win GROUP BY side
),
fit AS (
    SELECT side, m,
           CASE WHEN m <= 1 OR CAST(m AS DOUBLE)
                     * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                     - CAST(sx AS DOUBLE) * sx <= 0.0 THEN NULL
                ELSE (CAST(m AS DOUBLE)
                      * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(m AS DOUBLE)
                        * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx) END AS b,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
    FROM mom
),
ab AS (
    SELECT side, m, b,
           CASE WHEN b IS NULL THEN NULL
                ELSE (syd - b * sxd) / m END AS a
    FROM fit
),
wide AS (
    SELECT CAST(sum(CASE WHEN side = 0 THEN m END) AS BIGINT) AS n_left,
           CAST(sum(CASE WHEN side = 1 THEN m END) AS BIGINT) AS n_right,
           sum(CASE WHEN side = 0 THEN a END) AS a_l,
           sum(CASE WHEN side = 1 THEN a END) AS a_r,
           sum(CASE WHEN side = 0 THEN b END) AS b_l,
           sum(CASE WHEN side = 1 THEN b END) AS b_r
    FROM ab
)
SELECT n_left, n_right,
       {round_sql('a_l / 100.0')} AS alpha_left,
       {round_sql('a_r / 100.0')} AS alpha_right,
       {round_sql('b_l')} + 0.0 AS slope_left,
       {round_sql('b_r')} + 0.0 AS slope_right,
       CASE WHEN a_l IS NULL OR a_r IS NULL THEN NULL
            ELSE {round_sql('(a_r - a_l) / 100.0')} END AS rdd_effect
FROM wide
""")
def rdd_local_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp RDD at acctbal = 0 (bandwidth $1000): local-linear
    intercept jump in total customer order value."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long").alias("x"))
    rev = (load_table(spark, sf_dir, "orders")
           .groupBy("o_custkey")
           .agg(F.sum(_r17_yc_col()).alias("rev")))
    base = (cust.join(rev, cust.c_custkey == rev.o_custkey, "left")
            .select("x", F.coalesce(F.col("rev"), F.lit(0))
                    .cast("long").alias("y")))
    win = (base.filter((F.col("x") >= -_RDD_H)
                       & (F.col("x") < _RDD_H))
           .select(F.when(F.col("x") < 0, 0).otherwise(1)
                   .alias("side"), "x", "y"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = win.groupBy("side").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        dec(F.sum(dec(F.col("x")) * F.col("x"))).alias("sxx"),
        dec(F.sum(dec(F.col("x")) * F.col("y"))).alias("sxy"))
    md = F.col("m").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("string").cast("double")
    sxyd = F.col("sxy").cast("string").cast("double")
    b = (F.when((F.col("m") <= 1)
                | (md * sxxd - sxd * sxd <= 0.0),
                F.lit(None).cast("double"))
         .otherwise((md * sxyd - sxd * syd)
                    / (md * sxxd - sxd * sxd)))
    fit = mom.select("side", "m", b.alias("b"),
                     sxd.alias("sxd"), syd.alias("syd"))
    a = (F.when(F.col("b").isNull(), F.lit(None).cast("double"))
         .otherwise((F.col("syd") - F.col("b") * F.col("sxd"))
                    / F.col("m")))
    ab = fit.withColumn("a", a)
    wide = ab.agg(
        F.sum(F.when(F.col("side") == 0, F.col("m"))).cast("long")
        .alias("n_left"),
        F.sum(F.when(F.col("side") == 1, F.col("m"))).cast("long")
        .alias("n_right"),
        F.sum(F.when(F.col("side") == 0, F.col("a"))).alias("a_l"),
        F.sum(F.when(F.col("side") == 1, F.col("a"))).alias("a_r"),
        F.sum(F.when(F.col("side") == 0, F.col("b"))).alias("b_l"),
        F.sum(F.when(F.col("side") == 1, F.col("b"))).alias("b_r"))
    eff = (F.when(F.col("a_l").isNull() | F.col("a_r").isNull(),
                  F.lit(None).cast("double"))
           .otherwise(F.round((F.col("a_r") - F.col("a_l"))
                              / 100.0, 6)))
    return wide.select(
        "n_left", "n_right",
        F.round(F.col("a_l") / 100.0, 6).alias("alpha_left"),
        F.round(F.col("a_r") / 100.0, 6).alias("alpha_right"),
        (F.round("b_l", 6) + 0.0).alias("slope_left"),
        (F.round("b_r", 6) + 0.0).alias("slope_right"),
        eff.alias("rdd_effect"))


# --- Hoover (Robin Hood) index by region -----------------------------------
#
# H = sum |x_i - mu| / (2 * sum x)  — the share of total revenue that
# would have to move to equalize. With n*x_i - sum(x) integer, the
# numerator is EXACT: H = sum|n*x_i - sx| / (2 * n * sx). Computed
# per region over per-customer revenue (buyers only) plus the pooled
# row (region = 'ALL'), all from one grouped pass.
# ---------------------------------------------------------------------------

@register("hoover_index_regions", f"""
WITH rev AS (
    SELECT r.r_name AS region, o.o_custkey,
           CAST(sum({_YC}) AS BIGINT) AS x
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, o.o_custkey
),
grp AS (
    SELECT region, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx
    FROM rev GROUP BY region
),
dev AS (
    SELECT v.region,
           CAST(sum(abs(CAST(g.n AS DECIMAL(38,0)) * v.x - g.sx))
                AS DECIMAL(38,0)) AS sdev
    FROM rev v JOIN grp g ON g.region = v.region
    GROUP BY v.region
),
allg AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
    FROM rev
),
alldev AS (
    SELECT CAST(sum(abs(CAST(g.n AS DECIMAL(38,0)) * v.x - g.sx))
                AS DECIMAL(38,0)) AS sdev
    FROM rev v CROSS JOIN allg g
)
SELECT g.region, g.n AS n_customers,
       CASE WHEN g.sx = 0 THEN NULL
            ELSE {round_sql('CAST(CAST(d.sdev AS VARCHAR) AS DOUBLE)'
                            ' / (2.0 * CAST(g.n AS DOUBLE) * g.sx)')}
       END AS hoover
FROM grp g JOIN dev d ON d.region = g.region
UNION ALL
SELECT 'ALL', a.n,
       CASE WHEN a.sx = 0 THEN NULL
            ELSE {round_sql('CAST(CAST(d.sdev AS VARCHAR) AS DOUBLE)'
                            ' / (2.0 * CAST(a.n AS DOUBLE) * a.sx)')}
       END
FROM allg a CROSS JOIN alldev d
""")
def hoover_index_regions(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Hoover/Robin-Hood inequality index of customer revenue per
    region + pooled 'ALL' row — exact integer deviation sums."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _r17_yc_col().alias("yc"))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region"))
    rev = (orders.join(cust, orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 cust.c_nationkey == nation.n_nationkey)
           .join(F.broadcast(region),
                 nation.n_regionkey == region.r_regionkey)
           .groupBy("region", "o_custkey")
           .agg(F.sum("yc").cast("long").alias("x"))
           .localCheckpoint(eager=False))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def hoover_of(df, keys):
        grp = df.groupBy(*keys).agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"))
        j = df.join(F.broadcast(grp), keys) if keys else \
            df.crossJoin(F.broadcast(grp))
        dev = (j.select(*keys, F.abs(dec(F.col("n")) * F.col("x")
                                     - F.col("sx")).alias("d"))
               .groupBy(*keys).agg(dec(F.sum("d")).alias("sdev")))
        out = grp.join(dev, keys) if keys else grp.crossJoin(dev)
        h = (F.when(F.col("sx") == 0, F.lit(None).cast("double"))
             .otherwise(F.round(
                 F.col("sdev").cast("string").cast("double")
                 / (2.0 * F.col("n").cast("double") * F.col("sx")),
                 6)))
        return out, h

    per, h1 = hoover_of(rev, ["region"])
    per_rows = per.select("region", F.col("n").alias("n_customers"),
                          h1.alias("hoover"))
    alr, h2 = hoover_of(rev.select("o_custkey", "x"), [])
    all_rows = alr.select(F.lit("ALL").alias("region"),
                          F.col("n").alias("n_customers"),
                          h2.alias("hoover"))
    return per_rows.unionAll(all_rows)


# ---------------------------------------------------------------------------
# Batch D — mergeable heavy-hitter summaries (SpaceSaving / Misra-
# Gries family, Metwally et al. 2005, public): per input shard keep
# only the top-C keys by exact shard-local count plus the shard's
# eviction bound (the C-th count — any absent key's shard count is
# <= it, 0 when the shard holds <= C distinct keys). Merged
# estimates: lower = sum of present counts, upper = lower + sum of
# bounds of ABSENT shards. The audit joins exact global counts and
# asserts lower <= exact <= upper per reported key.
#
# The 100 TB story: per-shard state is CONSTANT (C rows + 1 bound),
# the merge is associative, and nothing ever re-reads a shard.
# ---------------------------------------------------------------------------

_SS_SHARDS = 32
_SS_CAP = 8
_SS_TOPK = 10


@register("spacesaving_topk", f"""
WITH base AS (
    SELECT l_orderkey % {_SS_SHARDS} AS shard, l_partkey AS key
    FROM lineitem
),
cnts AS (
    SELECT shard, key, CAST(count(*) AS BIGINT) AS cnt
    FROM base GROUP BY shard, key
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY shard
                                 ORDER BY cnt DESC, key ASC) AS rn,
           count(*) OVER (PARTITION BY shard) AS nkeys
    FROM cnts
),
summ AS (SELECT shard, key, cnt FROM ranked WHERE rn <= {_SS_CAP}),
errs AS (
    SELECT shard,
           CAST(CASE WHEN max(nkeys) > {_SS_CAP}
                     THEN min(CASE WHEN rn <= {_SS_CAP} THEN cnt END)
                     ELSE 0 END AS BIGINT) AS err
    FROM ranked GROUP BY shard
),
errtot AS (SELECT CAST(sum(err) AS BIGINT) AS err_total FROM errs),
est AS (
    SELECT s.key,
           CAST(sum(s.cnt) AS BIGINT) AS lower_cnt,
           CAST(sum(e.err) AS BIGINT) AS present_err
    FROM summ s JOIN errs e ON e.shard = s.shard
    GROUP BY s.key
),
top AS (
    SELECT key, lower_cnt,
           CAST(lower_cnt + (t.err_total - present_err) AS BIGINT)
             AS upper_cnt,
           row_number() OVER (ORDER BY lower_cnt DESC, key ASC) AS rnk
    FROM est CROSS JOIN errtot t
    QUALIFY rnk <= {_SS_TOPK}
),
exact AS (
    SELECT key, CAST(count(*) AS BIGINT) AS exact_cnt
    FROM base WHERE key IN (SELECT key FROM top)
    GROUP BY key
)
SELECT t.key, t.lower_cnt, t.upper_cnt, x.exact_cnt,
       (t.lower_cnt <= x.exact_cnt AND x.exact_cnt <= t.upper_cnt)
         AS within_bounds,
       CAST(t.rnk AS INT) AS rnk
FROM top t JOIN exact x ON x.key = t.key
""")
def spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable SpaceSaving-style top-k over lineitem part keys:
    constant-size per-shard summaries + eviction bounds, merged
    lower/upper estimates, exact-count audit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % _SS_SHARDS).alias("shard"),
        F.col("l_partkey").alias("key"))
    return spacesaving_from_keys(spark, li)


def spacesaving_from_keys(spark: SparkSession,
                          li: DataFrame) -> DataFrame:
    """The mergeable-summary body over a (shard, key) relation —
    factored out so tools/stress_spacesaving.py can drive the
    REGISTERED code path at a synthetic 200M-row stream (the
    hits_from_edges seam pattern)."""
    cnts = (li.groupBy("shard", "key")
            .agg(F.count("*").cast("long").alias("cnt")))
    w = Window.partitionBy("shard").orderBy(F.col("cnt").desc(),
                                            F.col("key").asc())
    ranked = (cnts.withColumn("rn", F.row_number().over(w))
              .withColumn("nkeys", F.count("*").over(
                  Window.partitionBy("shard")))
              .localCheckpoint(eager=False))
    summ = ranked.filter(F.col("rn") <= _SS_CAP)
    errs = (ranked.groupBy("shard")
            .agg(F.when(F.max("nkeys") > _SS_CAP,
                        F.min(F.when(F.col("rn") <= _SS_CAP,
                                     F.col("cnt"))))
                 .otherwise(0).cast("long").alias("err")))
    errtot = errs.agg(F.sum("err").cast("long").alias("err_total"))
    est = (summ.join(F.broadcast(errs), "shard")
           .groupBy("key")
           .agg(F.sum("cnt").cast("long").alias("lower_cnt"),
                F.sum("err").cast("long").alias("present_err")))
    wt = Window.orderBy(F.col("lower_cnt").desc(), F.col("key").asc())
    top = (est.crossJoin(F.broadcast(errtot))
           .withColumn("rnk", F.row_number().over(wt))
           .filter(F.col("rnk") <= _SS_TOPK)
           .select("key", "lower_cnt",
                   (F.col("lower_cnt")
                    + (F.col("err_total") - F.col("present_err")))
                   .cast("long").alias("upper_cnt"), "rnk"))
    exact = (li.join(F.broadcast(top.select("key")), "key")
             .groupBy("key")
             .agg(F.count("*").cast("long").alias("exact_cnt")))
    return (top.join(exact, "key")
            .select("key", "lower_cnt", "upper_cnt", "exact_cnt",
                    ((F.col("lower_cnt") <= F.col("exact_cnt"))
                     & (F.col("exact_cnt") <= F.col("upper_cnt")))
                    .alias("within_bounds"),
                    F.col("rnk").cast("int")))


# ---------------------------------------------------------------------------
# Batch E — LLM-curation text operators.
# ---------------------------------------------------------------------------

_TOK_SQL = ("list_filter(string_split(trim(regexp_replace(lower(text),"
            " '\\s+', ' ', 'g')), ' '), t -> t <> '')")

# --- DSIR hashed importance weights ----------------------------------------
#
# Data Selection via Importance Resampling (Xie et al. 2023, public),
# hashed-unigram variant: bucket every token into B=64 md5 buckets,
# fit add-1-smoothed bucket distributions for the TARGET (lang='en')
# and the RAW corpus, and score every doc by its per-bucket
# log-importance weight sum_b c_doc[b] * (ln p_t[b] - ln p_r[b]).
# The per-doc sum is over <= B bounded buckets (order-pinned fold);
# the corpus-sized pass is the one token explode.
# ---------------------------------------------------------------------------

_DSIR_B = 64
_DSIR_TOPK = 20


@register("dsir_importance_weights", f"""
WITH toks AS MATERIALIZED (
    SELECT doc_id, source, lang,
           unnest({_TOK_SQL}) AS token
    FROM documents
),
bucketed AS MATERIALIZED (
    SELECT doc_id, source, lang,
           {md5_long_sql("'dsir:' || token")} % {_DSIR_B} AS b
    FROM toks
),
tstat AS (
    SELECT b, CAST(count(*) AS BIGINT) AS ct
    FROM bucketed WHERE lang = 'en' GROUP BY b
),
rstat AS (
    SELECT b, CAST(count(*) AS BIGINT) AS cr
    FROM bucketed GROUP BY b
),
tot AS (
    SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS nt,
           CAST(count(*) AS BIGINT) AS nr
    FROM bucketed
),
lp AS (
    SELECT r.b,
           ln((CAST(COALESCE(t.ct, 0) AS DOUBLE) + 1.0)
              / (CAST(o.nt AS DOUBLE) + {_DSIR_B}.0))
           - ln((CAST(r.cr AS DOUBLE) + 1.0)
                / (CAST(o.nr AS DOUBLE) + {_DSIR_B}.0)) AS lw
    FROM rstat r LEFT JOIN tstat t ON t.b = r.b CROSS JOIN tot o
),
docb AS (
    SELECT doc_id, source, lang, b, CAST(count(*) AS BIGINT) AS c
    FROM bucketed GROUP BY doc_id, source, lang, b
),
scored AS (
    SELECT d.doc_id, d.source, d.lang,
           CAST(sum(d.c) AS BIGINT) AS n_tokens,
           {ordered_sum_sql("CAST(d.c AS DOUBLE) * l.lw", "d.b")} AS logw
    FROM docb d JOIN lp l ON l.b = d.b
    GROUP BY d.doc_id, d.source, d.lang
)
SELECT doc_id, source, lang, n_tokens,
       {round_sql('logw')} + 0.0 AS logw, CAST(rnk AS INT) AS rnk
FROM (
    SELECT *, row_number() OVER (ORDER BY logw DESC, doc_id ASC)
             AS rnk
    FROM scored
) WHERE rnk <= {_DSIR_TOPK}
""")
def dsir_importance_weights(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """DSIR hashed-unigram log-importance weights (target lang='en'
    vs raw corpus), top-20 docs."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", "lang",
        F.explode(text.token_array(F.col("text"))).alias("token"))
    return dsir_from_tokens(spark, toks)


def dsir_from_tokens(spark: SparkSession, toks: DataFrame,
                     topk: int = _DSIR_TOPK) -> DataFrame:
    """DSIR scoring from exploded (doc_id, source, lang, token) rows —
    the spacesaving_from_keys-style stress seam (VERDICT r12 #6).
    ONE corpus pass onto the (doc, bucket) grid; every stat after is
    a sum of its counts; the final top-k is orderBy().limit()
    (TakeOrdered — never a partitionless row_number window over the
    data-scaled per-doc relation)."""
    bucketed = toks.select(
        "doc_id", "source", "lang",
        (md5_long(F.concat(F.lit("dsir:"), F.col("token")))
         % _DSIR_B).alias("b"))
    # ONE corpus pass: the (doc, bucket) grid; target/raw bucket
    # stats and totals are all sums of its counts (the naive shape
    # re-scanned the exploded tokens 4x — plan audit, this round)
    docb = (bucketed.groupBy("doc_id", "source", "lang", "b")
            .agg(F.count("*").cast("long").alias("c"))
            .localCheckpoint(eager=False))
    tstat = (docb.filter(F.col("lang") == "en")
             .groupBy("b").agg(F.sum("c").cast("long").alias("ct")))
    rstat = docb.groupBy("b").agg(
        F.sum("c").cast("long").alias("cr"))
    tot = docb.agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0))
        .cast("long").alias("nt"),
        F.sum("c").cast("long").alias("nr"))
    lw = (F.log((F.coalesce(F.col("ct"), F.lit(0)).cast("double")
                 + 1.0)
                / (F.col("nt").cast("double") + float(_DSIR_B)))
          - F.log((F.col("cr").cast("double") + 1.0)
                  / (F.col("nr").cast("double") + float(_DSIR_B))))
    lp = (rstat.join(F.broadcast(tstat), "b", "left")
          .crossJoin(F.broadcast(tot))
          .select("b", lw.alias("lw")))
    scored = (docb.join(F.broadcast(lp), "b")
              .groupBy("doc_id", "source", "lang")
              .agg(F.sum("c").cast("long").alias("n_tokens"),
                   ordered_sum(F.col("c").cast("double") * F.col("lw"),
                               "b").alias("logw")))
    wt = Window.orderBy(F.col("logw").desc(), F.col("doc_id").asc())
    return (scored.orderBy(F.col("logw").desc(), F.col("doc_id").asc())
            .limit(topk)
            .withColumn("rnk", F.row_number().over(wt))
            .select("doc_id", "source", "lang", "n_tokens",
                    (F.round("logw", 6) + 0.0).alias("logw"),
                    F.col("rnk").cast("int")))


# --- discrete power-law alpha of co-purchase degrees -----------------------
#
# Clauset-Shalizi-Newman 2009 (public) discrete MLE approximation at
# fixed dmin = 2:  alpha = 1 + n_tail / sum ln(d / (dmin - 1/2)).
# The ln sum groups by DEGREE VALUE first (bounded distinct degrees)
# and folds in degree order — order-pinned, never a raw float sum
# over nodes.
# ---------------------------------------------------------------------------

_PL_DMIN = 2


def _powerlaw_oracle() -> str:
    from travel_data_pipeline_spark.queries_affinity import _PAIRS_SQL

    return f"""
WITH {_PAIRS_SQL},
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT part_a AS node FROM pair_counts
          UNION ALL SELECT part_b FROM pair_counts)
    GROUP BY node
),
bydeg AS (
    SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY d
),
tail AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n_tail,
           {ordered_sum_sql("CAST(cnt AS DOUBLE)"
                            f" * ln(CAST(d AS DOUBLE) / {_PL_DMIN - 0.5!r})",
                            "d")} AS slog
    FROM bydeg WHERE d >= {_PL_DMIN}
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT t.n_nodes, a.n_tail,
       CASE WHEN a.slog IS NULL OR a.slog <= 0.0 THEN NULL
            ELSE {round_sql(f'1.0 + CAST(a.n_tail AS DOUBLE) / a.slog')}
       END AS alpha,
       CAST({_PL_DMIN} AS INT) AS dmin
FROM tot t CROSS JOIN tail a
"""


@register("powerlaw_degree_alpha", lambda: _powerlaw_oracle())
def powerlaw_degree_alpha(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Discrete power-law alpha (CSN approximation, dmin=2) of the
    co-purchase degree distribution — degree-grouped, order-pinned
    ln fold."""
    from travel_data_pipeline_spark.queries_affinity import (
        _order_items,
        _pair_counts,
    )

    pairs = _pair_counts(_order_items(spark, sf_dir)).select(
        "part_a", "part_b")
    deg = (pairs.select(F.col("part_a").alias("node"))
           .unionAll(pairs.select(F.col("part_b").alias("node")))
           .groupBy("node").agg(F.count("*").cast("long").alias("d"))
           .localCheckpoint(eager=False))
    bydeg = deg.groupBy("d").agg(F.count("*").cast("long")
                                 .alias("cnt"))
    tail = (bydeg.filter(F.col("d") >= _PL_DMIN)
            .agg(F.sum("cnt").cast("long").alias("n_tail"),
                 ordered_sum(F.col("cnt").cast("double")
                             * F.log(F.col("d").cast("double")
                                     / (_PL_DMIN - 0.5)),
                             "d").alias("slog")))
    tot = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    alpha = (F.when(F.col("slog").isNull() | (F.col("slog") <= 0.0),
                    F.lit(None).cast("double"))
             .otherwise(F.round(
                 1.0 + F.col("n_tail").cast("double") / F.col("slog"),
                 6)))
    return (tot.crossJoin(F.broadcast(tail))
            .select("n_nodes", "n_tail", alpha.alias("alpha"),
                    F.lit(_PL_DMIN).cast("int").alias("dmin")))


# --- expected reciprocal rank of PROMO parts per brand ---------------------
#
# ERR (Chapelle et al. 2009, public) over per-brand popularity
# rankings (lineitem count DESC, partkey ASC, top 20 — the W2
# pattern) with graded relevance R = 0.5 for PROMO parts, 0 else.
# With two-level grades the cascade product collapses to
# 0.5^(promos seen so far), so ERR = sum over promo rows of
# (1/rank) * 0.5^(cum promos at rank) — an order-pinned fold over
# <= 20 rows per brand.
# ---------------------------------------------------------------------------

_ERR_K = 20


@register("expected_reciprocal_rank", f"""
WITH cnts AS (
    SELECT p.p_brand AS brand, p.p_partkey AS pk,
           CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS pos,
           COALESCE(c.cnt, 0) AS cnt
    FROM part p LEFT JOIN (
        SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1
    ) c ON c.l_partkey = p.p_partkey
),
ranked AS (
    SELECT brand, pk, pos, cnt,
           row_number() OVER (PARTITION BY brand
                              ORDER BY cnt DESC, pk ASC) AS rn
    FROM cnts
    QUALIFY rn <= {_ERR_K}
),
cum AS (
    SELECT brand, pk, pos, rn,
           sum(pos) OVER (PARTITION BY brand ORDER BY rn
                          ROWS UNBOUNDED PRECEDING) AS cpos
    FROM ranked
),
folded AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS n_ranked,
           CAST(sum(pos) AS BIGINT) AS n_promo,
           {ordered_sum_sql("CASE WHEN pos = 1 THEN (1.0 / rn)"
                            " * pow(0.5, CAST(cpos AS DOUBLE)) ELSE 0.0 END",
                            "rn")} AS err
    FROM cum GROUP BY brand
)
SELECT brand, n_ranked, n_promo, {round_sql('err')} + 0.0 AS err
FROM folded
""")
def expected_reciprocal_rank(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """ERR@20 of PROMO parts within per-brand popularity rankings
    (two-grade cascade, order-pinned per-brand fold)."""
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"), F.col("p_partkey").alias("pk"),
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0)
        .alias("pos"))
    li = (load_table(spark, sf_dir, "lineitem")
          .groupBy("l_partkey").agg(F.count("*").alias("cnt")))
    cnts = (part.join(li, part.pk == li.l_partkey, "left")
            .select("brand", "pk", "pos",
                    F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")))
    w = Window.partitionBy("brand").orderBy(F.col("cnt").desc(),
                                            F.col("pk").asc())
    ranked = (cnts.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= _ERR_K))
    wc = (Window.partitionBy("brand").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = ranked.withColumn("cpos", F.sum("pos").over(wc))
    term = (F.when(F.col("pos") == 1,
                   (F.lit(1.0) / F.col("rn"))
                   * F.pow(F.lit(0.5), F.col("cpos").cast("double")))
            .otherwise(F.lit(0.0)))
    folded = (cum.groupBy("brand")
              .agg(F.count("*").cast("long").alias("n_ranked"),
                   F.sum("pos").cast("long").alias("n_promo"),
                   ordered_sum(term, "rn").alias("err")))
    return folded.select("brand", "n_ranked", "n_promo",
                         (F.round("err", 6) + 0.0).alias("err"))


# --- MTLD lexical diversity ------------------------------------------------
#
# Measure of Textual Lexical Diversity (McCarthy & Jarvis 2010,
# public), forward pass over the first _MTLD_CAP tokens per doc:
# count full factors (segments whose running type-token ratio drops
# below 0.72), add the partial factor (1 - ttr)/(1 - 0.72), report
# MTLD = n_tokens / (factors + partial). The per-doc fold carries
# (seen-types list, factor token count, factors); the oracle replays
# the identical recurrence as a per-doc recursive walk (the croston
# pattern). Capped tokens keep both the fold state and the walk
# bounded per doc.
# ---------------------------------------------------------------------------

_MTLD_CAP = 120
_MTLD_T = 0.72


def _mtld_oracle() -> str:
    seen2 = ("CASE WHEN list_contains(w.seen, t.tok) THEN w.seen "
             "ELSE list_append(w.seen, t.tok) END")
    ttr2 = (f"CAST(len({seen2}) AS DOUBLE) / (w.c + 1)")
    return f"""
WITH RECURSIVE docs AS MATERIALIZED (
    SELECT doc_id, list_slice({_TOK_SQL}, 1, {_MTLD_CAP}) AS toks
    FROM documents
),
toks AS MATERIALIZED (
    SELECT d.doc_id, d.toks[s.i] AS tok, s.i AS pos,
           len(d.toks) AS n_used
    FROM docs d, unnest(generate_series(1, len(d.toks))) AS s(i)
),
walk AS (
    SELECT doc_id, 0 AS pos, CAST([] AS VARCHAR[]) AS seen,
           0 AS c, 0 AS factors
    FROM docs
    UNION ALL
    SELECT w.doc_id, t.pos,
           CASE WHEN {ttr2} < {_MTLD_T} THEN CAST([] AS VARCHAR[])
                ELSE {seen2} END,
           CASE WHEN {ttr2} < {_MTLD_T} THEN 0 ELSE w.c + 1 END,
           CASE WHEN {ttr2} < {_MTLD_T} THEN w.factors + 1
                ELSE w.factors END
    FROM walk w JOIN toks t
      ON t.doc_id = w.doc_id AND t.pos = w.pos + 1
),
fin AS (
    SELECT doc_id, pos, seen, c, factors,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY pos DESC) AS rr
    FROM walk
),
scored AS (
    SELECT f.doc_id, CAST(f.pos AS BIGINT) AS n_used,
           CAST(f.factors AS BIGINT) AS factors,
           CASE WHEN f.c > 0
                THEN (1.0 - CAST(len(f.seen) AS DOUBLE) / f.c)
                     / (1.0 - {_MTLD_T})
                ELSE 0.0 END AS partial
    FROM fin f WHERE f.rr = 1
)
SELECT doc_id, n_used, factors,
       {round_sql('CAST(factors AS DOUBLE) + partial')} AS factor_mass,
       CASE WHEN CAST(factors AS DOUBLE) + partial <= 0.0 THEN NULL
            ELSE {round_sql('CAST(n_used AS DOUBLE)'
                            ' / (CAST(factors AS DOUBLE) + partial)')}
       END AS mtld
FROM scored
"""


@register("mtld_lexical_diversity", lambda: _mtld_oracle())
def mtld_lexical_diversity(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Forward MTLD over the first 120 tokens per doc (threshold
    0.72) — bounded per-doc fold, recursive-walk oracle."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_array(F.col("text")).alias("toks"))
    return mtld_from_arrays(spark, docs)


def mtld_from_arrays(spark: SparkSession, arrs: DataFrame,
                     cap: int = _MTLD_CAP) -> DataFrame:
    """MTLD from (doc_id, toks array<string>) rows — the stress seam
    (VERDICT r12 #6). Pure per-row linear prefix fold over the first
    ``cap`` tokens: no shuffle, no join, flat memory per row."""
    docs = arrs.select("doc_id",
                       F.slice("toks", 1, cap).alias("toks"))
    seed = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.lit(0).alias("c"),
        F.lit(0).alias("factors"))

    def step(acc, x):
        seen2 = (F.when(F.array_contains(acc["seen"], x), acc["seen"])
                 .otherwise(F.array_append(acc["seen"], x)))
        ttr2 = (F.size(seen2).cast("double") / (acc["c"] + 1))
        drop = ttr2 < _MTLD_T
        return F.struct(
            F.when(drop, F.array().cast("array<string>"))
            .otherwise(seen2).alias("seen"),
            F.when(drop, 0).otherwise(acc["c"] + 1).alias("c"),
            F.when(drop, acc["factors"] + 1).otherwise(acc["factors"])
            .alias("factors"))

    folded = F.aggregate(F.col("toks"), seed, step)
    st = docs.select("doc_id",
                     F.size("toks").cast("long").alias("n_used"),
                     folded.alias("st"))
    partial = (F.when(F.col("st")["c"] > 0,
                      (1.0 - F.size(F.col("st")["seen"])
                       .cast("double") / F.col("st")["c"])
                      / (1.0 - _MTLD_T))
               .otherwise(F.lit(0.0)))
    scored = st.select(
        "doc_id", "n_used",
        F.col("st")["factors"].cast("long").alias("factors"),
        partial.alias("partial"))
    mass = F.col("factors").cast("double") + F.col("partial")
    return scored.select(
        "doc_id", "n_used", "factors",
        F.round(mass, 6).alias("factor_mass"),
        F.when(mass <= 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("n_used").cast("double") / mass, 6))
        .alias("mtld"))


# --- TextRank keyword scores -----------------------------------------------
#
# Mihalcea & Tarau 2004 (public): undirected co-occurrence graph of
# the corpus-top-_TR_VOCAB tokens (window +-2 on the original token
# positions), damped power iteration
#   WS(v) = 0.15 + 0.85 * sum_u (w_uv / out_w(u)) * WS(u)
# for _TR_ITER rounds. The vocab is bounded (50 nodes), every
# contribution sum is order-pinned by source token (the HITS
# spelling), and pair generation is LINEAR: zip-with-tail on the
# Spark side, lead(tok, k) on the oracle side — O(W*n) per doc,
# never the quadratic position-range self-join (r12 `weak`, fixed
# round 13).
# ---------------------------------------------------------------------------

_TR_VOCAB = 50
_TR_WIN = 2
_TR_ITER = 5
_TR_TOPK = 15


def _textrank_oracle() -> str:
    # Linear window-`_TR_WIN` pairing: lead(tok, k) over (doc, pos) for
    # k = 1.._TR_WIN — exactly the (pos, pos+k) pairs the old
    # position-range self-join enumerated quadratically, in O(W*n).
    lead_cols = ",\n           ".join(
        f"lead(tok, {k}) OVER (PARTITION BY doc_id ORDER BY pos)"
        f" AS nx{k}" for k in range(1, _TR_WIN + 1))
    lead_union = "\n    UNION ALL\n    ".join(
        f"SELECT tok AS pa, nx{k} AS pb FROM leads"
        f" WHERE nx{k} IS NOT NULL" for k in range(1, _TR_WIN + 1))
    iters = []
    prev = "ws0"
    for t in range(1, _TR_ITER + 1):
        iters.append(f"""
ws{t} AS MATERIALIZED (
    SELECT n.token AS node,
           0.15 + 0.85 * COALESCE(c.contrib, 0.0) AS v
    FROM vocab n LEFT JOIN (
        SELECT e.dst AS node,
               {ordered_sum_sql("(e.w / sw.s) * p.v", "e.src")} AS contrib
        FROM dedges e
        JOIN sumw sw ON sw.src = e.src
        JOIN {prev} p ON p.node = e.src
        GROUP BY e.dst
    ) c ON c.node = n.token
)""")
        prev = f"ws{t}"
    return f"""
WITH toks AS MATERIALIZED (
    SELECT d.doc_id, d.toks[s.i] AS tok, s.i AS pos
    FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents) d,
         unnest(generate_series(1, len(d.toks))) AS s(i)
),
vocab AS MATERIALIZED (
    SELECT tok AS token FROM (
        SELECT tok, count(*) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, tok ASC)
                 AS rn
        FROM toks GROUP BY tok
    ) WHERE rn <= {_TR_VOCAB}
),
leads AS MATERIALIZED (
    SELECT {lead_cols},
           tok
    FROM toks
),
lpairs AS (
    {lead_union}
),
cooc AS MATERIALIZED (
    SELECT CASE WHEN pa < pb THEN pa ELSE pb END AS ta,
           CASE WHEN pa < pb THEN pb ELSE pa END AS tb,
           CAST(count(*) AS DOUBLE) AS w
    FROM lpairs
    JOIN vocab va ON va.token = pa
    JOIN vocab vb ON vb.token = pb
    WHERE pa <> pb
    GROUP BY 1, 2
),
dedges AS MATERIALIZED (
    SELECT ta AS src, tb AS dst, w FROM cooc
    UNION ALL
    SELECT tb AS src, ta AS dst, w FROM cooc
),
sumw AS MATERIALIZED (
    SELECT src, CAST(sum(w) AS DOUBLE) AS s FROM dedges GROUP BY src
),
ws0 AS (SELECT token AS node, 1.0 AS v FROM vocab),
{','.join(iters)}
SELECT node AS token, {round_sql('v')} AS score,
       CAST(rnk AS INT) AS rnk
FROM (
    SELECT node, v,
           row_number() OVER (ORDER BY v DESC, node ASC) AS rnk
    FROM {prev}
) WHERE rnk <= {_TR_TOPK}
"""


def textrank_from_arrays(spark: SparkSession, arrs: DataFrame,
                         *, vocab_n: int = _TR_VOCAB,
                         win: int = _TR_WIN, iters: int = _TR_ITER,
                         topk: int = _TR_TOPK) -> DataFrame:
    """TextRank over per-document token arrays (column ``t``,
    array<string>) — the hits_from_edges-style stress seam.

    Pair generation is LINEAR (zip-with-tail): token (i, i+k) pairs
    for k = 1..win via ``zip_with(slice(t, 1, n-k), slice(t, 1+k,
    n-k))`` — one corpus scan, no self-join, no per-doc quadratic
    blowup (the r12 `weak`). The vocab top-N is an orderBy().limit()
    (TakeOrderedAndProject — never a partitionless row_number over
    the data-scaled distinct-token relation). Contribution sums in
    the power iteration stay order-pinned by source token.
    """
    arrs = arrs.select("t")

    def zw(k: int):
        ln = F.greatest(F.size("t") - k, F.lit(0))
        return F.zip_with(
            F.slice("t", F.lit(1), ln),
            F.slice("t", F.lit(1 + k), ln),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")))

    vocab = (arrs.select(F.explode("t").alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("tok").asc())
             .limit(vocab_n)
             .select(F.col("tok").alias("token"))
             .localCheckpoint(eager=False))
    pairs = (arrs.select(F.explode(
                 F.concat(*[zw(k) for k in range(1, win + 1)]))
                 .alias("p"))
             .select(F.col("p.a").alias("ta0"),
                     F.col("p.b").alias("tb0"))
             .filter(F.col("ta0") != F.col("tb0")))
    cooc = (pairs
            .join(F.broadcast(vocab.select(
                F.col("token").alias("ta0"))), "ta0")
            .join(F.broadcast(vocab.select(
                F.col("token").alias("tb0"))), "tb0")
            .select(F.least("ta0", "tb0").alias("ta"),
                    F.greatest("ta0", "tb0").alias("tb"))
            .groupBy("ta", "tb")
            .agg(F.count("*").cast("double").alias("w")))
    # r14: the power iteration runs DRIVER-SIDE over the vocab-bounded
    # graph. The corpus-scaled work (tokenize -> linear pairs -> cooc
    # groupBy) stays in Spark; what comes back is <= C(vocab_n, 2)
    # weighted edges + vocab_n tokens — a CONSTANT independent of
    # corpus size (the _bpe_train argmax / IVF centroid-collect
    # discipline). The old in-Spark loop spent ~1.4 s/query at sf0.1
    # on 5 iterations x (2 joins + grouped fold + eager checkpoint)
    # over a 50-node relation — pure job/planning overhead. The fold
    # below spells the SAME arithmetic the oracle pins: per dst,
    # contributions (w/s)*v summed in ascending-src order (Python
    # floats are IEEE doubles — bit-identical to the JVM fold), then
    # 0.15 + 0.85 * contrib. Rounding/ranking stay in Spark so the
    # round-half-up parity discipline is untouched.
    vocab_toks = [r["token"] for r in vocab.collect()]
    edge_rows = cooc.collect()
    adj: dict[str, list] = {}
    sw: dict[str, float] = {}
    for r in edge_rows:
        ta, tb, w = r["ta"], r["tb"], r["w"]
        adj.setdefault(tb, []).append((ta, w))
        adj.setdefault(ta, []).append((tb, w))
        sw[ta] = sw.get(ta, 0.0) + w  # integer-valued doubles: exact
        sw[tb] = sw.get(tb, 0.0) + w
    v = {t: 1.0 for t in vocab_toks}
    for _ in range(iters):
        nv = {}
        for node in vocab_toks:
            contrib = 0.0
            for src, w in sorted(adj.get(node, ())):
                contrib += (w / sw[src]) * v[src]
            nv[node] = 0.15 + 0.85 * contrib
        v = nv
    ws = local_relation(
        spark, [(t, v[t]) for t in vocab_toks], "node string, v double")
    wr = Window.orderBy(F.col("v").desc(), F.col("node").asc())
    return (ws.withColumn("rnk", F.row_number().over(wr))
            .filter(F.col("rnk") <= topk)
            .select(F.col("node").alias("token"),
                    F.round("v", 6).alias("score"),
                    F.col("rnk").cast("int")))


@register("textrank_keywords", lambda: _textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scores over the top-50-token co-occurrence
    graph (window 2, damping 0.85, 5 iterations), top-15. Pairing is
    the linear zip-with-tail form (see textrank_from_arrays)."""
    from travel_data_pipeline_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(text.token_array(F.col("text")).alias("t"))
    return textrank_from_arrays(spark, arrs)


# ---------------------------------------------------------------------------
# Batch F — SQL-surface parity suites (capability-matrix entries:
# each pins a Spark API surface to the equivalent ANSI semantics).
# ---------------------------------------------------------------------------

# --- IGNORE NULLS window functions -----------------------------------------
#
# Forward-fill (last_value IGNORE NULLS over a running frame),
# first/last non-null over the full partition — the gap-fill
# semantics suite. Values go through floor(value*100) so both
# engines' double->int conversion agrees (CAST rounds in DuckDB but
# truncates in Spark — the floor pins it), and every readout is an
# exact integer.
# ---------------------------------------------------------------------------

@register("wfunc_ignore_nulls_suite", """
WITH vals AS (
    SELECT user_id, ts, event_id,
           CASE WHEN CAST(floor(value * 100) AS BIGINT) % 7 = 0
                THEN NULL
                ELSE CAST(floor(value * 100) AS BIGINT) END AS vc
    FROM events
),
filled AS (
    SELECT user_id, vc,
           last_value(vc IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS ff,
           first_value(vc IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS first_nn,
           last_value(vc IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS last_nn
    FROM vals
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN vc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(COALESCE(ff, 0)) AS BIGINT) AS sum_filled,
       CAST(max(first_nn) AS BIGINT) AS first_nonnull,
       CAST(max(last_nn) AS BIGINT) AS last_nonnull
FROM filled GROUP BY user_id
""")
def wfunc_ignore_nulls_suite(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """IGNORE NULLS window semantics: running forward-fill +
    first/last non-null per user, exact integer readouts."""
    ev = load_table(spark, sf_dir, "events")
    vc0 = F.floor(F.col("value") * 100).cast("long")
    vals = ev.select(
        "user_id", "ts", "event_id",
        F.when(vc0 % 7 == 0, F.lit(None).cast("long"))
        .otherwise(vc0).alias("vc"))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, 0)
    full = wo.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    filled = vals.select(
        "user_id", "vc",
        F.last("vc", ignorenulls=True).over(run).alias("ff"),
        F.first("vc", ignorenulls=True).over(full).alias("first_nn"),
        F.last("vc", ignorenulls=True).over(full).alias("last_nn"))
    return (filled.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.sum(F.when(F.col("vc").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_nulls"),
                 F.sum(F.coalesce(F.col("ff"), F.lit(0)))
                 .cast("long").alias("sum_filled"),
                 F.max("first_nn").cast("long").alias("first_nonnull"),
                 F.max("last_nn").cast("long").alias("last_nonnull")))


# --- GROUPING_ID over cube -------------------------------------------------
#
# The grouping-set provenance bitmask (first grouping column = most
# significant bit in BOTH engines' convention) exposed alongside the
# cube aggregate — closes the §2.4 readout: consumers can filter
# exactly the aggregation level they want.
# ---------------------------------------------------------------------------

@register("grouping_id_bitmask", f"""
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({_YC}) AS BIGINT) AS revenue_cents
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""")
def grouping_id_bitmask(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with the grouping_id bitmask and
    exact count/revenue readouts."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders
            .cube("o_orderpriority", "o_orderstatus")
            .agg(F.grouping_id().cast("int").alias("gid"),
                 F.count("*").cast("long").alias("n_orders"),
                 F.sum(_r17_yc_col()).cast("long")
                 .alias("revenue_cents"))
            .select(F.coalesce(F.col("o_orderpriority"), F.lit("ALL"))
                    .alias("priority"),
                    F.coalesce(F.col("o_orderstatus"), F.lit("ALL"))
                    .alias("status"),
                    "gid", "n_orders", "revenue_cents"))


# --- array higher-order function suite -------------------------------------
#
# transform / filter / exists / forall / zip_with / aggregate over
# the embedding arrays, pinned against DuckDB's list_* family. The
# sequential-fold sum shares the list_reduce(list_prepend(0.0, ...))
# spelling; the reversed-self dot product uses list_dot_product,
# which DuckDB evaluates as the same left fold (FIXTURES note: only
# list_distance differs in the last ulp — not used here).
# ---------------------------------------------------------------------------

@register("array_hof_suite", f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
)
SELECT vec_id,
       CAST(len(e) AS INT) AS n_dims,
       CAST(len(list_filter(e, x -> x > 0.0)) AS INT) AS n_pos,
       len(list_filter(e, x -> x < -0.5)) > 0 AS any_strong_neg,
       len(list_filter(e, x -> NOT (abs(x) < 10.0))) = 0
         AS all_small,
       {round_sql("list_reduce(list_prepend(0.0, e), (x, y) -> x + y)")}
         + 0.0 AS fold_sum,
       {round_sql("list_dot_product(e, list_reverse(e))")}
         AS dot_reversed
FROM v
""")
def array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over embeddings: filter / exists
    / forall / sequential-fold sum / reversed-self zip_with dot."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    e = F.col("e")
    fold_sum = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x)
    dot_rev = F.aggregate(
        F.zip_with(e, F.reverse(e), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size(e).cast("int").alias("n_dims"),
        F.size(F.filter(e, lambda x: x > 0.0)).cast("int")
        .alias("n_pos"),
        F.exists(e, lambda x: x < -0.5).alias("any_strong_neg"),
        F.forall(e, lambda x: F.abs(x) < 10.0).alias("all_small"),
        (F.round(fold_sum, 6) + 0.0).alias("fold_sum"),
        F.round(dot_rev, 6).alias("dot_reversed"))


# ---------------------------------------------------------------------------
# Batch G — five more classical tests, all exact-moment.
# ---------------------------------------------------------------------------

# --- Wilcoxon signed-rank on successive daily differences ------------------
#
# d_t = x_{t+1} - x_t (zeros dropped per Wilcoxon 1945, public);
# midranks of |d| over the bounded |d| value grid stay 2x-scaled
# integers; W+ = sum of positive-diff ranks; tie-corrected normal
# z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 - sum(t^3-t)/48).
# ---------------------------------------------------------------------------

@register("wilcoxon_signed_rank", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
diffs AS (
    SELECT b.cnt - a.cnt AS d FROM daily a
    JOIN daily b ON b.t = a.t + 1
    WHERE b.cnt <> a.cnt
),
vals AS (
    SELECT abs(d) AS ad, count(*) AS l,
           CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS lpos
    FROM diffs GROUP BY abs(d)
),
cums AS (
    SELECT ad, l, lpos,
           sum(l) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) AS cum
    FROM vals
),
mom AS (
    SELECT CAST(sum(l) AS BIGINT) AS n,
           -- 2*rank midrank = prev+cum+1; W+ = sum lpos * midrank
           CAST(sum(CAST(lpos AS DECIMAL(38,0))
                    * ((cum - l) + cum + 1)) AS DECIMAL(38,0)) AS w2,
           CAST(sum(CAST(l AS DECIMAL(38,0)) * l * l - l)
                AS DECIMAL(38,0)) AS tie3
    FROM cums
),
f AS (
    SELECT n, CAST(n AS DOUBLE) AS nd,
           CAST(CAST(w2 AS VARCHAR) AS DOUBLE) / 2.0 AS wplus,
           CAST(CAST(tie3 AS VARCHAR) AS DOUBLE) AS tie3
    FROM mom
),
g AS (
    SELECT *, nd * (nd + 1.0) / 4.0 AS mean_w,
           nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
             - tie3 / 48.0 AS var_w
    FROM f
)
SELECT n AS n_nonzero, {round_sql('wplus')} AS w_plus,
       {round_sql('mean_w')} AS mean_w, {round_sql('var_w')} AS var_w,
       CASE WHEN var_w <= 0.0 THEN NULL
            ELSE {round_sql('(wplus - mean_w) / sqrt(var_w)')}
       END + 0.0 AS z
FROM g
""")
def wilcoxon_signed_rank(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank of successive daily-count differences
    (zeros dropped, midranks over the |d| grid, tie-corrected z)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("xa"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    diffs = (a.join(F.broadcast(b), F.col("tb") == F.col("ta") + 1)
             .select((F.col("xb") - F.col("xa")).alias("d"))
             .filter(F.col("d") != 0))
    vals = (diffs.groupBy(F.abs("d").alias("ad"))
            .agg(F.count("*").alias("l"),
                 F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
                 .cast("long").alias("lpos")))
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    cums = vals.withColumn("cum", F.sum("l").over(w))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = cums.agg(
        F.sum("l").cast("long").alias("n"),
        dec(F.sum(dec(F.col("lpos"))
                  * ((F.col("cum") - F.col("l")) + F.col("cum") + 1)))
        .alias("w2"),
        dec(F.sum(dec(F.col("l")) * F.col("l") * F.col("l")
                  - F.col("l"))).alias("tie3"))
    nd = F.col("n").cast("double")
    wplus = F.col("w2").cast("string").cast("double") / 2.0
    tie3 = F.col("tie3").cast("string").cast("double")
    mean_w = nd * (nd + 1.0) / 4.0
    var_w = (nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
             - tie3 / 48.0)
    g = mom.select("n", wplus.alias("wplus"), mean_w.alias("mean_w"),
                   var_w.alias("var_w"))
    z = (F.when(F.col("var_w") <= 0.0, F.lit(None).cast("double"))
         .otherwise(F.round((F.col("wplus") - F.col("mean_w"))
                            / F.sqrt(F.col("var_w")), 6)) + 0.0)
    return g.select(F.col("n").alias("n_nonzero"),
                    F.round("wplus", 6).alias("w_plus"),
                    F.round("mean_w", 6).alias("mean_w"),
                    F.round("var_w", 6).alias("var_w"),
                    z.alias("z"))


# --- McNemar's test over the half-window purchase split --------------------
#
# Paired per-user binary outcome: purchased in days 0-14 vs days 15+;
# b = (yes, no), c = (no, yes); continuity-corrected
# chi2 = (|b-c|-1)^2 / (b+c) (McNemar 1947, public). Exact counts.
# ---------------------------------------------------------------------------

@register("mcnemar_halfwindow", """
WITH mind AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase'
                     AND date_diff('day', d0, date_trunc('day', ts))
                         < 15 THEN 1 ELSE 0 END) AS p1,
           max(CASE WHEN event_type = 'purchase'
                     AND date_diff('day', d0, date_trunc('day', ts))
                         >= 15 THEN 1 ELSE 0 END) AS p2
    FROM events CROSS JOIN mind GROUP BY user_id
),
cells AS (
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS both_halves,
           CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS only_first,
           CAST(sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS only_second,
           CAST(sum(CASE WHEN p1 = 0 AND p2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS neither
    FROM per_user
)
SELECT n_users, both_halves, only_first, only_second, neither,
       CASE WHEN only_first + only_second = 0 THEN NULL
            ELSE CAST(round(CAST(
                 (abs(only_first - only_second) - 1)
                 * (abs(only_first - only_second) - 1) AS DOUBLE)
                 / (only_first + only_second), 6) AS DOUBLE)
       END AS mcnemar_chi2
FROM cells
""")
def mcnemar_halfwindow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar continuity-corrected chi2 of per-user purchase status
    between the event window's two halves."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    dd = F.datediff(F.date_trunc("day", "ts"), F.col("d0"))
    per_user = (ev.crossJoin(F.broadcast(d0))
                .groupBy("user_id")
                .agg(F.max(F.when((F.col("event_type") == "purchase")
                                  & (dd < 15), 1).otherwise(0))
                     .alias("p1"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (dd >= 15), 1).otherwise(0))
                     .alias("p2")))
    cells = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 1), 1)
              .otherwise(0)).cast("long").alias("both_halves"),
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 0), 1)
              .otherwise(0)).cast("long").alias("only_first"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 1), 1)
              .otherwise(0)).cast("long").alias("only_second"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 0), 1)
              .otherwise(0)).cast("long").alias("neither"))
    b, c = F.col("only_first"), F.col("only_second")
    chi = (F.when(b + c == 0, F.lit(None).cast("double"))
           .otherwise(F.round(
               ((F.abs(b - c) - 1) * (F.abs(b - c) - 1))
               .cast("double") / (b + c), 6)))
    return cells.withColumn("mcnemar_chi2", chi)


# --- partial correlation of the daily series -------------------------------
#
# r(view, purchase | click) over days where all three exist:
#   r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)(1-r_yz^2))
# Pearsons from exact integer moments (one inner 3-way day join).
# ---------------------------------------------------------------------------

_PC_R = ("CASE WHEN m2 * s{a}{a} - s{a} * s{a} <= 0.0"
         " OR m2 * s{b}{b} - s{b} * s{b} <= 0.0 THEN NULL"
         " ELSE (m2 * s{a}{b} - s{a} * s{b})"
         " / (sqrt(m2 * s{a}{a} - s{a} * s{a})"
         " * sqrt(m2 * s{b}{b} - s{b} * s{b})) END")


@register("partial_correlation_daily", f"""
WITH x AS ({_DAILY_SQL.format(where="WHERE event_type = 'view'")}),
y AS ({_DAILY_SQL.format(where="WHERE event_type = 'purchase'")}),
z AS ({_DAILY_SQL.format(where="WHERE event_type = 'click'")}),
rows_in AS (
    SELECT x.cnt AS x, y.cnt AS y, z.cnt AS z
    FROM x JOIN y ON y.t = x.t JOIN z ON z.t = x.t
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(x) AS BIGINT) AS ix, CAST(sum(y) AS BIGINT) AS iy,
           CAST(sum(z) AS BIGINT) AS iz,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS ixx,
           CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS iyy,
           CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS izz,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS ixy,
           CAST(sum(CAST(x AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS ixz,
           CAST(sum(CAST(y AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS iyz
    FROM rows_in
),
f AS (
    SELECT m, CAST(m AS DOUBLE) AS m2,
           CAST(ix AS DOUBLE) AS sx, CAST(iy AS DOUBLE) AS sy,
           CAST(iz AS DOUBLE) AS sz,
           CAST(CAST(ixx AS VARCHAR) AS DOUBLE) AS sxx,
           CAST(CAST(iyy AS VARCHAR) AS DOUBLE) AS syy,
           CAST(CAST(izz AS VARCHAR) AS DOUBLE) AS szz,
           CAST(CAST(ixy AS VARCHAR) AS DOUBLE) AS sxy,
           CAST(CAST(ixz AS VARCHAR) AS DOUBLE) AS sxz,
           CAST(CAST(iyz AS VARCHAR) AS DOUBLE) AS syz
    FROM mom
),
r AS (
    SELECT m,
           {_PC_R.format(a='x', b='y')} AS rxy,
           {_PC_R.format(a='x', b='z')} AS rxz,
           {_PC_R.format(a='y', b='z')} AS ryz
    FROM f
)
SELECT m AS n_days,
       {round_sql('rxy')} + 0.0 AS r_xy,
       {round_sql('rxz')} + 0.0 AS r_xz,
       {round_sql('ryz')} + 0.0 AS r_yz,
       CASE WHEN rxy IS NULL OR rxz IS NULL OR ryz IS NULL
              OR (1.0 - rxz * rxz) * (1.0 - ryz * ryz) <= 0.0
            THEN NULL
            ELSE {round_sql('(rxy - rxz * ryz)'
                            ' / sqrt((1.0 - rxz * rxz)'
                            ' * (1.0 - ryz * ryz))')}
       END + 0.0 AS r_xy_given_z
FROM r
""")
def partial_correlation_daily(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Partial correlation r(view, purchase | click) of the daily
    series from exact integer moments."""
    ev = load_table(spark, sf_dir, "events")
    x = _daily_counts(ev, "view").select(
        F.col("t").alias("tx"), F.col("cnt").alias("x"))
    y = _daily_counts(ev, "purchase").select(
        F.col("t").alias("ty"), F.col("cnt").alias("y"))
    z = _daily_counts(ev, "click").select(
        F.col("t").alias("tz"), F.col("cnt").alias("z"))
    rows_in = (x.join(F.broadcast(y), F.col("ty") == F.col("tx"))
               .join(F.broadcast(z), F.col("tz") == F.col("tx"))
               .select("x", "y", "z"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = rows_in.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("ix"),
        F.sum("y").cast("long").alias("iy"),
        F.sum("z").cast("long").alias("iz"),
        dec(F.sum(dec(F.col("x")) * F.col("x"))).alias("ixx"),
        dec(F.sum(dec(F.col("y")) * F.col("y"))).alias("iyy"),
        dec(F.sum(dec(F.col("z")) * F.col("z"))).alias("izz"),
        dec(F.sum(dec(F.col("x")) * F.col("y"))).alias("ixy"),
        dec(F.sum(dec(F.col("x")) * F.col("z"))).alias("ixz"),
        dec(F.sum(dec(F.col("y")) * F.col("z"))).alias("iyz"))
    m2 = F.col("m").cast("double")
    s = {c: F.col(f"i{c}").cast("double") for c in ("x", "y", "z")}
    ss = {c: F.col(f"i{c}").cast("string").cast("double")
          for c in ("xx", "yy", "zz", "xy", "xz", "yz")}

    def r_of(a, b):
        saa, sbb, sab = ss[a + a], ss[b + b], ss[a + b]
        return (F.when((m2 * saa - s[a] * s[a] <= 0.0)
                       | (m2 * sbb - s[b] * s[b] <= 0.0),
                       F.lit(None).cast("double"))
                .otherwise((m2 * sab - s[a] * s[b])
                           / (F.sqrt(m2 * saa - s[a] * s[a])
                              * F.sqrt(m2 * sbb - s[b] * s[b]))))

    r = mom.select("m", r_of("x", "y").alias("rxy"),
                   r_of("x", "z").alias("rxz"),
                   r_of("y", "z").alias("ryz"))
    den = ((1.0 - F.col("rxz") * F.col("rxz"))
           * (1.0 - F.col("ryz") * F.col("ryz")))
    pc = (F.when(F.col("rxy").isNull() | F.col("rxz").isNull()
                 | F.col("ryz").isNull() | (den <= 0.0),
                 F.lit(None).cast("double"))
          .otherwise(F.round((F.col("rxy")
                              - F.col("rxz") * F.col("ryz"))
                             / F.sqrt(den), 6)) + 0.0)
    return r.select(F.col("m").alias("n_days"),
                    (F.round("rxy", 6) + 0.0).alias("r_xy"),
                    (F.round("rxz", 6) + 0.0).alias("r_xz"),
                    (F.round("ryz", 6) + 0.0).alias("r_yz"),
                    pc.alias("r_xy_given_z"))


# --- Bartlett's variance-homogeneity test ----------------------------------
#
# The parametric sibling of brown_forsythe: T = ((N-k) ln s_p^2 -
# sum (n_i-1) ln s_i^2) / (1 + (sum 1/(n_i-1) - 1/(N-k))/(3(k-1)))
# (Bartlett 1937, public) over the 4 md5 arms on order-value cents;
# sample variances from exact decimal moments, fixed-order 4-term
# ln tree.
# ---------------------------------------------------------------------------

@register("bartlett_arms", f"""
WITH units AS (
    SELECT {_R17_ARM} AS arm, {_YC} AS yc FROM orders
),
mom AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yc) AS BIGINT) AS s,
           CAST(sum(CAST(yc AS DECIMAL(38,0)) * yc)
                AS DECIMAL(38,0)) AS q
    FROM units GROUP BY arm
),
v AS (
    -- numerator n*q - s^2 stays an EXACT decimal (the double product
    -- s*s at ~3e21 rounds differently than the decimal path — 1-ulp
    -- engine divergence observed at sf0.01); one string bridge, then
    -- the exact double denominator n*(n-1)
    SELECT arm, n,
           CASE WHEN n <= 1 THEN NULL
                ELSE CAST(CAST(CAST(n AS DECIMAL(38,0)) * q
                               - CAST(s AS DECIMAL(38,0)) * s
                               AS VARCHAR) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
           END AS s2
    FROM mom
),
wide AS (
    SELECT CAST(sum(n) AS BIGINT) AS n,
           {", ".join(f"CAST(sum(CASE WHEN arm = {a} THEN n END) AS BIGINT) AS n{a}, "
                      f"sum(CASE WHEN arm = {a} THEN s2 END) AS v{a}"
                      for a in range(_R17_ARMS))}
    FROM v
),
f AS (
    SELECT *,
           CAST(n AS DOUBLE) - {_R17_ARMS}.0 AS dfp,
           (0.0 {" ".join(f"+ (CAST(n{a} AS DOUBLE) - 1.0) * v{a}"
                          for a in range(_R17_ARMS))})
             / (CAST(n AS DOUBLE) - {_R17_ARMS}.0) AS sp2
    FROM wide
)
SELECT {", ".join(f"n{a} AS n_arm{a}, {round_sql(f'sqrt(v{a}) / 100.0')} AS sd_arm{a}"
                  for a in range(_R17_ARMS))},
       {round_sql('sqrt(sp2) / 100.0')} AS pooled_sd,
       CASE WHEN {" OR ".join(f"n{a} <= 1 OR v{a} <= 0.0"
                              for a in range(_R17_ARMS))}
              OR sp2 <= 0.0 THEN NULL
            ELSE {round_sql(f'''(dfp * ln(sp2)
                 - (0.0 {" ".join(f"+ (CAST(n{a} AS DOUBLE) - 1.0) * ln(v{a})"
                                  for a in range(_R17_ARMS))}))
                 / (1.0 + ((0.0 {" ".join(f"+ 1.0 / (CAST(n{a} AS DOUBLE) - 1.0)"
                                          for a in range(_R17_ARMS))})
                           - 1.0 / dfp) / (3.0 * ({_R17_ARMS}.0 - 1.0)))''')}
       END AS bartlett_t
FROM f
""")
def bartlett_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett variance-homogeneity T across the 4 md5 arms on
    order-value cents (fixed-order ln tree over exact variances)."""
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(_r17_arm_col().alias("arm"),
                          _r17_yc_col().alias("yc"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = units.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yc").cast("long").alias("s"),
        dec(F.sum(dec(F.col("yc")) * F.col("yc"))).alias("q"))
    nd_ = F.col("n").cast("double")
    s2 = (F.when(F.col("n") <= 1, F.lit(None).cast("double"))
          .otherwise((dec(F.col("n")) * F.col("q")
                      - dec(F.col("s")) * F.col("s"))
                     .cast("string").cast("double")
                     / (nd_ * (nd_ - 1.0))))
    v = mom.select("arm", "n", s2.alias("s2"))
    wide = v.agg(
        F.sum("n").cast("long").alias("n"),
        *[c for a in range(_R17_ARMS) for c in (
            F.sum(F.when(F.col("arm") == a, F.col("n")))
            .cast("long").alias(f"n{a}"),
            F.sum(F.when(F.col("arm") == a, F.col("s2")))
            .alias(f"v{a}"))])
    k = float(_R17_ARMS)
    dfp = F.col("n").cast("double") - k
    num = F.lit(0.0)
    for a in range(_R17_ARMS):
        num = num + (F.col(f"n{a}").cast("double") - 1.0) \
            * F.col(f"v{a}")
    sp2 = num / (F.col("n").cast("double") - k)
    f = wide.withColumn("dfp", dfp).withColumn("sp2", sp2)
    bad = F.col("sp2") <= 0.0
    lnum = F.lit(0.0)
    hsum = F.lit(0.0)
    for a in range(_R17_ARMS):
        bad = bad | (F.col(f"n{a}") <= 1) | (F.col(f"v{a}") <= 0.0)
        lnum = lnum + (F.col(f"n{a}").cast("double") - 1.0) \
            * F.log(F.col(f"v{a}"))
        hsum = hsum + 1.0 / (F.col(f"n{a}").cast("double") - 1.0)
    t = (F.when(bad, F.lit(None).cast("double"))
         .otherwise(F.round(
             (F.col("dfp") * F.log(F.col("sp2")) - lnum)
             / (1.0 + (hsum - 1.0 / F.col("dfp"))
                / (3.0 * (k - 1.0))), 6)))
    # rounded readouts stay under the ~4e9 round-parity ceiling
    # (parity.py magnitude hazard): report dollar STANDARD DEVIATIONS,
    # not cents^2 variances
    return f.select(
        *[c for a in range(_R17_ARMS) for c in (
            F.col(f"n{a}").alias(f"n_arm{a}"),
            F.round(F.sqrt(F.col(f"v{a}")) / 100.0, 6)
            .alias(f"sd_arm{a}"))],
        F.round(F.sqrt(F.col("sp2")) / 100.0, 6).alias("pooled_sd"),
        t.alias("bartlett_t"))


# --- Grubbs outlier test on the daily series -------------------------------
#
# G = max |x_i - mean| / s (sample s); the argmax day is picked by
# the EXACT integer deviation |n*x_i - sum(x)| with earliest-day
# tie-break, so engines can never disagree on the winner
# (Grubbs 1950, public).
# ---------------------------------------------------------------------------

@register("grubbs_outlier_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cnt) AS BIGINT) AS sx,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt)
                AS DECIMAL(38,0)) AS sxx
    FROM daily
),
dev AS (
    SELECT d.t, d.cnt,
           abs(CAST(m.n AS DECIMAL(38,0)) * d.cnt - m.sx) AS ad,
           m.n, m.sx, m.sxx
    FROM daily d CROSS JOIN mom m
),
pick AS (
    SELECT * FROM dev ORDER BY ad DESC, t ASC LIMIT 1
)
SELECT n AS n_days, CAST(t AS BIGINT) AS outlier_day,
       CAST(cnt AS BIGINT) AS outlier_cnt,
       CASE WHEN n <= 1 OR CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sx / n <= 0.0 THEN NULL
            ELSE {round_sql('''(CAST(CAST(ad AS VARCHAR) AS DOUBLE) / n)
                 / sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx / n)
                        / (CAST(n AS DOUBLE) - 1.0))''')}
       END AS grubbs_g
FROM pick
""")
def grubbs_outlier_daily(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Grubbs G of the most extreme daily count (exact-integer argmax,
    sample-s denominator)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("sx"),
        dec(F.sum(dec(F.col("cnt")) * F.col("cnt"))).alias("sxx"))
    dev = (daily.crossJoin(F.broadcast(mom))
           .select("t", "cnt", "n", "sx", "sxx",
                   F.abs(dec(F.col("n")) * F.col("cnt")
                         - F.col("sx")).alias("ad")))
    pick = dev.orderBy(F.col("ad").desc(), F.col("t").asc()).limit(1)
    var = (F.col("sxx").cast("string").cast("double")
           - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
    g = (F.when((F.col("n") <= 1) | (var <= 0.0),
                F.lit(None).cast("double"))
         .otherwise(F.round(
             (F.col("ad").cast("string").cast("double") / F.col("n"))
             / F.sqrt(var / (F.col("n").cast("double") - 1.0)), 6)))
    return pick.select(F.col("n").alias("n_days"),
                       F.col("t").cast("long").alias("outlier_day"),
                       F.col("cnt").cast("long").alias("outlier_cnt"),
                       g.alias("grubbs_g"))


# ---------------------------------------------------------------------------
# Batch H — four more exact classics.
# ---------------------------------------------------------------------------

# --- exact binomial sign test on successive daily differences --------------
#
# b = #(d > 0) of the nonzero differences, n of them; the exact
# two-sided p-value is 2 * min(P[X<=min(b,n-b)], 1/2) with
# X ~ Bin(n, 1/2): P = sum_{k<=m} C(n,k) / 2^n — the binomial
# coefficients accumulate EXACTLY as decimals in a bounded k fold
# (n = #days-1), and the single division by 2^n happens in double.
# ---------------------------------------------------------------------------

@register("sign_test_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
diffs AS (
    SELECT b.cnt - a.cnt AS d FROM daily a
    JOIN daily b ON b.t = a.t + 1 WHERE b.cnt <> a.cnt
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS b
    FROM diffs
),
m AS (SELECT n, b, least(b, n - b) AS mm FROM mom),
-- running C(n,k) built by C(n,k) = C(n,k-1)*(n-k+1)/k (exact
-- integers at n <= ~60; DECIMAL(38,0) holds C(60,30) ~ 1.2e17)
ks AS (
    SELECT m.n, m.b, m.mm, s.k FROM m,
         unnest(generate_series(0, m.mm)) AS s(k)
),
coef AS (
    SELECT n, b, mm, k,
           list_reduce(list_prepend(CAST(1 AS DECIMAL(38,0)),
               list_transform(generate_series(1, k),
                   j -> CAST(j AS DECIMAL(38,0)))),
               (acc, j) -> CAST(acc * (n - j + 1) / j
                                AS DECIMAL(38,0))) AS cnk
    FROM ks
),
tail AS (
    SELECT n, b, CAST(sum(cnk) AS DECIMAL(38,0)) AS csum
    FROM coef GROUP BY n, b
)
SELECT n AS n_nonzero, b AS n_positive,
       CASE WHEN n = 0 THEN NULL
            ELSE {round_sql('''least(1.0,
                2.0 * (CAST(CAST(csum AS VARCHAR) AS DOUBLE)
                       / pow(2.0, CAST(n AS DOUBLE))))''')}
       END AS p_two_sided
FROM tail
""")
def sign_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binomial sign test of successive daily differences
    (two-sided, zeros dropped): bounded exact-decimal C(n,k) fold."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    a = daily.select(F.col("t").alias("ta"), F.col("cnt").alias("xa"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("xb"))
    diffs = (a.join(F.broadcast(b), F.col("tb") == F.col("ta") + 1)
             .select((F.col("xb") - F.col("xa")).alias("d"))
             .filter(F.col("d") != 0))
    mom = diffs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long")
        .alias("b"))
    m = mom.select("n", "b",
                   F.least(F.col("b"), F.col("n") - F.col("b"))
                   .alias("mm"))
    dec1 = F.lit(1).cast("decimal(38,0)")
    # sum_{k=0..mm} C(n,k): inner fold builds C(n,k) multiplicatively,
    # outer fold accumulates — both over bounded sequences
    ks = m.select("n", "b", "mm",
                  F.explode(F.sequence(F.lit(0), F.col("mm")))
                  .alias("k"))
    # Spark's sequence(1, 0) DESCENDS ([1, 0] — j=0 would divide by
    # zero); DuckDB's generate_series(1, 0) is empty — pin the k=0
    # case to the empty fold explicitly
    js = (F.when(F.col("k") < 1,
                 F.array().cast("array<decimal(38,0)>"))
          .otherwise(F.transform(F.sequence(F.lit(1), F.col("k")),
                                 lambda j: j.cast("decimal(38,0)"))))
    cnk = F.aggregate(
        js, dec1,
        lambda acc, j: (acc * (F.col("n") - j + 1) / j)
        .cast("decimal(38,0)"))
    coef = ks.select("n", "b", cnk.alias("cnk"))
    tail = (coef.groupBy("n", "b")
            .agg(F.sum("cnk").cast("decimal(38,0)").alias("csum")))
    p = (F.when(F.col("n") == 0, F.lit(None).cast("double"))
         .otherwise(F.round(F.least(
             F.lit(1.0),
             2.0 * (F.col("csum").cast("string").cast("double")
                    / F.pow(F.lit(2.0),
                            F.col("n").cast("double")))), 6)))
    return tail.select(F.col("n").alias("n_nonzero"),
                       F.col("b").alias("n_positive"),
                       p.alias("p_two_sided"))


# --- Kuiper two-sample test ------------------------------------------------
#
# V = D+ + D- with D+ = max_j (F_n - G_m), D- = max_j (G_m - F_n)
# at the pooled distinct values (Kuiper 1960, public); both maxima
# are EXACT integer argmaxes of m*cA - n*cB over the value grid, so
# the only double is the final V = (mx_plus + mx_minus)/(n*m).
# ---------------------------------------------------------------------------

@register("kuiper_two_sample", f"""
WITH units AS (
    SELECT {_R17_ARM2} AS grp, {_YC} AS yc FROM orders
),
vals AS (
    SELECT yc,
           CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS la,
           CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS lb
    FROM units GROUP BY yc
),
cums AS (
    SELECT yc,
           sum(la) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING) AS ca,
           sum(lb) OVER (ORDER BY yc ROWS UNBOUNDED PRECEDING) AS cb
    FROM vals
),
tot AS (
    SELECT CAST(sum(la) AS BIGINT) AS n, CAST(sum(lb) AS BIGINT) AS m
    FROM vals
),
devs AS (
    SELECT CAST(t.m AS DECIMAL(38,0)) * c.ca
           - CAST(t.n AS DECIMAL(38,0)) * c.cb AS dd
    FROM cums c CROSS JOIN tot t
),
mx AS (
    SELECT greatest(CAST(max(dd) AS DECIMAL(38,0)),
                    CAST(0 AS DECIMAL(38,0))) AS dplus,
           greatest(CAST(max(-dd) AS DECIMAL(38,0)),
                    CAST(0 AS DECIMAL(38,0))) AS dminus
    FROM devs
)
SELECT t.n AS n_group0, t.m AS n_group1,
       {round_sql('CAST(CAST(x.dplus AS VARCHAR) AS DOUBLE)'
                  ' / (CAST(t.n AS DOUBLE) * t.m)')} AS d_plus,
       {round_sql('CAST(CAST(x.dminus AS VARCHAR) AS DOUBLE)'
                  ' / (CAST(t.n AS DOUBLE) * t.m)')} AS d_minus,
       {round_sql('''(CAST(CAST(x.dplus AS VARCHAR) AS DOUBLE)
            + CAST(CAST(x.dminus AS VARCHAR) AS DOUBLE))
           / (CAST(t.n AS DOUBLE) * t.m)''')} AS kuiper_v
FROM tot t CROSS JOIN mx x
""")
def kuiper_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper V between the md5 parity groups of order values —
    exact integer ECDF deviation maxima."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(
        _r17_arm_col(2, "r17b:").alias("grp"),
        _r17_yc_col().alias("yc"))
    vals = (units.groupBy("yc")
            .agg(F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
                 .cast("long").alias("la"),
                 F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
                 .cast("long").alias("lb"))
            .localCheckpoint(eager=False))
    cums = two_phase_ordered(
        vals, [F.col("yc").asc()], bucket_on=F.col("yc"),
        cumsum_cols={"la": "ca", "lb": "cb"})
    tot = vals.agg(F.sum("la").cast("long").alias("n"),
                   F.sum("lb").cast("long").alias("m"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    devs = (cums.crossJoin(F.broadcast(tot))
            .select((dec(F.col("m")) * F.col("ca")
                     - dec(F.col("n")) * F.col("cb")).alias("dd")))
    mx = devs.agg(
        F.greatest(dec(F.max("dd")), dec(F.lit(0))).alias("dplus"),
        F.greatest(dec(F.max(-F.col("dd"))), dec(F.lit(0)))
        .alias("dminus"))
    nm = F.col("n").cast("double") * F.col("m")
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    return (tot.crossJoin(F.broadcast(mx))
            .select(F.col("n").alias("n_group0"),
                    F.col("m").alias("n_group1"),
                    F.round(sd("dplus") / nm, 6).alias("d_plus"),
                    F.round(sd("dminus") / nm, 6).alias("d_minus"),
                    F.round((sd("dplus") + sd("dminus")) / nm, 6)
                    .alias("kuiper_v")))


# --- Cook's distance of the daily OLS trend --------------------------------
#
# For y ~ a + b*t: leverage h_t = 1/n + (t - tbar)^2 / Sxx and
# D_t = e_t^2 * h_t / (2 * s^2 * (1 - h_t)^2) (Cook 1977, public).
# Residuals stay scaled integers (n*Sxx*e_t is exact), leverages are
# exact rationals; one shared double expression per day.
# ---------------------------------------------------------------------------

@register("cooks_distance_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS BIGINT) AS st,
           CAST(sum(cnt) AS BIGINT) AS sy,
           CAST(sum(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)) AS stt,
           CAST(sum(CAST(t AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0)) AS sty
    FROM daily
),
f AS (
    SELECT n, CAST(n AS DOUBLE) AS nd,
           CAST(st AS DOUBLE) AS st, CAST(sy AS DOUBLE) AS sy,
           CAST(CAST(stt AS VARCHAR) AS DOUBLE) AS stt,
           CAST(CAST(sty AS VARCHAR) AS DOUBLE) AS sty
    FROM mom
),
coef AS (
    SELECT *,
           CASE WHEN nd * stt - st * st <= 0.0 THEN NULL
                ELSE (nd * sty - st * sy) / (nd * stt - st * st)
           END AS b
    FROM f
),
ab AS (
    SELECT *, CASE WHEN b IS NULL THEN NULL
                   ELSE (sy - b * st) / nd END AS a
    FROM coef
),
resid AS (
    SELECT d.t, d.cnt, x.n, x.nd, x.a, x.b,
           x.stt - x.st * x.st / x.nd AS sxx,
           CAST(d.cnt AS DOUBLE) - (x.a + x.b * d.t) AS e,
           1.0 / x.nd + (d.t - x.st / x.nd) * (d.t - x.st / x.nd)
             / (x.stt - x.st * x.st / x.nd) AS h
    FROM daily d CROSS JOIN ab x
),
s2 AS (
    SELECT CAST(sum(e * e) AS DOUBLE)
             / (CAST(max(nd) AS DOUBLE) - 2.0) AS s2
    FROM resid
)
SELECT CAST(r.t AS BIGINT) AS t, CAST(r.cnt AS BIGINT) AS cnt,
       {round_sql('r.e')} + 0.0 AS residual,
       {round_sql('r.h')} AS leverage,
       CASE WHEN q.s2 <= 0.0 OR r.h >= 1.0 THEN NULL
            ELSE {round_sql('''r.e * r.e * r.h
                 / (2.0 * q.s2 * (1.0 - r.h) * (1.0 - r.h))''')}
       END AS cooks_d
FROM resid r CROSS JOIN s2 q
""")
def cooks_distance_daily(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Cook's distance per day under the daily OLS trend (exact
    moments, shared residual/leverage spellings)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("cnt").cast("long").alias("sy"),
        dec(F.sum(dec(F.col("t")) * F.col("t"))).alias("stt"),
        dec(F.sum(dec(F.col("t")) * F.col("cnt"))).alias("sty"))
    nd = F.col("n").cast("double")
    st, sy = F.col("st").cast("double"), F.col("sy").cast("double")
    stt = F.col("stt").cast("string").cast("double")
    sty = F.col("sty").cast("string").cast("double")
    b = (F.when(nd * stt - st * st <= 0.0,
                F.lit(None).cast("double"))
         .otherwise((nd * sty - st * sy) / (nd * stt - st * st)))
    coef = mom.select("n", nd.alias("nd"), st.alias("st"),
                      sy.alias("sy"), stt.alias("stt"),
                      sty.alias("sty"), b.alias("b"))
    a = (F.when(F.col("b").isNull(), F.lit(None).cast("double"))
         .otherwise((F.col("sy") - F.col("b") * F.col("st"))
                    / F.col("nd")))
    ab = coef.withColumn("a", a)
    e = (F.col("cnt").cast("double")
         - (F.col("a") + F.col("b") * F.col("t")))
    h = (1.0 / F.col("nd")
         + (F.col("t") - F.col("st") / F.col("nd"))
         * (F.col("t") - F.col("st") / F.col("nd"))
         / (F.col("stt") - F.col("st") * F.col("st") / F.col("nd")))
    resid = (daily.crossJoin(F.broadcast(ab))
             .select("t", "cnt", "nd", e.alias("e"), h.alias("h"))
             .localCheckpoint(eager=False))
    s2 = resid.agg(
        (F.sum(F.col("e") * F.col("e"))
         / (F.max("nd") - 2.0)).alias("s2"))
    d = (F.when((F.col("s2") <= 0.0) | (F.col("h") >= 1.0),
                F.lit(None).cast("double"))
         .otherwise(F.round(
             F.col("e") * F.col("e") * F.col("h")
             / (2.0 * F.col("s2") * (1.0 - F.col("h"))
                * (1.0 - F.col("h"))), 6)))
    return (resid.crossJoin(F.broadcast(s2))
            .select(F.col("t").cast("long").alias("t"),
                    F.col("cnt").cast("long").alias("cnt"),
                    (F.round("e", 6) + 0.0).alias("residual"),
                    F.round("h", 6).alias("leverage"),
                    d.alias("cooks_d")))


# --- Cochran's Q over per-user event-type engagement -----------------------
#
# k = 3 related binary "treatments" per user (did view / click /
# purchase at least once); Q = k(k-1) * sum_j (C_j - T/k)^2
# / (k*T - sum_i R_i^2) with C_j column sums, R_i row sums, T total
# (Cochran 1950, public). Everything is an exact integer but the one
# Q expression; users whose row is all-0 or all-k drop out of the
# denominator naturally.
# ---------------------------------------------------------------------------

_CQ_TYPES = ("view", "click", "purchase")


@register("cochran_q_usertypes", f"""
WITH per_user AS (
    -- blocks are (user, day) pairs: per-lifetime outcomes saturate
    -- (every user eventually does every type -> Q degenerate at all
    -- SFs); the day grain leaves real variation
    SELECT user_id,
           date_diff('day', TIMESTAMP '{_DAY_ANCHOR}',
                     date_trunc('day', ts)) AS d,
           {", ".join(f"max(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS x{i}"
                      for i, t in enumerate(_CQ_TYPES))}
    FROM events GROUP BY user_id, d
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n_blocks,
           {", ".join(f"CAST(sum(x{i}) AS BIGINT) AS c{i}"
                      for i in range(len(_CQ_TYPES)))},
           CAST(sum(({" + ".join(f"x{i}" for i in range(len(_CQ_TYPES)))})
                    * ({" + ".join(f"x{i}" for i in range(len(_CQ_TYPES)))}))
                AS BIGINT) AS sr2
    FROM per_user
),
f AS (
    SELECT *, CAST({" + ".join(f"c{i}" for i in range(len(_CQ_TYPES)))}
                   AS BIGINT) AS tt
    FROM mom
)
SELECT n_blocks,
       {", ".join(f"c{i} AS n_{t}" for i, t in enumerate(_CQ_TYPES))},
       CASE WHEN 3 * tt - sr2 <= 0 THEN NULL
            ELSE {round_sql('''3.0 * 2.0 * (
                (CAST(c0 AS DOUBLE) - CAST(tt AS DOUBLE) / 3.0)
                * (CAST(c0 AS DOUBLE) - CAST(tt AS DOUBLE) / 3.0)
                + (CAST(c1 AS DOUBLE) - CAST(tt AS DOUBLE) / 3.0)
                * (CAST(c1 AS DOUBLE) - CAST(tt AS DOUBLE) / 3.0)
                + (CAST(c2 AS DOUBLE) - CAST(tt AS DOUBLE) / 3.0)
                * (CAST(c2 AS DOUBLE) - CAST(tt AS DOUBLE) / 3.0))
                / (CAST(3 * tt - sr2 AS DOUBLE))''')}
       END AS cochran_q
FROM f
""")
def cochran_q_usertypes(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Cochran's Q across the view/click/purchase binary triple over
    (user, day) blocks."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        "user_id",
        F.datediff(F.date_trunc("day", "ts"),
                   F.lit(_DAY_ANCHOR).cast("timestamp")).alias("d")
    ).agg(
        *[F.max(F.when(F.col("event_type") == t, 1).otherwise(0))
          .alias(f"x{i}") for i, t in enumerate(_CQ_TYPES)])
    rsum = sum((F.col(f"x{i}") for i in range(1, len(_CQ_TYPES))),
               F.col("x0"))
    mom = per_user.agg(
        F.count("*").cast("long").alias("n_blocks"),
        *[F.sum(f"x{i}").cast("long").alias(f"c{i}")
          for i in range(len(_CQ_TYPES))],
        F.sum(rsum * rsum).cast("long").alias("sr2"))
    tt = sum((F.col(f"c{i}") for i in range(1, len(_CQ_TYPES))),
             F.col("c0")).cast("long")
    f = mom.withColumn("tt", tt)
    ttd = F.col("tt").cast("double")
    num = F.lit(0.0)
    for i in range(len(_CQ_TYPES)):
        ci = F.col(f"c{i}").cast("double")
        num = num + (ci - ttd / 3.0) * (ci - ttd / 3.0)
    # match the oracle's literal spelling 3.0 * 2.0 * (t0 + t1 + t2)
    q = (F.when(3 * F.col("tt") - F.col("sr2") <= 0,
                F.lit(None).cast("double"))
         .otherwise(F.round(
             3.0 * 2.0 * ((F.col("c0").cast("double") - ttd / 3.0)
                          * (F.col("c0").cast("double") - ttd / 3.0)
                          + (F.col("c1").cast("double") - ttd / 3.0)
                          * (F.col("c1").cast("double") - ttd / 3.0)
                          + (F.col("c2").cast("double") - ttd / 3.0)
                          * (F.col("c2").cast("double") - ttd / 3.0))
             / (3 * F.col("tt") - F.col("sr2")).cast("double"), 6)))
    return f.select(
        "n_blocks",
        *[F.col(f"c{i}").alias(f"n_{t}")
          for i, t in enumerate(_CQ_TYPES)],
        q.alias("cochran_q"))


# ---------------------------------------------------------------------------
# Batch I — ANOVA-family post-hoc/robust variants, normality and
# structural-break diagnostics, ordered blocked trend, and
# theta-sketch set operations.
# ---------------------------------------------------------------------------

# --- Levene's test, MEAN-centered (complements the median-centered
# brown_forsythe_arms): Z_ij = |x_ij - mean_i| with n_i*Z exact
# integers (|n_i*x - s_i|), so both Z moments per arm are exact
# decimals scaled by n_i / n_i^2; W is the one-way ANOVA F over Z
# (Levene 1960, public).
# ---------------------------------------------------------------------------

@register("levene_mean_arms", f"""
WITH units AS (
    SELECT {_R17_ARM} AS arm, {_YC} AS yc FROM orders
),
mom AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yc) AS BIGINT) AS s
    FROM units GROUP BY arm
),
zmom AS (
    SELECT u.arm, m.n,
           CAST(sum(abs(CAST(m.n AS DECIMAL(38,0)) * u.yc - m.s))
                AS DECIMAL(38,0)) AS az1,
           CAST(sum((CAST(m.n AS DECIMAL(38,0)) * u.yc - m.s)
                    * (CAST(m.n AS DECIMAL(38,0)) * u.yc - m.s))
                AS DECIMAL(38,0)) AS az2
    FROM units u JOIN mom m ON m.arm = u.arm
    GROUP BY u.arm, m.n
),
f AS (
    SELECT arm, n, CAST(n AS DOUBLE) AS nd,
           CAST(CAST(az1 AS VARCHAR) AS DOUBLE) AS az1,
           CAST(CAST(az2 AS VARCHAR) AS DOUBLE) AS az2
    FROM zmom
),
g AS (
    -- zbar_i = az1/n^2 ; sum(Z^2)_i = az2/n^2 ; ss_within_i =
    -- (az2 - az1^2/n)/n^2   (all one shared double expression)
    SELECT arm, n, nd, az1 / (nd * nd) AS zbar,
           (az2 - az1 * az1 / nd) / (nd * nd) AS ssw,
           az1 / nd AS zsum
    FROM f
),
wide AS (
    SELECT CAST(sum(n) AS BIGINT) AS ntot,
           sum(zsum) AS zsum_all, sum(ssw) AS ssw_all,
           {", ".join(f"sum(CASE WHEN arm = {a} THEN n END) AS n{a}, "
                      f"sum(CASE WHEN arm = {a} THEN zbar END) AS zb{a}"
                      for a in range(_R17_ARMS))}
    FROM g
),
w2 AS (
    SELECT *, zsum_all / ntot AS zbar_all FROM wide
)
SELECT g.arm, g.n AS n_arm,
       {round_sql('g.zbar / 100.0')} AS mean_absdev,
       (SELECT CASE WHEN ssw_all <= 0.0 THEN NULL
                    ELSE {round_sql(f'''((CAST(ntot AS DOUBLE) - {_R17_ARMS}.0)
                    / ({_R17_ARMS}.0 - 1.0))
                    * (0.0 {" ".join(f"+ CAST(n{a} AS DOUBLE) * (zb{a} - zbar_all) * (zb{a} - zbar_all)"
                                     for a in range(_R17_ARMS))})
                    / ssw_all''')} END
        FROM w2) AS levene_w
FROM g
""")
def levene_mean_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-centered Levene W across the 4 md5 arms on order values
    (exact scaled-integer absolute deviations)."""
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(_r17_arm_col().alias("arm"),
                          _r17_yc_col().alias("yc"))
    mom = (units.groupBy("arm")
           .agg(F.count("*").cast("long").alias("n"),
                F.sum("yc").cast("long").alias("s"))
           .localCheckpoint(eager=False))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = dec(F.col("n")) * F.col("yc") - F.col("s")
    zmom = (units.join(F.broadcast(mom), "arm")
            .groupBy("arm", "n")
            .agg(dec(F.sum(F.abs(dev))).alias("az1"),
                 dec(F.sum(dev * dev)).alias("az2")))
    nd = F.col("n").cast("double")
    az1 = F.col("az1").cast("string").cast("double")
    az2 = F.col("az2").cast("string").cast("double")
    g = zmom.select(
        "arm", "n", nd.alias("nd"),
        (az1 / (nd * nd)).alias("zbar"),
        ((az2 - az1 * az1 / nd) / (nd * nd)).alias("ssw"),
        (az1 / nd).alias("zsum"))
    wide = g.agg(
        F.sum("n").cast("long").alias("ntot"),
        F.sum("zsum").alias("zsum_all"),
        F.sum("ssw").alias("ssw_all"),
        *[c for a in range(_R17_ARMS) for c in (
            F.sum(F.when(F.col("arm") == a, F.col("n"))).alias(f"n{a}"),
            F.sum(F.when(F.col("arm") == a, F.col("zbar")))
            .alias(f"zb{a}"))])
    zbar_all = F.col("zsum_all") / F.col("ntot")
    w2 = wide.withColumn("zbar_all", zbar_all)
    k = float(_R17_ARMS)
    num = F.lit(0.0)
    for a in range(_R17_ARMS):
        num = num + F.col(f"n{a}").cast("double") \
            * (F.col(f"zb{a}") - F.col("zbar_all")) \
            * (F.col(f"zb{a}") - F.col("zbar_all"))
    w = (F.when(F.col("ssw_all") <= 0.0, F.lit(None).cast("double"))
         .otherwise(F.round(
             ((F.col("ntot").cast("double") - k) / (k - 1.0))
             * num / F.col("ssw_all"), 6)))
    wrow = w2.select(w.alias("levene_w"))
    return (g.crossJoin(F.broadcast(wrow))
            .select("arm", F.col("n").alias("n_arm"),
                    F.round(F.col("zbar") / 100.0, 6)
                    .alias("mean_absdev"),
                    "levene_w"))


# --- Welch's heteroscedastic one-way ANOVA ---------------------------------
#
# Welch 1951 (public): w_i = n_i/s_i^2, F* and the Satterthwaite-
# style denominator df, all from the same exact arm moments as
# bartlett_arms (variance numerators stay exact decimals).
# ---------------------------------------------------------------------------

@register("welch_anova_arms", f"""
WITH units AS (
    SELECT {_R17_ARM} AS arm, {_YC} AS yc FROM orders
),
mom AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yc) AS BIGINT) AS s,
           CAST(sum(CAST(yc AS DECIMAL(38,0)) * yc)
                AS DECIMAL(38,0)) AS q
    FROM units GROUP BY arm
),
v AS (
    SELECT arm, n, CAST(n AS DOUBLE) AS nd,
           CAST(s AS DOUBLE) / n AS m,
           CASE WHEN n <= 1 THEN NULL
                ELSE CAST(CAST(CAST(n AS DECIMAL(38,0)) * q
                               - CAST(s AS DECIMAL(38,0)) * s
                               AS VARCHAR) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
           END AS s2
    FROM mom
),
wide AS (
    SELECT {", ".join(
        f"sum(CASE WHEN arm = {a} THEN nd END) AS n{a}, "
        f"sum(CASE WHEN arm = {a} THEN m END) AS m{a}, "
        f"sum(CASE WHEN arm = {a} THEN s2 END) AS v{a}"
        for a in range(_R17_ARMS))}
    FROM v
),
wts AS (
    SELECT *, {", ".join(f"n{a} / v{a} AS w{a}"
                         for a in range(_R17_ARMS))}
    FROM wide
    WHERE {" AND ".join(f"v{a} > 0.0" for a in range(_R17_ARMS))}
),
agg AS (
    SELECT *,
           (0.0 {" ".join(f"+ w{a}" for a in range(_R17_ARMS))}) AS ww,
           (0.0 {" ".join(f"+ w{a} * m{a}" for a in range(_R17_ARMS))})
             AS wm
    FROM wts
),
f AS (
    SELECT *, wm / ww AS mw,
           (0.0 {" ".join(
               f"+ (1.0 - w{a} / ww) * (1.0 - w{a} / ww) / (n{a} - 1.0)"
               for a in range(_R17_ARMS))}) AS hsum
    FROM agg
)
SELECT {", ".join(f"CAST(n{a} AS BIGINT) AS n_arm{a}" for a in range(_R17_ARMS))},
       {round_sql('mw / 100.0')} AS weighted_mean,
       {round_sql(f'''((0.0 {" ".join(f"+ w{a} * (m{a} - mw) * (m{a} - mw)"
                                      for a in range(_R17_ARMS))})
            / ({_R17_ARMS}.0 - 1.0))
           / (1.0 + (2.0 * ({_R17_ARMS}.0 - 2.0)
                     / ({_R17_ARMS}.0 * {_R17_ARMS}.0 - 1.0)) * hsum)''')}
         AS welch_f,
       {round_sql(f'''({_R17_ARMS}.0 * {_R17_ARMS}.0 - 1.0)
           / (3.0 * hsum)''')} AS df_denom
FROM f
""")
def welch_anova_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA F* across the 4 md5
    arms (exact decimal variance numerators)."""
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(_r17_arm_col().alias("arm"),
                          _r17_yc_col().alias("yc"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = units.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yc").cast("long").alias("s"),
        dec(F.sum(dec(F.col("yc")) * F.col("yc"))).alias("q"))
    nd = F.col("n").cast("double")
    s2 = (F.when(F.col("n") <= 1, F.lit(None).cast("double"))
          .otherwise((dec(F.col("n")) * F.col("q")
                      - dec(F.col("s")) * F.col("s"))
                     .cast("string").cast("double")
                     / (nd * (nd - 1.0))))
    v = mom.select("arm", "n", nd.alias("nd"),
                   (F.col("s").cast("double") / F.col("n")).alias("m"),
                   s2.alias("s2"))
    wide = v.agg(*[c for a in range(_R17_ARMS) for c in (
        F.sum(F.when(F.col("arm") == a, F.col("nd"))).alias(f"n{a}"),
        F.sum(F.when(F.col("arm") == a, F.col("m"))).alias(f"m{a}"),
        F.sum(F.when(F.col("arm") == a, F.col("s2"))).alias(f"v{a}"))])
    ok = F.lit(True)
    for a in range(_R17_ARMS):
        ok = ok & (F.col(f"v{a}") > 0.0)
    wts = wide.filter(ok)
    for a in range(_R17_ARMS):
        wts = wts.withColumn(f"w{a}",
                             F.col(f"n{a}") / F.col(f"v{a}"))
    ww = F.lit(0.0)
    wm = F.lit(0.0)
    for a in range(_R17_ARMS):
        ww = ww + F.col(f"w{a}")
        wm = wm + F.col(f"w{a}") * F.col(f"m{a}")
    agg = wts.withColumn("ww", ww).withColumn("wm", wm)
    mw = F.col("wm") / F.col("ww")
    hsum = F.lit(0.0)
    for a in range(_R17_ARMS):
        hsum = hsum + (1.0 - F.col(f"w{a}") / F.col("ww")) \
            * (1.0 - F.col(f"w{a}") / F.col("ww")) \
            / (F.col(f"n{a}") - 1.0)
    f = agg.withColumn("mw", mw).withColumn("hsum", hsum)
    k = float(_R17_ARMS)
    num = F.lit(0.0)
    for a in range(_R17_ARMS):
        num = num + F.col(f"w{a}") \
            * (F.col(f"m{a}") - F.col("mw")) \
            * (F.col(f"m{a}") - F.col("mw"))
    welch_f = ((num / (k - 1.0))
               / (1.0 + (2.0 * (k - 2.0) / (k * k - 1.0))
                  * F.col("hsum")))
    return f.select(
        *[F.col(f"n{a}").cast("long").alias(f"n_arm{a}")
          for a in range(_R17_ARMS)],
        F.round(F.col("mw") / 100.0, 6).alias("weighted_mean"),
        F.round(welch_f, 6).alias("welch_f"),
        F.round((k * k - 1.0) / (3.0 * F.col("hsum")), 6)
        .alias("df_denom"))


# --- Tukey-style pairwise q statistics -------------------------------------
#
# Post-hoc readout after the omnibus tests: for every arm pair,
# q_ij = |m_i - m_j| / sqrt((sp2/2) * (1/n_i + 1/n_j)) with the
# pooled variance from exact decimal numerators (Tukey 1949, public;
# the studentized-range critical value is the consumer's lookup —
# the engine reports the statistic).
# ---------------------------------------------------------------------------

@register("tukey_q_pairs", f"""
WITH units AS (
    SELECT {_R17_ARM} AS arm, {_YC} AS yc FROM orders
),
mom AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yc) AS BIGINT) AS s,
           CAST(sum(CAST(yc AS DECIMAL(38,0)) * yc)
                AS DECIMAL(38,0)) AS q
    FROM units GROUP BY arm
),
v AS (
    SELECT arm, n, CAST(n AS DOUBLE) AS nd,
           CAST(s AS DOUBLE) / n AS m,
           CAST(CAST(CAST(n AS DECIMAL(38,0)) * q
                     - CAST(s AS DECIMAL(38,0)) * s
                     AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
             AS ss
    FROM mom
),
pool AS (
    SELECT CAST(sum(n) AS BIGINT) AS ntot,
           sum(ss) AS ssw
    FROM v
),
sp AS (
    SELECT ntot,
           ssw / (CAST(ntot AS DOUBLE) - {_R17_ARMS}.0) AS sp2
    FROM pool
)
SELECT a.arm AS arm_a, b.arm AS arm_b, a.n AS n_a, b.n AS n_b,
       {round_sql('(a.m - b.m) / 100.0')} + 0.0 AS mean_diff,
       CASE WHEN s.sp2 <= 0.0 THEN NULL
            ELSE {round_sql('''abs(a.m - b.m)
                 / sqrt((s.sp2 / 2.0) * (1.0 / a.nd + 1.0 / b.nd))''')}
       END AS tukey_q
FROM v a JOIN v b ON a.arm < b.arm CROSS JOIN sp s
""")
def tukey_q_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Tukey q statistics between the 4 md5 arms (pooled
    variance from exact decimal numerators)."""
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(_r17_arm_col().alias("arm"),
                          _r17_yc_col().alias("yc"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = units.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yc").cast("long").alias("s"),
        dec(F.sum(dec(F.col("yc")) * F.col("yc"))).alias("q"))
    nd = F.col("n").cast("double")
    v = (mom.select(
        "arm", "n", nd.alias("nd"),
        (F.col("s").cast("double") / F.col("n")).alias("m"),
        ((dec(F.col("n")) * F.col("q") - dec(F.col("s")) * F.col("s"))
         .cast("string").cast("double") / nd).alias("ss"))
        .localCheckpoint(eager=False))
    pool = v.agg(F.sum("n").cast("long").alias("ntot"),
                 F.sum("ss").alias("ssw"))
    sp = pool.select(
        "ntot",
        (F.col("ssw") / (F.col("ntot").cast("double")
                         - float(_R17_ARMS))).alias("sp2"))
    a = v.select(F.col("arm").alias("arm_a"), F.col("n").alias("n_a"),
                 F.col("nd").alias("nd_a"), F.col("m").alias("m_a"))
    b = v.select(F.col("arm").alias("arm_b"), F.col("n").alias("n_b"),
                 F.col("nd").alias("nd_b"), F.col("m").alias("m_b"))
    q = (F.when(F.col("sp2") <= 0.0, F.lit(None).cast("double"))
         .otherwise(F.round(
             F.abs(F.col("m_a") - F.col("m_b"))
             / F.sqrt((F.col("sp2") / 2.0)
                      * (1.0 / F.col("nd_a") + 1.0 / F.col("nd_b"))),
             6)))
    return (a.join(b, F.col("arm_a") < F.col("arm_b"))
            .crossJoin(F.broadcast(sp))
            .select("arm_a", "arm_b", "n_a", "n_b",
                    (F.round((F.col("m_a") - F.col("m_b")) / 100.0, 6)
                     + 0.0).alias("mean_diff"),
                    q.alias("tukey_q")))


# --- Jarque-Bera normality test on the daily series ------------------------
#
# S = m3/m2^1.5, K = m4/m2^2, JB = n/6 (S^2 + (K-3)^2/4) (Jarque &
# Bera 1980, public) with central moments expanded from EXACT raw
# power sums (x^4 of daily counts fits DECIMAL(38,0) at any realistic
# grid) through one shared double spelling.
# ---------------------------------------------------------------------------

@register("jarque_bera_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cnt) AS BIGINT) AS s1,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt)
                AS DECIMAL(38,0)) AS s2,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt)
                AS DECIMAL(38,0)) AS s3,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt * cnt)
                AS DECIMAL(38,0)) AS s4
    FROM daily
),
f AS (
    SELECT n, CAST(n AS DOUBLE) AS nd,
           CAST(s1 AS DOUBLE) / n AS mu,
           CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2,
           CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS s3,
           CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS s4
    FROM mom
),
c AS (
    SELECT *,
           s2 / nd - mu * mu AS m2,
           s3 / nd - 3.0 * mu * (s2 / nd) + 2.0 * mu * mu * mu AS m3,
           s4 / nd - 4.0 * mu * (s3 / nd)
             + 6.0 * mu * mu * (s2 / nd)
             - 3.0 * mu * mu * mu * mu AS m4
    FROM f
),
g AS (
    SELECT *, CASE WHEN m2 <= 0.0 THEN NULL
                   ELSE m3 / (m2 * sqrt(m2)) END AS skw,
           CASE WHEN m2 <= 0.0 THEN NULL
                ELSE m4 / (m2 * m2) END AS krt
    FROM c
)
SELECT n AS n_days,
       {round_sql('skw')} + 0.0 AS skewness,
       {round_sql('krt')} AS kurtosis,
       CASE WHEN skw IS NULL THEN NULL
            ELSE {round_sql('''nd / 6.0 * (skw * skw
                 + (krt - 3.0) * (krt - 3.0) / 4.0)''')}
       END AS jarque_bera
FROM g
""")
def jarque_bera_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic of the daily counts from
    exact raw power sums."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cnt = F.col("cnt")
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("s1"),
        dec(F.sum(dec(cnt) * cnt)).alias("s2"),
        dec(F.sum(dec(cnt) * cnt * cnt)).alias("s3"),
        dec(F.sum(dec(cnt) * cnt * cnt * cnt)).alias("s4"))
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / F.col("n")
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    f = mom.select("n", nd.alias("nd"), mu.alias("mu"),
                   sd("s2").alias("s2"), sd("s3").alias("s3"),
                   sd("s4").alias("s4"))
    m2 = F.col("s2") / F.col("nd") - F.col("mu") * F.col("mu")
    m3 = (F.col("s3") / F.col("nd")
          - 3.0 * F.col("mu") * (F.col("s2") / F.col("nd"))
          + 2.0 * F.col("mu") * F.col("mu") * F.col("mu"))
    m4 = (F.col("s4") / F.col("nd")
          - 4.0 * F.col("mu") * (F.col("s3") / F.col("nd"))
          + 6.0 * F.col("mu") * F.col("mu") * (F.col("s2") / F.col("nd"))
          - 3.0 * F.col("mu") * F.col("mu") * F.col("mu") * F.col("mu"))
    c = (f.withColumn("m2", m2).withColumn("m3", m3)
         .withColumn("m4", m4))
    nulld = F.lit(None).cast("double")
    skw = (F.when(F.col("m2") <= 0.0, nulld)
           .otherwise(F.col("m3")
                      / (F.col("m2") * F.sqrt(F.col("m2")))))
    krt = (F.when(F.col("m2") <= 0.0, nulld)
           .otherwise(F.col("m4") / (F.col("m2") * F.col("m2"))))
    g = c.withColumn("skw", skw).withColumn("krt", krt)
    jb = (F.when(F.col("skw").isNull(), nulld)
          .otherwise(F.round(
              F.col("nd") / 6.0
              * (F.col("skw") * F.col("skw")
                 + (F.col("krt") - 3.0) * (F.col("krt") - 3.0)
                 / 4.0), 6)))
    return g.select(F.col("n").alias("n_days"),
                    (F.round("skw", 6) + 0.0).alias("skewness"),
                    F.round("krt", 6).alias("kurtosis"),
                    jb.alias("jarque_bera"))


# --- Welch's two-sample t over the md5 parity split ------------------------
#
# t = (m0 - m1)/sqrt(s0^2/n0 + s1^2/n1) with the Welch-Satterthwaite
# df (Welch 1947, public); variance numerators exact decimals.
# ---------------------------------------------------------------------------

@register("welch_t_parity", f"""
WITH units AS (
    SELECT {_R17_ARM2} AS grp, {_YC} AS yc FROM orders
),
mom AS (
    SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yc) AS BIGINT) AS s,
           CAST(sum(CAST(yc AS DECIMAL(38,0)) * yc)
                AS DECIMAL(38,0)) AS q
    FROM units GROUP BY grp
),
v AS (
    SELECT grp, n, CAST(n AS DOUBLE) AS nd,
           CAST(s AS DOUBLE) / n AS m,
           CASE WHEN n <= 1 THEN NULL
                ELSE CAST(CAST(CAST(n AS DECIMAL(38,0)) * q
                               - CAST(s AS DECIMAL(38,0)) * s
                               AS VARCHAR) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
           END AS s2
    FROM mom
),
wide AS (
    SELECT CAST(sum(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n1,
           sum(CASE WHEN grp = 0 THEN m END) AS m0,
           sum(CASE WHEN grp = 1 THEN m END) AS m1,
           sum(CASE WHEN grp = 0 THEN s2 END) AS v0,
           sum(CASE WHEN grp = 1 THEN s2 END) AS v1
    FROM v
),
f AS (
    SELECT *, v0 / n0 + v1 / n1 AS se2 FROM wide
)
SELECT n0 AS n_group0, n1 AS n_group1,
       {round_sql('(m0 - m1) / 100.0')} + 0.0 AS mean_diff,
       CASE WHEN v0 IS NULL OR v1 IS NULL OR se2 <= 0.0 THEN NULL
            ELSE {round_sql('(m0 - m1) / sqrt(se2)')} END + 0.0
         AS welch_t,
       CASE WHEN v0 IS NULL OR v1 IS NULL OR se2 <= 0.0 THEN NULL
            ELSE {round_sql('''se2 * se2
                 / ((v0 / n0) * (v0 / n0) / (CAST(n0 AS DOUBLE) - 1.0)
                    + (v1 / n1) * (v1 / n1)
                      / (CAST(n1 AS DOUBLE) - 1.0))''')}
       END AS ws_df
FROM f
""")
def welch_t_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t + Satterthwaite df between the md5 parity
    groups of order values."""
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(_r17_arm_col(2, "r17b:").alias("grp"),
                          _r17_yc_col().alias("yc"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mom = units.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yc").cast("long").alias("s"),
        dec(F.sum(dec(F.col("yc")) * F.col("yc"))).alias("q"))
    nd = F.col("n").cast("double")
    s2 = (F.when(F.col("n") <= 1, F.lit(None).cast("double"))
          .otherwise((dec(F.col("n")) * F.col("q")
                      - dec(F.col("s")) * F.col("s"))
                     .cast("string").cast("double")
                     / (nd * (nd - 1.0))))
    v = mom.select("grp", "n", nd.alias("nd"),
                   (F.col("s").cast("double") / F.col("n")).alias("m"),
                   s2.alias("s2"))
    wide = v.agg(
        F.sum(F.when(F.col("grp") == 0, F.col("n"))).cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, F.col("n"))).cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("m"))).alias("m0"),
        F.sum(F.when(F.col("grp") == 1, F.col("m"))).alias("m1"),
        F.sum(F.when(F.col("grp") == 0, F.col("s2"))).alias("v0"),
        F.sum(F.when(F.col("grp") == 1, F.col("s2"))).alias("v1"))
    se2 = F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    f = wide.withColumn("se2", se2)
    bad = (F.col("v0").isNull() | F.col("v1").isNull()
           | (F.col("se2") <= 0.0))
    nulld = F.lit(None).cast("double")
    t = (F.when(bad, nulld)
         .otherwise(F.round((F.col("m0") - F.col("m1"))
                            / F.sqrt(F.col("se2")), 6)) + 0.0)
    df = (F.when(bad, nulld)
          .otherwise(F.round(
              F.col("se2") * F.col("se2")
              / ((F.col("v0") / F.col("n0"))
                 * (F.col("v0") / F.col("n0"))
                 / (F.col("n0").cast("double") - 1.0)
                 + (F.col("v1") / F.col("n1"))
                 * (F.col("v1") / F.col("n1"))
                 / (F.col("n1").cast("double") - 1.0)), 6)))
    return f.select(
        F.col("n0").alias("n_group0"), F.col("n1").alias("n_group1"),
        (F.round((F.col("m0") - F.col("m1")) / 100.0, 6) + 0.0)
        .alias("mean_diff"),
        t.alias("welch_t"), df.alias("ws_df"))


# --- Chow structural-break test at the half-window -------------------------
#
# Pooled OLS y ~ a + b*t vs separate fits on days < 15 and >= 15:
# F = ((RSS_p - RSS_1 - RSS_2)/2) / ((RSS_1 + RSS_2)/(n - 4))
# (Chow 1960, public); all three fits from exact integer segment
# moments with one shared RSS spelling.
# ---------------------------------------------------------------------------

_CHOW_SPLIT = 15


@register("chow_test_daily", f"""
WITH daily AS ({_DAILY_SQL.format(where="")}),
seg AS (
    SELECT CASE WHEN t < {_CHOW_SPLIT} THEN 1 ELSE 2 END AS seg,
           t, cnt
    FROM daily
),
mom AS (
    SELECT seg, CAST(count(*) AS BIGINT) AS m,
           CAST(sum(t) AS BIGINT) AS st,
           CAST(sum(cnt) AS BIGINT) AS sy,
           CAST(sum(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)) AS stt,
           CAST(sum(CAST(t AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0)) AS sty,
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0)) AS syy
    FROM seg GROUP BY seg
    UNION ALL
    SELECT 0, CAST(count(*) AS BIGINT),
           CAST(sum(t) AS BIGINT), CAST(sum(cnt) AS BIGINT),
           CAST(sum(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)),
           CAST(sum(CAST(t AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0)),
           CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0))
    FROM daily
),
fit AS (
    SELECT seg, m, CAST(m AS DOUBLE) AS md,
           CAST(st AS DOUBLE) AS st, CAST(sy AS DOUBLE) AS sy,
           CAST(CAST(stt AS VARCHAR) AS DOUBLE) AS stt,
           CAST(CAST(sty AS VARCHAR) AS DOUBLE) AS sty,
           CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy
    FROM mom
),
rss AS (
    SELECT seg, m,
           CASE WHEN m <= 2 OR md * stt - st * st <= 0.0 THEN NULL
                ELSE syy
                 - ((sy - ((md * sty - st * sy)
                           / (md * stt - st * st)) * st) / md) * sy
                 - ((md * sty - st * sy) / (md * stt - st * st)) * sty
           END AS rss
    FROM fit
),
wide AS (
    SELECT CAST(sum(CASE WHEN seg = 0 THEN m END) AS BIGINT) AS n,
           CAST(sum(CASE WHEN seg = 1 THEN m END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN seg = 2 THEN m END) AS BIGINT) AS n2,
           sum(CASE WHEN seg = 0 THEN rss END) AS rp,
           sum(CASE WHEN seg = 1 THEN rss END) AS r1,
           sum(CASE WHEN seg = 2 THEN rss END) AS r2
    FROM rss
)
SELECT n AS n_days, n1 AS n_seg1, n2 AS n_seg2,
       {round_sql('rp')} AS rss_pooled,
       {round_sql('r1')} AS rss_seg1, {round_sql('r2')} AS rss_seg2,
       CASE WHEN rp IS NULL OR r1 IS NULL OR r2 IS NULL
              OR r1 + r2 <= 0.0 OR n <= 4 THEN NULL
            ELSE {round_sql('''((rp - r1 - r2) / 2.0)
                 / ((r1 + r2) / (CAST(n AS DOUBLE) - 4.0))''')}
       END AS chow_f
FROM wide
""")
def chow_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow break-point F at the half-window split of the daily
    trend (shared RSS spelling over exact segment moments)."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_counts(ev).localCheckpoint(eager=False)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def moments(df, seg_label):
        return df.agg(
            F.lit(seg_label).alias("seg"),
            F.count("*").cast("long").alias("m"),
            F.sum("t").cast("long").alias("st"),
            F.sum("cnt").cast("long").alias("sy"),
            dec(F.sum(dec(F.col("t")) * F.col("t"))).alias("stt"),
            dec(F.sum(dec(F.col("t")) * F.col("cnt"))).alias("sty"),
            dec(F.sum(dec(F.col("cnt")) * F.col("cnt"))).alias("syy"))

    mom = (moments(daily.filter(F.col("t") < _CHOW_SPLIT), 1)
           .unionAll(moments(daily.filter(F.col("t") >= _CHOW_SPLIT),
                             2))
           .unionAll(moments(daily, 0)))
    md = F.col("m").cast("double")
    st, sy = F.col("st").cast("double"), F.col("sy").cast("double")
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    fit = mom.select("seg", "m", md.alias("md"), st.alias("st"),
                     sy.alias("sy"), sd("stt").alias("stt"),
                     sd("sty").alias("sty"), sd("syy").alias("syy"))
    den = F.col("md") * F.col("stt") - F.col("st") * F.col("st")
    b = (F.col("md") * F.col("sty") - F.col("st") * F.col("sy")) / den
    rss_e = (F.col("syy")
             - ((F.col("sy") - b * F.col("st")) / F.col("md"))
             * F.col("sy")
             - b * F.col("sty"))
    rss = fit.select(
        "seg", "m",
        F.when((F.col("m") <= 2) | (den <= 0.0),
               F.lit(None).cast("double")).otherwise(rss_e)
        .alias("rss"))
    wide = rss.agg(
        F.sum(F.when(F.col("seg") == 0, F.col("m"))).cast("long")
        .alias("n"),
        F.sum(F.when(F.col("seg") == 1, F.col("m"))).cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("seg") == 2, F.col("m"))).cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("seg") == 0, F.col("rss"))).alias("rp"),
        F.sum(F.when(F.col("seg") == 1, F.col("rss"))).alias("r1"),
        F.sum(F.when(F.col("seg") == 2, F.col("rss"))).alias("r2"))
    bad = (F.col("rp").isNull() | F.col("r1").isNull()
           | F.col("r2").isNull()
           | (F.col("r1") + F.col("r2") <= 0.0) | (F.col("n") <= 4))
    cf = (F.when(bad, F.lit(None).cast("double"))
          .otherwise(F.round(
              ((F.col("rp") - F.col("r1") - F.col("r2")) / 2.0)
              / ((F.col("r1") + F.col("r2"))
                 / (F.col("n").cast("double") - 4.0)), 6)))
    return wide.select(
        F.col("n").alias("n_days"), F.col("n1").alias("n_seg1"),
        F.col("n2").alias("n_seg2"),
        F.round("rp", 6).alias("rss_pooled"),
        F.round("r1", 6).alias("rss_seg1"),
        F.round("r2", 6).alias("rss_seg2"),
        cf.alias("chow_f"))


# --- Page's trend test for ordered day-of-week alternatives ----------------
#
# L = sum_j c_j R_j over complete-ISO-week blocks with c_j the
# day-of-week order 1..7 (Sunday-first, Spark's dayofweek
# convention; the oracle's 0-based dayofweek is shifted by +1) and
# within-block MIDRANKS kept 2x-scaled integers (the friedman
# machinery). Null moments are the classical no-tie Page 1963 forms
# (ties on daily counts are rare; documented approximation).
# ---------------------------------------------------------------------------

_PG_K = 7


@register("page_trend_test", f"""
WITH daily AS (
    SELECT date_trunc('week', ts) AS wk, dayofweek(ts) + 1 AS dow,
           count(*) AS cnt
    FROM events GROUP BY wk, dow
),
complete AS (
    SELECT wk FROM daily GROUP BY wk HAVING count(*) = {_PG_K}
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
agg AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM complete) AS b,
           CAST(SUM(CAST(dow AS DECIMAL(38,0)) * r2)
                AS DECIMAL(38,0)) AS l2
    FROM ranked
)
SELECT b AS n_blocks, CAST({_PG_K} AS INT) AS k,
       {round_sql('CAST(CAST(l2 AS VARCHAR) AS DOUBLE) / 2.0')}
         AS page_l,
       {round_sql(f'''CAST(b AS DOUBLE) * {_PG_K}.0
            * ({_PG_K}.0 + 1.0) * ({_PG_K}.0 + 1.0) / 4.0''')}
         AS mean_l,
       CASE WHEN b = 0 THEN NULL
            ELSE {round_sql(f'''(CAST(CAST(l2 AS VARCHAR) AS DOUBLE) / 2.0
                 - CAST(b AS DOUBLE) * {_PG_K}.0 * ({_PG_K}.0 + 1.0)
                   * ({_PG_K}.0 + 1.0) / 4.0)
                 / sqrt(CAST(b AS DOUBLE)
                        * ({_PG_K}.0 * {_PG_K}.0 * {_PG_K}.0 - {_PG_K}.0)
                        * ({_PG_K}.0 * {_PG_K}.0 * {_PG_K}.0 - {_PG_K}.0)
                        / (144.0 * ({_PG_K}.0 - 1.0)))''')}
       END + 0.0 AS page_z
FROM agg
""")
def page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L for an ordered day-of-week trend over complete ISO
    weeks (2x-midrank exact sums, no-tie null moments)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("week", "ts").alias("wk"),
                        F.dayofweek("ts").alias("dow"))
             .agg(F.count("*").alias("cnt")))
    complete = (daily.groupBy("wk").agg(F.count("*").alias("nd"))
                .filter(F.col("nd") == _PG_K).select("wk"))
    obs = daily.join(F.broadcast(complete), "wk")
    b = obs.select(F.col("wk").alias("wkb"), F.col("cnt").alias("cb"))
    ranked = (obs.join(F.broadcast(b), F.col("wkb") == F.col("wk"))
              .groupBy("wk", "dow", "cnt")
              .agg((2 * F.sum(F.when(F.col("cb") < F.col("cnt"), 1)
                              .otherwise(0))
                    + F.sum(F.when(F.col("cb") == F.col("cnt"), 1)
                            .otherwise(0)) + 1).alias("r2")))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n_df = complete.agg(F.count("*").cast("long").alias("b"))
    l2 = ranked.agg(
        dec(F.sum(dec(F.col("dow")) * F.col("r2"))).alias("l2"))
    k = float(_PG_K)
    agg = n_df.crossJoin(F.broadcast(l2))
    l2d = F.col("l2").cast("string").cast("double")
    bd = F.col("b").cast("double")
    mean_l = bd * k * (k + 1.0) * (k + 1.0) / 4.0
    var_l = bd * (k * k * k - k) * (k * k * k - k) / (144.0 * (k - 1.0))
    z = (F.when(F.col("b") == 0, F.lit(None).cast("double"))
         .otherwise(F.round((l2d / 2.0 - mean_l) / F.sqrt(var_l), 6))
         + 0.0)
    return agg.select(F.col("b").alias("n_blocks"),
                      F.lit(_PG_K).cast("int").alias("k"),
                      F.round(l2d / 2.0, 6).alias("page_l"),
                      F.round(mean_l, 6).alias("mean_l"),
                      z.alias("page_z"))


# --- theta-sketch set operations (union / intersection / differences) ------
#
# KMV/theta sketches (Beyer et al. 2007 / DataSketches theta, public)
# over the md5-hashed view-user and purchase-user sets: k smallest
# hashes per set; the UNION sketch is the k smallest of the merged
# distinct hashes, and every derived estimate (intersection, A\\B,
# B\\A) is a membership RATIO inside the union window times the
# union estimate — the mergeable-summary contract again (per-set
# state is k hashes; merge is associative). Audited against exact
# distinct counts of the same sets.
# ---------------------------------------------------------------------------

_TS_K = 256
_TS_M = 1 << 60


@register("theta_sketch_setops", f"""
WITH dist AS (
    SELECT DISTINCT event_type, user_id FROM events
    WHERE event_type IN ('view', 'purchase')
),
hashed AS (
    SELECT event_type, user_id,
           {md5_long_sql("'theta:' || CAST(user_id AS VARCHAR)")} AS h
    FROM dist
),
sk AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM hashed
),
sketch AS (SELECT event_type, h FROM sk WHERE rk <= {_TS_K}),
pu AS (
    SELECT h,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS in_b
    FROM sketch GROUP BY h
),
ur AS (
    SELECT h, in_a, in_b,
           row_number() OVER (ORDER BY h) AS urk,
           COUNT(*) OVER () AS n_u
    FROM pu
),
uni AS (
    SELECT MIN(n_u) AS n_u, LEAST({_TS_K}, MIN(n_u)) AS kp,
           MAX(CASE WHEN urk <= LEAST({_TS_K}, n_u) THEN h END)
             AS theta_u,
           SUM(CASE WHEN urk <= LEAST({_TS_K}, n_u)
                     AND in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
             AS n_ab,
           SUM(CASE WHEN urk <= LEAST({_TS_K}, n_u)
                     AND in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
             AS n_ao,
           SUM(CASE WHEN urk <= LEAST({_TS_K}, n_u)
                     AND in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
             AS n_bo
    FROM ur WHERE urk <= {_TS_K}
),
est AS (
    SELECT *,
           CASE WHEN n_u < {_TS_K} THEN CAST(n_u AS DOUBLE)
                ELSE ({_TS_K} - 1.0) * {_TS_M}.0
                     / CAST(theta_u AS DOUBLE) END AS est_union
    FROM uni
),
exact AS (
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS ex_union,
           CAST(count(DISTINCT CASE WHEN in_a = 1 AND in_b = 1
                                    THEN user_id END) AS BIGINT)
             AS ex_inter,
           CAST(count(DISTINCT CASE WHEN in_a = 1 AND in_b = 0
                                    THEN user_id END) AS BIGINT)
             AS ex_ao,
           CAST(count(DISTINCT CASE WHEN in_a = 0 AND in_b = 1
                                    THEN user_id END) AS BIGINT)
             AS ex_bo
    FROM (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS in_a,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS in_b
        FROM dist GROUP BY user_id
    )
)
SELECT {round_sql('e.est_union')} AS est_union,
       {round_sql('(CAST(e.n_ab AS DOUBLE) / e.kp) * e.est_union')}
         AS est_inter,
       {round_sql('(CAST(e.n_ao AS DOUBLE) / e.kp) * e.est_union')}
         AS est_a_only,
       {round_sql('(CAST(e.n_bo AS DOUBLE) / e.kp) * e.est_union')}
         AS est_b_only,
       x.ex_union AS exact_union, x.ex_inter AS exact_inter,
       x.ex_ao AS exact_a_only, x.ex_bo AS exact_b_only
FROM est e CROSS JOIN exact x
""")
def theta_sketch_setops(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Theta/KMV set operations between the view-user and
    purchase-user sets: union/intersection/difference estimates from
    the merged k-minimum sketch, with exact audits."""
    ev = load_table(spark, sf_dir, "events")
    dist = (ev.filter(F.col("event_type").isin("view", "purchase"))
            .select("event_type", "user_id").distinct()
            .localCheckpoint(eager=False))
    k, m = _TS_K, _TS_M
    hashed = dist.select(
        "event_type", "user_id",
        md5_long(F.concat(F.lit("theta:"),
                          F.col("user_id").cast("string"))).alias("h"))
    wk = Window.partitionBy("event_type").orderBy("h")
    sketch = (hashed.withColumn("rk", F.row_number().over(wk))
              .filter(F.col("rk") <= k).select("event_type", "h"))
    pu = (sketch.groupBy("h")
          .agg(F.max(F.when(F.col("event_type") == "view", 1)
                     .otherwise(0)).alias("in_a"),
               F.max(F.when(F.col("event_type") == "purchase", 1)
                     .otherwise(0)).alias("in_b")))
    wu = Window.orderBy("h")
    ur = (pu.withColumn("urk", F.row_number().over(wu))
          .withColumn("n_u", F.count("*").over(
              Window.partitionBy()))
          .filter(F.col("urk") <= k))
    in_win = F.col("urk") <= F.least(F.lit(k), F.col("n_u"))
    uni = ur.agg(
        F.min("n_u").alias("n_u"),
        F.least(F.lit(k), F.min("n_u")).alias("kp"),
        F.max(F.when(in_win, F.col("h"))).alias("theta_u"),
        F.sum(F.when(in_win & (F.col("in_a") == 1)
                     & (F.col("in_b") == 1), 1).otherwise(0))
        .alias("n_ab"),
        F.sum(F.when(in_win & (F.col("in_a") == 1)
                     & (F.col("in_b") == 0), 1).otherwise(0))
        .alias("n_ao"),
        F.sum(F.when(in_win & (F.col("in_a") == 0)
                     & (F.col("in_b") == 1), 1).otherwise(0))
        .alias("n_bo"))
    est_union = (F.when(F.col("n_u") < k, F.col("n_u").cast("double"))
                 .otherwise(F.lit(float(k - 1)) * F.lit(float(m))
                            / F.col("theta_u").cast("double")))
    est = uni.withColumn("est_union", est_union)
    flags = (dist.groupBy("user_id")
             .agg(F.max(F.when(F.col("event_type") == "view", 1)
                        .otherwise(0)).alias("in_a"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("in_b")))
    exact = flags.agg(
        F.countDistinct("user_id").cast("long").alias("ex_union"),
        F.countDistinct(F.when((F.col("in_a") == 1)
                               & (F.col("in_b") == 1),
                               F.col("user_id"))).cast("long")
        .alias("ex_inter"),
        F.countDistinct(F.when((F.col("in_a") == 1)
                               & (F.col("in_b") == 0),
                               F.col("user_id"))).cast("long")
        .alias("ex_ao"),
        F.countDistinct(F.when((F.col("in_a") == 0)
                               & (F.col("in_b") == 1),
                               F.col("user_id"))).cast("long")
        .alias("ex_bo"))
    ratio = lambda c: (F.col(c).cast("double") / F.col("kp")  # noqa: E731
                       * F.col("est_union"))
    return (est.crossJoin(F.broadcast(exact))
            .select(F.round("est_union", 6).alias("est_union"),
                    F.round(ratio("n_ab"), 6).alias("est_inter"),
                    F.round(ratio("n_ao"), 6).alias("est_a_only"),
                    F.round(ratio("n_bo"), 6).alias("est_b_only"),
                    F.col("ex_union").alias("exact_union"),
                    F.col("ex_inter").alias("exact_inter"),
                    F.col("ex_ao").alias("exact_a_only"),
                    F.col("ex_bo").alias("exact_b_only")))
