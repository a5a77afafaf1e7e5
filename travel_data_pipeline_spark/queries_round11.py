"""Round-11 candidate queries (written in round 8) — the VERDICT r07
asks plus the next layer of the LLM-training-data / experimentation
surface:

- aipw_doubly_robust: augmented-IPW (doubly-robust) ATE next to
  ipw_ate_stratified — outcome-model means plus propensity-weighted
  residual corrections, per stratum, folded to the AIPW estimate.
  The identity "AIPW == stratified ATE under a saturated outcome
  model" is pytest-pinned (tests/test_round11.py) via the shared
  builder's ``saturated`` switch.
- gap_sequence_patterns: PrefixSpan-lite — top-k length-3 event-type
  subsequences with bounded gaps inside 30-min sessions.
  session_top_paths only sees contiguous prefixes; real journey
  mining allows skips ("view .. click .. purchase with noise events
  between").
- holt_winters_daily: additive Holt-Winters (level + trend + weekly
  season) over each event type's zero-filled daily count grid, in
  EXACT 6-dp decimal recurrence (the markov/IPF keyed-iteration
  discipline: every state is rounded to 6 dp each step, so both
  engines walk identical numbers; no float accumulation).
- holt_winters_backtest: rolling-origin one-step WAPE of the
  Holt-Winters forecast vs naive persistence, composed FROM the
  published states (the holt_backtest_mape harness pattern; WAPE not
  MAPE because the zero-filled grid has zero-count days).

Float discipline (registry.py docstring is authoritative): exact
integer/decimal moments; smoothing constants are SQL decimal literals
in both engines; double ratios share one expression tree; bounded
float folds run over SORTED lists; rounded outputs use
parity.round_sql in the oracle and `+ 0.0` wherever a rounded value
can be a rounded negative zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.functions.hashing import md5_long_sql
from travel_data_pipeline_spark.functions.parity import (
    ordered_fold, ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# AIPW doubly-robust ATE — the augmented sibling of ipw_ate_stratified.
#
#   tau_AIPW = (1/N) * sum_i [ m1(i) - m0(i)
#                              + T_i (Y_i - m1(i)) / e(i)
#                              - (1-T_i)(Y_i - m0(i)) / (1 - e(i)) ]
#
# With the stratum-constant propensity e_s = n_t/n, every term
# decomposes into per-stratum exact moments (n, n_t, sy_t, sy_c):
#   sum_{i in s} T_i (Y_i - m1) / e_s   = (sy_t - n_t * m1) / e_s
#   sum_{i in s} (1-T_i)(Y_i - m0)/(1-e_s) = (sy_c - n_c * m0)/(1-e_s)
#   sum_{i in s} (m1 - m0)              = n_s * (m1 - m0)
# so the whole estimator is a <= |strata| fold of per-row double
# trees over exact aggregates — no per-unit float work at all.
#
# The registered query uses a deliberately COARSE outcome model (the
# global per-arm means), so the augmentation terms do real work:
# strata whose outcomes sit above/below the global mean get non-zero
# corrections, and the 'ALL' fold is the doubly-robust estimate. A
# SATURATED per-stratum model collapses the corrections to ~0 and
# AIPW == the stratified ATE — that identity is the pytest.
#
# Double-robustness here is consistency under EITHER a correct
# outcome model OR a correct propensity (the md5 split makes the
# propensity exactly right, so AIPW stays centered at the stratified
# ATE even under the wrong outcome model — observable in the output:
# the per-stratum corrections cancel the coarse model's bias).
#
# One-armed strata (repo degenerate-denominator rule): NULL
# aug/term, EXCLUDED from the 'ALL' fold in BOTH engines — same
# policy as ipw_ate_stratified.
#
# Scale shape: identical to IPW — one orders->customer join, one
# grouped moment pass; everything after is bounded by |strata|.
# ---------------------------------------------------------------------------


def _aipw_frame(spark: SparkSession, sf_dir: str,
                saturated: bool = False) -> DataFrame:
    """Shared AIPW builder; ``saturated=True`` swaps the global
    outcome-model means for per-stratum means (the identity-test
    configuration: corrections vanish, AIPW == stratified ATE)."""
    from travel_data_pipeline_spark.queries_round10 import (
        ipw_strata,
        ipw_units,
    )

    strata = ipw_strata(ipw_units(spark, sf_dir))
    glob = strata.agg(
        F.sum("n").alias("big_n"), F.sum("n_t").alias("g_n_t"),
        (F.sum("n") - F.sum("n_t")).alias("g_n_c"),
        F.sum("sy_t").alias("g_sy_t"), F.sum("sy_c").alias("g_sy_c"))
    model = glob.select(
        "big_n", "g_n_t",
        F.when(F.col("g_n_t") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("g_sy_t").cast("double")
                   / F.col("g_n_t").cast("double")).alias("g_mu_t"),
        F.when(F.col("g_n_c") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("g_sy_c").cast("double")
                   / F.col("g_n_c").cast("double")).alias("g_mu_c"))

    s = strata.crossJoin(F.broadcast(model))
    one_armed = (F.col("n_t") == 0) | (F.col("n_t") == F.col("n"))
    if saturated:
        mu_t = (F.when(F.col("n_t") == 0, F.lit(None).cast("double"))
                .otherwise(F.col("sy_t").cast("double")
                           / F.col("n_t").cast("double")))
        mu_c = (F.when(F.col("n") == F.col("n_t"),
                       F.lit(None).cast("double"))
                .otherwise(F.col("sy_c").cast("double")
                           / (F.col("n") - F.col("n_t")).cast("double")))
    else:
        mu_t, mu_c = F.col("g_mu_t"), F.col("g_mu_c")
    e_raw = F.col("n_t").cast("double") / F.col("n").cast("double")
    big_n_d = F.col("big_n").cast("double")
    aug_t = (F.when(one_armed, F.lit(None).cast("double"))
             .otherwise((F.col("sy_t").cast("double")
                         - F.col("n_t").cast("double") * mu_t)
                        / e_raw / big_n_d))
    aug_c = (F.when(one_armed, F.lit(None).cast("double"))
             .otherwise((F.col("sy_c").cast("double")
                         - (F.col("n") - F.col("n_t")).cast("double")
                         * mu_c)
                        / (F.lit(1.0) - e_raw) / big_n_d))
    base_t = F.col("n").cast("double") * (mu_t - mu_c) / big_n_d
    terms = s.select(
        "segment", "n", "n_t",
        e_raw.alias("e_raw"), mu_t.alias("mu_t"), mu_c.alias("mu_c"),
        aug_t.alias("aug_t"), aug_c.alias("aug_c"),
        base_t.alias("base_t"))

    rnd0 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    nullable_rnd0 = lambda c: F.when(  # noqa: E731
        c.isNull(), F.lit(None).cast("double")).otherwise(rnd0(c))
    per_rows = terms.select(
        "segment", F.col("n").cast("long").alias("n"),
        F.col("n_t").cast("long").alias("n_treat"),
        F.round("e_raw", 6).alias("e_hat"),
        F.round("mu_t", 6).alias("mu_treat"),
        F.round("mu_c", 6).alias("mu_ctrl"),
        nullable_rnd0(F.col("aug_t")).alias("aug_treat"),
        nullable_rnd0(F.col("aug_c")).alias("aug_ctrl"),
        nullable_rnd0(F.col("base_t") + F.col("aug_t")
                      - F.col("aug_c")).alias("aipw_term"))
    # 'ALL' fold: sorted per-segment structs, one-armed strata out
    # (collect_list drops NULL entries; when() makes them NULL)
    keep = F.col("aug_t").isNotNull()
    all_row = (terms.agg(
        F.sum("n").alias("n"), F.sum("n_t").alias("n_treat"),
        F.array_sort(F.collect_list(F.when(keep, F.struct(
            "segment", "aug_t", "aug_c",
            (F.col("base_t") + F.col("aug_t") - F.col("aug_c"))
            .alias("term"))))).alias("ts"))
        .select(
            F.lit("ALL").alias("segment"),
            F.col("n").cast("long").alias("n"),
            F.col("n_treat").cast("long").alias("n_treat"),
            F.round(F.col("n_treat").cast("double")
                    / F.col("n").cast("double"), 6).alias("e_hat"),
            F.lit(None).cast("double").alias("mu_treat"),
            F.lit(None).cast("double").alias("mu_ctrl"),
            # an ALL-one-armed corpus leaves the kept-struct list
            # EMPTY; DuckDB's list(...) FILTER then yields NULL while
            # F.aggregate would return the 0.0 init — branch to NULL
            # explicitly (repo degenerate-fold rule; review r08)
            *[F.when(F.size("ts") == 0, F.lit(None).cast("double"))
              .otherwise(rnd0(ordered_fold("ts", f)))
              .alias(out)
              for f, out in (("aug_t", "aug_treat"),
                             ("aug_c", "aug_ctrl"),
                             ("term", "aipw_term"))]))
    return per_rows.unionByName(all_row)


def _aipw_oracle() -> str:
    from travel_data_pipeline_spark.queries_round10 import (
        IPW_UNITS_STRATA_SQL,
    )

    fold = lambda expr: (  # noqa: E731
        f"list_reduce(list({expr} ORDER BY segment) "
        f"FILTER (aug_t IS NOT NULL), (x, y) -> x + y)")
    return f"""
WITH {IPW_UNITS_STRATA_SQL},
gmom AS (
    SELECT SUM(n) AS big_n, SUM(n_t) AS g_n_t,
           SUM(n) - SUM(n_t) AS g_n_c,
           SUM(sy_t) AS g_sy_t, SUM(sy_c) AS g_sy_c
    FROM strata
),
model AS (
    SELECT big_n, g_n_t,
           CASE WHEN g_n_t = 0 THEN NULL
                ELSE CAST(g_sy_t AS DOUBLE) / CAST(g_n_t AS DOUBLE)
           END AS mu_t,
           CASE WHEN g_n_c = 0 THEN NULL
                ELSE CAST(g_sy_c AS DOUBLE) / CAST(g_n_c AS DOUBLE)
           END AS mu_c
    FROM gmom
),
terms AS (
    SELECT s.segment, s.n, s.n_t, m.mu_t, m.mu_c,
           CAST(s.n_t AS DOUBLE) / CAST(s.n AS DOUBLE) AS e_raw,
           CASE WHEN s.n_t = 0 OR s.n_t = s.n THEN NULL
                ELSE (CAST(s.sy_t AS DOUBLE)
                      - CAST(s.n_t AS DOUBLE) * m.mu_t)
                     / (CAST(s.n_t AS DOUBLE) / CAST(s.n AS DOUBLE))
                     / CAST(m.big_n AS DOUBLE) END AS aug_t,
           CASE WHEN s.n_t = 0 OR s.n_t = s.n THEN NULL
                ELSE (CAST(s.sy_c AS DOUBLE)
                      - CAST(s.n - s.n_t AS DOUBLE) * m.mu_c)
                     / (1.0 - CAST(s.n_t AS DOUBLE)
                              / CAST(s.n AS DOUBLE))
                     / CAST(m.big_n AS DOUBLE) END AS aug_c,
           CAST(s.n AS DOUBLE) * (m.mu_t - m.mu_c)
               / CAST(m.big_n AS DOUBLE) AS base_t
    FROM strata s CROSS JOIN model m
)
SELECT segment, CAST(n AS BIGINT) AS n, CAST(n_t AS BIGINT) AS n_treat,
       {round_sql('e_raw')} AS e_hat,
       CASE WHEN mu_t IS NULL THEN NULL
            ELSE {round_sql('mu_t')} END AS mu_treat,
       CASE WHEN mu_c IS NULL THEN NULL
            ELSE {round_sql('mu_c')} END AS mu_ctrl,
       CASE WHEN aug_t IS NULL THEN NULL
            ELSE {round_sql('aug_t')} + 0.0 END AS aug_treat,
       CASE WHEN aug_c IS NULL THEN NULL
            ELSE {round_sql('aug_c')} + 0.0 END AS aug_ctrl,
       CASE WHEN aug_t IS NULL THEN NULL
            ELSE {round_sql('base_t + aug_t - aug_c')} + 0.0
       END AS aipw_term
FROM terms
UNION ALL
SELECT 'ALL', CAST(SUM(n) AS BIGINT), CAST(SUM(n_t) AS BIGINT),
       {round_sql('CAST(SUM(n_t) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)')},
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       {round_sql(fold('aug_t'))} + 0.0,
       {round_sql(fold('aug_c'))} + 0.0,
       {round_sql(fold('base_t + aug_t - aug_c'))} + 0.0
FROM terms
"""


@register("aipw_doubly_robust", _aipw_oracle)
def aipw_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) ATE of the md5 experiment split under a
    deliberately coarse (global per-arm means) outcome model.

    Per-stratum rows carry the model means, the propensity-weighted
    residual corrections, and the stratum's contribution to the
    estimate; the 'ALL' row's ``aipw_term`` is the AIPW ATE (pinned
    equal to the stratified ATE under a saturated model —
    tests/test_round11.py)."""
    return _aipw_frame(spark, sf_dir, saturated=False)


# ---------------------------------------------------------------------------
# Gap-allowing sequential patterns (PrefixSpan-lite).
#
# Top-k length-3 event-type subsequences (p1 < p2 < p3) inside a
# 30-min session where consecutive picks skip at most _GSP_GAP
# events. session_top_paths' contiguous first-3 signature misses any
# journey with noise events between the steps; gapped subsequences
# are what sequential-pattern miners actually count. Support counts
# each session at most once (standard sequence-support semantics),
# via a per-session array_distinct before the explode.
#
# Scale shape: sessionization is the engine's standard per-user
# lag+cumsum window; the candidate expansion is a PER-ROW expression
# (<= maxlen * (gap+1)^2 strings per session, all JVM codegen — no
# positional self-join, the bpe zip-with-tail precedent); the support
# count groups a bounded pattern space (|event types|^3), and the
# final top-k is a TakeOrderedAndProject over that bounded relation.
# Sessions are scanned only to _GSP_MAXLEN events — the cap is the
# same in both engines and documented here: pathological never-idle
# sessions cannot blow up the expansion.
# ---------------------------------------------------------------------------

_GSP_GAP = 2        # max events skipped between consecutive picks
_GSP_MAXLEN = 40    # session scan cap (events)
_GSP_TOPK = 10


@register("gap_sequence_patterns", f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
    FROM flagged
),
seqs AS (
    SELECT user_id, session_seq,
           (list(event_type ORDER BY ts, event_id))[1:{_GSP_MAXLEN}] AS a
    FROM numbered GROUP BY user_id, session_seq
),
pats AS (
    SELECT list_distinct(list_filter(flatten(flatten(
               list_transform(generate_series(1, len(a)), i ->
                 list_transform(generate_series(1, {_GSP_GAP + 1}), d1 ->
                   list_transform(generate_series(1, {_GSP_GAP + 1}), d2 ->
                     CASE WHEN i + d1 + d2 <= len(a)
                          THEN a[i] || '>' || a[i + d1] || '>'
                               || a[i + d1 + d2]
                     END))))), x -> x IS NOT NULL)) AS ps
    FROM seqs
),
counted AS (
    SELECT u.pattern, CAST(count(*) AS BIGINT) AS n_sessions
    FROM pats, UNNEST(ps) AS u(pattern)
    GROUP BY u.pattern
)
SELECT pattern, n_sessions FROM counted
ORDER BY n_sessions DESC, pattern LIMIT {_GSP_TOPK}
""")
def gap_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 gapped length-3 event-type subsequences per session
    (gap <= 2 between consecutive picks, sessions capped at 40
    events); support = sessions containing the pattern at least once."""
    ev = load_table(spark, sf_dir, "events")
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.unix_micros("ts")
               - F.unix_micros(F.lag("ts").over(wlag)) > 1_800_000_000,
               1).otherwise(0).alias("new_session"))
    wcum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0))
    numbered = flagged.withColumn(
        "session_seq", F.sum("new_session").over(wcum).cast("long"))
    seqs = (numbered.groupBy("user_id", "session_seq")
            .agg(F.slice(F.transform(
                F.array_sort(F.collect_list(F.struct(
                    "ts", "event_id", "event_type"))),
                lambda s: s["event_type"]), 1, _GSP_MAXLEN).alias("a")))
    offs = F.sequence(F.lit(1), F.lit(_GSP_GAP + 1))
    a = F.col("a")
    tri = F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(a)), lambda i:
        F.flatten(F.transform(offs, lambda d1:
                  F.transform(offs, lambda d2:
                              F.when(i + d1 + d2 <= F.size(a),
                                     # F.concat propagates NULL like
                                     # the oracle's || — concat_ws
                                     # would silently SKIP a NULL
                                     # event_type (review r08)
                                     F.concat(
                                         F.element_at(a, i),
                                         F.lit(">"),
                                         F.element_at(a, i + d1),
                                         F.lit(">"),
                                         F.element_at(a, i + d1 + d2))))))))
    pats = seqs.select(
        F.array_distinct(F.filter(tri, lambda x: x.isNotNull()))
        .alias("ps"))
    counted = (pats.select(F.explode("ps").alias("pattern"))
               .groupBy("pattern")
               .agg(F.count("*").cast("long").alias("n_sessions")))
    return (counted.orderBy(F.col("n_sessions").desc(), "pattern")
            .limit(_GSP_TOPK))


# ---------------------------------------------------------------------------
# Additive Holt-Winters (level + trend + weekly season) per event
# type, over the ZERO-FILLED global day grid (the fano_burstiness
# grid spelling — seasonality indexes by calendar position, so the
# day grid must be gap-free).
#
#   l_t = A*(x_t - s_{t-7}) + (1-A)*(l_{t-1} + b_{t-1})
#   b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
#   s_t = G*(x_t - l_t)     + (1-G)*s_{t-7}
#   fc_t = l_{t-1} + b_{t-1} + s_{t-7}      (one-step-ahead forecast)
#
# init (rows 1..7): l = round(mean of first 7 counts, 6), b = 0,
# s_i = x_i - l (exact decimal), fc = NULL.
#
# Exact-decimal recurrence discipline (markov_stationary /
# ipf_raking precedent): every state is DECIMAL(18,6), re-rounded
# each step, so Spark's array fold and DuckDB's recursive CTE walk
# IDENTICAL numbers — no float accumulation, no last-ulp exposure.
# The only division (the init mean / 7) goes through a shared double
# tree + the Spark-parity rounding spelling.
#
# Scale shape: one corpus-sized grouped count; the grid is |types| x
# |days| (bounded); per-group state is that type's day list. The
# recurrence is inherently sequential per type — the fold runs once
# per group over a bounded array, exactly like holt_linear_daily.
# ---------------------------------------------------------------------------

_HW_M = 7
_HW_CONST = {"A": "0.25", "A1": "0.75", "B": "0.05", "B1": "0.95",
             "G": "0.2", "G1": "0.8"}


def _hw_oracle() -> str:
    c = {k: f"CAST({v} AS DECIMAL(9,6))" for k, v in _HW_CONST.items()}
    cd = "CAST(g.c AS DECIMAL(18,6))"
    lt = (f"CAST(round({c['A']} * ({cd} - w.seas[1]) "
          f"+ {c['A1']} * (w.lvl + w.trd), 6) AS DECIMAL(18,6))")
    st = (f"CAST(round({c['G']} * ({cd} - {lt}) "
          f"+ {c['G1']} * w.seas[1], 6) AS DECIMAL(18,6))")
    bt = (f"CAST(round({c['B']} * ({lt} - w.lvl) "
          f"+ {c['B1']} * w.trd, 6) AS DECIMAL(18,6))")
    m = _HW_M
    return f"""
WITH RECURSIVE days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
    FROM events GROUP BY event_type, day
),
grid AS (
    SELECT t.event_type, d.day, COALESCE(c.c, 0) AS c,
           row_number() OVER (PARTITION BY t.event_type
                              ORDER BY d.day) AS rn
    FROM types t CROSS JOIN days d
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = d.day
),
eligible AS (
    SELECT event_type FROM grid GROUP BY event_type HAVING count(*) > {m}
),
init AS (
    SELECT g.event_type,
           CAST({round_sql(f'CAST(SUM(g.c) AS DOUBLE) / {float(m)}')}
                AS DECIMAL(18,6)) AS l0
    FROM grid g JOIN eligible e USING (event_type)
    WHERE g.rn <= {m} GROUP BY g.event_type
),
seed AS (
    SELECT g.event_type, CAST({m} AS BIGINT) AS rn, i.l0 AS lvl,
           CAST(0 AS DECIMAL(18,6)) AS trd,
           list(CAST(CAST(g.c AS DECIMAL(18,6)) - i.l0
                     AS DECIMAL(18,6)) ORDER BY g.rn) AS seas,
           CAST(NULL AS DECIMAL(18,6)) AS s_t,
           CAST(NULL AS DECIMAL(18,6)) AS fc,
           CAST(NULL AS BIGINT) AS cnt, CAST(NULL AS DATE) AS day
    FROM grid g JOIN init i USING (event_type)
    WHERE g.rn <= {m}
    GROUP BY g.event_type, i.l0
),
walk AS (
    SELECT * FROM seed
    UNION ALL
    SELECT g.event_type, g.rn, {lt} AS lvl, {bt} AS trd,
           w.seas[2:] || [{st}] AS seas, {st} AS s_t,
           CAST(w.lvl + w.trd + w.seas[1] AS DECIMAL(18,6)) AS fc,
           g.c AS cnt, g.day AS day
    FROM grid g JOIN walk w
      ON g.event_type = w.event_type AND g.rn = w.rn + 1
),
initrows AS (
    SELECT g.event_type, strftime(g.day, '%Y-%m-%d') AS day,
           CAST(g.c AS BIGINT) AS cnt,
           CAST(i.l0 AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend,
           CAST(CAST(g.c AS DECIMAL(18,6)) - i.l0 AS DOUBLE) AS season,
           CAST(NULL AS DOUBLE) AS forecast
    FROM grid g JOIN init i USING (event_type)
    WHERE g.rn <= {m}
)
SELECT * FROM initrows
UNION ALL
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       CAST(lvl AS DOUBLE) AS level, CAST(trd AS DOUBLE) AS trend,
       CAST(s_t AS DOUBLE) AS season, CAST(fc AS DOUBLE) AS forecast
FROM walk WHERE rn > {m}
"""


def _hw_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Holt-Winters state frame (shared by the registered query
    and the backtest)."""
    c = {k: F.expr(f"CAST({v} AS DECIMAL(9,6))")
         for k, v in _HW_CONST.items()}
    m = _HW_M
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    types = ev.select("event_type").distinct()
    counts = (ev.groupBy("event_type",
                         F.col("ts").cast("date").alias("day"))
              .agg(F.count("*").alias("c")))
    grid = (types.crossJoin(F.broadcast(days))
            .join(counts, ["event_type", "day"], "left")
            .select("event_type", "day",
                    F.coalesce("c", F.lit(0)).cast("long").alias("c")))
    g = (grid.groupBy("event_type")
         .agg(F.array_sort(F.collect_list(F.struct("day", "c")))
              .alias("s"))
         .filter(F.size("s") > m))
    l0 = F.round(
        F.aggregate(F.slice("s", 1, m), F.lit(0).cast("long"),
                    lambda a, x: a + x["c"]).cast("double")
        / float(m), 6).cast("decimal(18,6)")
    g = g.withColumn("l0", l0)
    acc_t = ("array<struct<day:date,cnt:bigint,lvl:decimal(18,6),"
             "trd:decimal(18,6),seas:decimal(18,6),fc:decimal(18,6)>>")
    dec = lambda x: x.cast("decimal(18,6)")  # noqa: E731
    seed = F.transform(
        F.slice("s", 1, m),
        lambda x: F.struct(
            x["day"].alias("day"), x["c"].alias("cnt"),
            F.col("l0").alias("lvl"),
            F.lit(0).cast("decimal(18,6)").alias("trd"),
            dec(dec(x["c"]) - F.col("l0")).alias("seas"),
            F.lit(None).cast("decimal(18,6)").alias("fc"))).cast(acc_t)

    def lt_expr(acc, x):
        prev, sm = F.element_at(acc, -1), F.element_at(acc, -m)["seas"]
        return dec(F.round(c["A"] * (dec(x["c"]) - sm)
                           + c["A1"] * (prev["lvl"] + prev["trd"]), 6))

    def step(acc, x):
        prev, sm = F.element_at(acc, -1), F.element_at(acc, -m)["seas"]
        lt = lt_expr(acc, x)
        return F.array_append(acc, F.struct(
            x["day"].alias("day"), x["c"].alias("cnt"),
            lt.alias("lvl"),
            dec(F.round(c["B"] * (lt - prev["lvl"])
                        + c["B1"] * prev["trd"], 6)).alias("trd"),
            dec(F.round(c["G"] * (dec(x["c"]) - lt)
                        + c["G1"] * sm, 6)).alias("seas"),
            dec(prev["lvl"] + prev["trd"] + sm).alias("fc")))

    folded = F.aggregate(
        F.slice("s", m + 1, F.size("s")), seed, step)
    return (g.select("event_type", F.explode(folded).alias("e"))
            .select("event_type",
                    F.date_format(F.col("e.day"), "yyyy-MM-dd")
                    .alias("day"),
                    F.col("e.cnt").alias("cnt"),
                    F.col("e.lvl").cast("double").alias("level"),
                    F.col("e.trd").cast("double").alias("trend"),
                    F.col("e.seas").cast("double").alias("season"),
                    F.col("e.fc").cast("double").alias("forecast")))


@register("holt_winters_daily", _hw_oracle)
def holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters states + one-step forecasts per event
    type over the zero-filled daily grid (weekly season, exact 6-dp
    decimal recurrence — both engines walk identical numbers)."""
    return _hw_states(spark, sf_dir)


# ---------------------------------------------------------------------------
# Holt-Winters rolling-origin backtest — the holt_backtest_mape
# harness applied to the seasonal smoother, with WAPE instead of
# MAPE: the zero-filled grid legitimately contains zero-count days,
# so per-day percentage errors are undefined; WAPE
# (sum |err| / sum actual) is the standard fix and needs no per-day
# division at all. Naive baseline = yesterday's count.
#
# Scale shape: rides the bounded HW state relation; folds cover
# <= |days| doubles per type in pinned day order; sum(cnt) is exact.
# ---------------------------------------------------------------------------


def _hwb_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    hw_sql = ORACLES["holt_winters_daily"]
    assert callable(hw_sql)
    return f"""
WITH base AS MATERIALIZED (
{hw_sql()}
),
seqd AS (
    SELECT event_type, day, cnt, forecast,
           lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS pcnt
    FROM base
),
ev AS (
    SELECT event_type, day, cnt,
           abs(CAST(cnt AS DOUBLE) - forecast) AS err,
           abs(CAST(cnt AS DOUBLE) - CAST(pcnt AS DOUBLE)) AS err_naive
    FROM seqd WHERE forecast IS NOT NULL
),
folded AS (
    SELECT event_type, COUNT(*) AS n_eval, SUM(cnt) AS actual,
           {ordered_sum_sql("err", "day")} AS serr,
           {ordered_sum_sql("err_naive", "day")} AS serr_n
    FROM ev GROUP BY event_type
)
SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval,
       CASE WHEN actual = 0 THEN NULL
            ELSE {round_sql('serr / CAST(actual AS DOUBLE)')}
       END AS wape,
       CASE WHEN actual = 0 THEN NULL
            ELSE {round_sql('serr_n / CAST(actual AS DOUBLE)')}
       END AS wape_naive,
       CASE WHEN actual = 0 OR serr_n = 0 THEN NULL
            ELSE {round_sql('1.0 - serr / serr_n')} + 0.0
       END AS skill_vs_naive
FROM folded
"""


@register("holt_winters_backtest", _hwb_oracle)
def holt_winters_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step WAPE of Holt-Winters vs naive
    persistence, composed FROM the published 6-dp states."""
    base = _hw_states(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    seqd = base.withColumn("pcnt", F.lag("cnt").over(w))
    cd = F.col("cnt").cast("double")
    ev = (seqd.filter(F.col("forecast").isNotNull())
          .select("event_type", "day", "cnt",
                  F.abs(cd - F.col("forecast")).alias("err"),
                  F.abs(cd - F.col("pcnt").cast("double"))
                  .alias("err_naive")))
    folded = (ev.groupBy("event_type")
              .agg(F.count("*").alias("n_eval"),
                   F.sum("cnt").alias("actual"),
                   F.array_sort(F.collect_list(F.struct(
                       "day", "err", "err_naive"))).alias("ts")))
    serr = ordered_fold("ts", "err")
    serr_n = ordered_fold("ts", "err_naive")
    actual_zero = F.col("actual") == 0
    return folded.select(
        "event_type", F.col("n_eval").cast("long").alias("n_eval"),
        F.when(actual_zero, F.lit(None).cast("double"))
        .otherwise(F.round(serr / F.col("actual").cast("double"), 6))
        .alias("wape"),
        F.when(actual_zero, F.lit(None).cast("double"))
        .otherwise(F.round(serr_n / F.col("actual").cast("double"), 6))
        .alias("wape_naive"),
        # degenerate-denominator branch (repo rule): a constant series
        # has zero naive error -> NULL skill in BOTH engines
        F.when(actual_zero | (serr_n == 0), F.lit(None).cast("double"))
        .otherwise(F.round(F.lit(1.0) - serr / serr_n, 6) + F.lit(0.0))
        .alias("skill_vs_naive"))


# ---------------------------------------------------------------------------
# Deterministic weighted reservoir sample (Efraimidis–Spirakis 2006,
# public): each doc draws u ~ U(0,1) from its md5 and ranks by
# u^(1/w); the top-k under that key IS a weight-proportional sample
# without replacement. We rank by the MONOTONE transform
# ln(u)/w (u in (0,1) so ln(u) < 0; u^(1/w) ascending in ln(u)/w) —
# no pow(), and ln on a shared per-row tree follows the
# entropy/log-odds precedent. u = (md5 % 1e6 + 0.5)/1e6 is the
# dp_noisy_event_counts inverse-CDF spelling (never 0 or 1).
#
# This is the scale-correct "sample 10k docs proportional to quality"
# primitive: one per-row expression + one TakeOrderedAndProject —
# no global sort, no per-partition state, merges across any number of
# partitions (top-k is associative).
# ---------------------------------------------------------------------------

_WR_K = 100
_WR_U = "(({h} % 1000000 + 0.5) / 1000000.0)"


def reservoir_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, weight, sel_key) Efraimidis–Spirakis keys over a
    (doc_id, n_chars) relation — shared by the batch query and
    streaming.jobs.weighted_reservoir_stream (keys are a pure
    function of doc_id/n_chars, so batch and stream agree by
    construction)."""
    from travel_data_pipeline_spark.functions.hashing import md5_long

    h = md5_long(F.concat(F.lit("wr:"), F.col("doc_id").cast("string")))
    u = (h % 1_000_000 + F.lit(0.5)) / F.lit(1_000_000.0)
    return docs.select(
        "doc_id", (F.col("n_chars") + 1).alias("weight")).select(
        "doc_id", "weight",
        (F.log(u) / F.col("weight").cast("double")).alias("sel_key"))


def reservoir_rank(keyed: DataFrame, k: int = _WR_K) -> DataFrame:
    """Top-k of a keyed relation with ranks — the bounded tail of the
    batch query, reused by the streaming twin's readout."""
    topk = (keyed.orderBy(F.col("sel_key").desc(), "doc_id").limit(k))
    w = Window.orderBy(F.col("sel_key").desc(), "doc_id")
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id", F.col("weight").cast("long").alias("weight"),
        (F.round("sel_key", 6) + F.lit(0.0)).alias("sel_key"))


@register("weighted_reservoir_topk", f"""
WITH keyed AS (
    SELECT doc_id, n_chars + 1 AS weight,
           ln({_WR_U.format(h=md5_long_sql("'wr:' || CAST(doc_id AS VARCHAR)"))})
               / CAST(n_chars + 1 AS DOUBLE) AS sel_key
    FROM documents
),
topk AS (
    SELECT doc_id, weight, sel_key
    FROM keyed ORDER BY sel_key DESC, doc_id LIMIT {_WR_K}
)
SELECT CAST(row_number() OVER (ORDER BY sel_key DESC, doc_id) AS INT)
         AS rank,
       doc_id, CAST(weight AS BIGINT) AS weight,
       {round_sql('sel_key')} + 0.0 AS sel_key
FROM topk
""")
def weighted_reservoir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 weight-proportional sample of documents
    (Efraimidis–Spirakis keys on the doc's md5; weight = n_chars+1)."""
    docs = load_table(spark, sf_dir, "documents")
    return reservoir_rank(reservoir_keys(docs), _WR_K)


# ---------------------------------------------------------------------------
# Ratio-metric delta-method CI — the practical A/B wrinkle the
# two-proportion readout (ab_assignment_outcomes) and CUPED don't
# cover: when the metric is a RATIO of sums over the randomization
# unit (here revenue per order, with the customer as the unit), its
# variance needs the delta method (Deng et al., public):
#
#   R = sum(y) / sum(x)
#   Var(R) ~= (S_yy + R^2 S_xx - 2 R S_xy) / (n * xbar^2)
#
# with S_* the (n-1)-denominator sample (co)variances. Every moment
# (n, Sx, Sy, Sxx, Syy, Sxy) is an exact integer/decimal aggregate;
# the variance is one per-row double tree over the 2-row arm
# relation, clamped at 0 before sqrt (float cancellation can land a
# true-zero quadratic form marginally negative). z = 1.959964 (95%)
# is a python literal in both engines.
#
# Scale shape: one orders->customer grouped pass, then a 2-row agg.
# ---------------------------------------------------------------------------

_RM_Z = "1.959964"


def _rm_oracle() -> str:
    from travel_data_pipeline_spark.functions.hashing import md5_long_sql

    arm = md5_long_sql("'exp:' || CAST(c_custkey AS VARCHAR)")
    return f"""
WITH units AS (
    SELECT c.c_custkey, ({arm} % 2) AS arm,
           COUNT(*) AS x,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, arm
),
moments AS (
    SELECT arm, COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * x) AS sxx,
           SUM(CAST(y AS DECIMAL(28,2)) * y) AS syy,
           SUM(CAST(y AS DECIMAL(28,2)) * x) AS sxy
    FROM units GROUP BY arm
),
terms AS (
    SELECT arm, n, sx,
           CAST(n AS DOUBLE) AS nd,
           CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
           CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
           CAST(sxy AS DOUBLE) AS sxy,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
    FROM moments
),
vars_ AS (
    SELECT arm, n, r,
           CASE WHEN n <= 1 OR sx = 0 THEN NULL
                ELSE GREATEST(0.0,
                     (syy - syd * syd / nd
                      + r * r * (sxx - sxd * sxd / nd)
                      - 2.0 * r * (sxy - sxd * syd / nd)) / (nd - 1.0))
                     / (nd * (sxd / nd) * (sxd / nd))
           END AS var_r
    FROM terms
),
rows_ AS (
    SELECT CAST(arm AS VARCHAR) AS arm, CAST(n AS BIGINT) AS n,
           r AS ratio, sqrt(var_r) AS se, var_r
    FROM vars_
)
SELECT arm, n, {round_sql('ratio')} AS ratio,
       CASE WHEN se IS NULL THEN NULL ELSE {round_sql('se')} END AS se,
       CASE WHEN se IS NULL THEN NULL
            ELSE {round_sql(f'ratio - {_RM_Z} * se')} + 0.0 END AS ci_lo,
       CASE WHEN se IS NULL THEN NULL
            ELSE {round_sql(f'ratio + {_RM_Z} * se')} + 0.0 END AS ci_hi
FROM rows_
UNION ALL
SELECT 'DIFF', a1.n + a0.n,
       {round_sql('a1.ratio - a0.ratio')} + 0.0,
       CASE WHEN a1.var_r IS NULL OR a0.var_r IS NULL THEN NULL
            ELSE {round_sql('sqrt(a1.var_r + a0.var_r)')} END,
       CASE WHEN a1.var_r IS NULL OR a0.var_r IS NULL THEN NULL
            ELSE {round_sql(f'(a1.ratio - a0.ratio) - {_RM_Z} * sqrt(a1.var_r + a0.var_r)')} + 0.0 END,
       CASE WHEN a1.var_r IS NULL OR a0.var_r IS NULL THEN NULL
            ELSE {round_sql(f'(a1.ratio - a0.ratio) + {_RM_Z} * sqrt(a1.var_r + a0.var_r)')} + 0.0 END
FROM rows_ a1 JOIN rows_ a0 ON a1.arm = '1' AND a0.arm = '0'
"""


@register("ratio_metric_delta_ci", _rm_oracle)
def ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method 95% CI for the revenue-per-order ratio metric per
    experiment arm, plus the 'DIFF' row (arm 1 - arm 0)."""
    from travel_data_pipeline_spark.functions.hashing import md5_long

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    arm = (md5_long(F.concat(F.lit("exp:"),
                             F.col("c_custkey").cast("string"))) % 2)
    units = (orders.join(cust, orders.o_custkey == cust.c_custkey)
             .groupBy(F.col("c_custkey"), arm.alias("arm"))
             .agg(F.count("*").alias("x"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .alias("y")))
    y28 = F.col("y").cast("decimal(28,2)")
    moments = units.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(y28 * F.col("y")).alias("syy"),
        F.sum(y28 * F.col("x")).alias("sxy"))
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    r = syd / sxd
    quad = (F.col("syy").cast("double") - syd * syd / nd
            + r * r * (F.col("sxx").cast("double") - sxd * sxd / nd)
            - F.lit(2.0) * r * (F.col("sxy").cast("double")
                                - sxd * syd / nd))
    var_r = (F.when((F.col("n") <= 1) | (F.col("sx") == 0),
                    F.lit(None).cast("double"))
             .otherwise(F.greatest(F.lit(0.0), quad / (nd - F.lit(1.0)))
                        / (nd * (sxd / nd) * (sxd / nd))))
    rows = moments.select(
        F.col("arm").cast("string").alias("arm"),
        F.col("n").cast("long").alias("n"),
        r.alias("ratio"), F.sqrt(var_r).alias("se"),
        var_r.alias("var_r"))
    z = F.lit(float(_RM_Z))
    per = rows.select(
        "arm", "n", F.round("ratio", 6).alias("ratio"),
        F.round("se", 6).alias("se"),
        F.when(F.col("se").isNull(), F.lit(None).cast("double"))
        .otherwise(F.round(F.col("ratio") - z * F.col("se"), 6)
                   + F.lit(0.0)).alias("ci_lo"),
        F.when(F.col("se").isNull(), F.lit(None).cast("double"))
        .otherwise(F.round(F.col("ratio") + z * F.col("se"), 6)
                   + F.lit(0.0)).alias("ci_hi"))
    a1 = rows.filter(F.col("arm") == "1").select(
        F.col("n").alias("n1"), F.col("ratio").alias("r1"),
        F.col("var_r").alias("v1"))
    a0 = rows.filter(F.col("arm") == "0").select(
        F.col("n").alias("n0"), F.col("ratio").alias("r0"),
        F.col("var_r").alias("v0"))
    dnull = (F.col("v1").isNull() | F.col("v0").isNull())
    dse = F.sqrt(F.col("v1") + F.col("v0"))
    ddiff = F.col("r1") - F.col("r0")
    diff = a1.crossJoin(F.broadcast(a0)).select(
        F.lit("DIFF").alias("arm"),
        (F.col("n1") + F.col("n0")).cast("long").alias("n"),
        (F.round(ddiff, 6) + F.lit(0.0)).alias("ratio"),
        F.when(dnull, F.lit(None).cast("double"))
        .otherwise(F.round(dse, 6)).alias("se"),
        F.when(dnull, F.lit(None).cast("double"))
        .otherwise(F.round(ddiff - z * dse, 6) + F.lit(0.0))
        .alias("ci_lo"),
        F.when(dnull, F.lit(None).cast("double"))
        .otherwise(F.round(ddiff + z * dse, 6) + F.lit(0.0))
        .alias("ci_hi"))
    return per.unionByName(diff)


# ---------------------------------------------------------------------------
# Shard balance audit — straggler detection over pack_token_shards'
# output: per (source, lang), how even are the shard token totals?
# Composed FROM the registered packer (the holt_backtest harness
# pattern), so the audit can never drift from the real assignment.
# Metrics come from exact moments only (no per-group sort): CV from
# sum/sum-of-squares, max/mean straggler ratio, and min-shard fill.
#
# Scale shape: one grouped pass over the packer's output to shard
# totals, one grouped pass to |sources x langs| audit rows.
# ---------------------------------------------------------------------------


def _sb_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    pack_sql = ORACLES["pack_token_shards"]
    assert isinstance(pack_sql, str)
    return f"""
WITH base AS MATERIALIZED (
{pack_sql}
),
shards AS (
    SELECT source, lang, shard_id,
           SUM(n_tokens) AS tokens, COUNT(*) AS n_docs
    FROM base GROUP BY source, lang, shard_id
),
m AS (
    SELECT source, lang, COUNT(*) AS n_shards,
           SUM(tokens) AS total_tokens,
           MAX(tokens) AS max_tokens, MIN(tokens) AS min_tokens,
           SUM(CAST(tokens AS DECIMAL(28,0)) * tokens) AS sst
    FROM shards GROUP BY source, lang
)
SELECT source, lang, CAST(n_shards AS BIGINT) AS n_shards,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       {round_sql('CAST(total_tokens AS DOUBLE) / n_shards')}
           AS mean_tokens,
       CAST(max_tokens AS BIGINT) AS max_tokens,
       CAST(min_tokens AS BIGINT) AS min_tokens,
       CASE WHEN total_tokens = 0 THEN NULL
            ELSE {round_sql(
                'sqrt(GREATEST(0.0, CAST(sst AS DOUBLE) / n_shards'
                ' - (CAST(total_tokens AS DOUBLE) / n_shards)'
                ' * (CAST(total_tokens AS DOUBLE) / n_shards)))'
                ' / (CAST(total_tokens AS DOUBLE) / n_shards)')}
       END AS cv,
       CASE WHEN total_tokens = 0 THEN NULL
            ELSE {round_sql(
                'CAST(max_tokens AS DOUBLE)'
                ' / (CAST(total_tokens AS DOUBLE) / n_shards)')}
       END AS max_over_mean
FROM m
"""


@register("shard_balance_audit", _sb_oracle)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) shard-balance metrics over the registered
    token packer's assignment (CV + straggler ratio from exact
    moments; zero-token groups report NULL ratios per the repo
    degenerate-denominator rule)."""
    from travel_data_pipeline_spark.queries_curation import (
        pack_token_shards,
    )

    base = pack_token_shards(spark, sf_dir)
    shards = (base.groupBy("source", "lang", "shard_id")
              .agg(F.sum("n_tokens").alias("tokens"),
                   F.count("*").alias("n_docs")))
    m = shards.groupBy("source", "lang").agg(
        F.count("*").alias("n_shards"),
        F.sum("tokens").alias("total_tokens"),
        F.max("tokens").alias("max_tokens"),
        F.min("tokens").alias("min_tokens"),
        F.sum(F.col("tokens").cast("decimal(28,0)") * F.col("tokens"))
        .alias("sst"))
    mean_d = (F.col("total_tokens").cast("double") / F.col("n_shards"))
    zero = F.col("total_tokens") == 0
    cv = (F.sqrt(F.greatest(
        F.lit(0.0),
        F.col("sst").cast("double") / F.col("n_shards")
        - mean_d * mean_d)) / mean_d)
    return m.select(
        "source", "lang", F.col("n_shards").cast("long").alias("n_shards"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round(mean_d, 6).alias("mean_tokens"),
        F.col("max_tokens").cast("long").alias("max_tokens"),
        F.col("min_tokens").cast("long").alias("min_tokens"),
        F.when(zero, F.lit(None).cast("double"))
        .otherwise(F.round(cv, 6)).alias("cv"),
        F.when(zero, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("max_tokens").cast("double") / mean_d, 6))
        .alias("max_over_mean"))


# ---------------------------------------------------------------------------
# Cross-lingual semantic pairs — translated near-duplicate content
# across languages: sign-LSH candidate pairs over the embedding table
# (the cosine_threshold_sweep relation, tau = 0.30), joined to the
# documents' langs, keeping only pairs whose docs speak DIFFERENT
# languages, rolled up to canonical (lang_a < lang_b) cells. This is
# the multilingual-curation audit exact text dedup can never see
# (translations share no shingles).
#
# Scale shape: candidates are capped-bucket LSH pairs (no all-pairs);
# the lang join hits the documents relation twice by doc_id; output
# is bounded by |lang| choose 2.
# ---------------------------------------------------------------------------

_XL_TAU = 0.30


def _xl_oracle() -> str:
    from travel_data_pipeline_spark.operators import similarity

    planes = similarity.random_planes(16, 64)
    band_bits = 16 // 2
    mask = (1 << band_bits) - 1
    plane_lits = ["[" + ", ".join(repr(x) for x in p) + "]"
                  for p in planes]
    sig = " + ".join(
        f"(CASE WHEN list_dot_product(v, {pl}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, pl in enumerate(plane_lits))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, v, {b} AS band_idx,"
        f" (sig >> {b * band_bits}) & {mask} AS band_key FROM sigged"
        for b in range(2))
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
sigged AS (SELECT vec_id, v, CAST({sig} AS BIGINT) AS sig FROM base),
banded AS ({band_rows}),
bcap AS (
    SELECT * EXCLUDE (_bsz) FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key)
            AS _bsz FROM banded)
    WHERE _bsz <= 1000
),
pairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM bcap a JOIN bcap b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.vec_id < b.vec_id
),
xl AS (
    SELECT LEAST(da.lang, db.lang) AS lang_a,
           GREATEST(da.lang, db.lang) AS lang_b,
           p.vec_a, p.vec_b, p.cos
    FROM pairs p
    JOIN documents da ON da.doc_id = p.vec_a
    JOIN documents db ON db.doc_id = p.vec_b
    WHERE p.cos >= {_XL_TAU} AND da.lang <> db.lang
)
SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {round_sql(ordered_sum_sql('cos', 'vec_a, vec_b') + ' / COUNT(*)')}
           AS mean_cos,
       {round_sql('MAX(cos)')} AS max_cos
FROM xl GROUP BY lang_a, lang_b
"""


@register("crosslingual_semantic_pairs", _xl_oracle)
def crosslingual_semantic_pairs(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Cross-language semantic-similarity cells (LSH candidates,
    cosine >= 0.30, langs differ) — the translated-duplicate audit."""
    from travel_data_pipeline_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>")
        .alias("embedding"))
    planes = similarity.random_planes(16, 64)
    pairs = similarity.cosine_near_dup_lsh(
        emb, planes, bands=2, threshold=_XL_TAU, max_bucket=1000)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    da = docs.withColumnsRenamed({"doc_id": "vec_a", "lang": "la"})
    db = docs.withColumnsRenamed({"doc_id": "vec_b", "lang": "lb"})
    xl = (pairs.join(da, "vec_a").join(db, "vec_b")
          .filter(F.col("la") != F.col("lb"))
          .select(F.least("la", "lb").alias("lang_a"),
                  F.greatest("la", "lb").alias("lang_b"),
                  "vec_a", "vec_b",
                  F.col("cosine_sim").alias("cos")))
    folded = (xl.groupBy("lang_a", "lang_b")
              .agg(F.count("*").alias("n_pairs"),
                   ordered_sum("cos", "vec_a", "vec_b").alias("s"),
                   F.max("cos").alias("max_cos")))
    return folded.select(
        "lang_a", "lang_b",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.col("s") / F.col("n_pairs").cast("double"), 6)
        .alias("mean_cos"),
        F.round("max_cos", 6).alias("max_cos"))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / theta-sketch) distinct-INTERSECTION audit —
# the set-operation capability the HLL family here doesn't have: HLL
# registers union cleanly (register max) but cannot intersect;
# KMV sketches support intersection via the theta/rho estimator
# (Beyer et al. 2007 / DataSketches theta, public):
#
#   sketch(T)   = K smallest md5 hashes of T's distinct users
#   D(T)        ~= (K-1) * M / theta_K        (theta_K = K-th smallest)
#   U           = K' smallest of sketch(A) u sketch(B), K' = min(K,|u|)
#   D(A n B)    ~= |{h in U : h in A and h in B}| / K' * D(A u B)
#
# The audit computes the estimate AND the exact intersection per
# event-type pair — the trust readout before anyone uses the sketch
# at a scale where exact is unaffordable. Sketches are EXHAUSTIVE
# when a side has < K distinct users (estimate = exact count); the
# sf0.001 fixture exercises that branch, sf0.01+ the estimator.
#
# Scale shape: ONE corpus shuffle for distinct (type, user); the
# per-type K-smallest is a partitioned rank <= K window
# (WindowGroupLimit pushes the limit into the sort — the W2 family's
# verified plan shape); everything after runs on |types| x K rows.
# The exact intersection is one user-keyed self-join of the DISTINCT
# relation (fan-out bounded by |types| per user).
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_M = 1 << 60  # md5_long values are uniform on [0, 2^60)


def _kmv_oracle() -> str:
    h = md5_long_sql("'kmv:' || CAST(user_id AS VARCHAR)")
    k, m = _KMV_K, _KMV_M
    est = (f"CASE WHEN n_sk < {k} THEN CAST(n_sk AS DOUBLE) "
           f"ELSE ({k} - 1.0) * {m}.0 / CAST(theta AS DOUBLE) END")
    return f"""
WITH dist AS (
    SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
    SELECT event_type, user_id, {h} AS h FROM dist
),
sk AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM hashed
),
sketch AS (SELECT event_type, h FROM sk WHERE rk <= {k}),
per_type AS (
    SELECT event_type, COUNT(*) AS n_sk, MAX(h) AS theta
    FROM sketch GROUP BY event_type
),
types AS (SELECT DISTINCT event_type FROM events),
prs AS (
    SELECT a.event_type AS ta, b.event_type AS tb
    FROM types a JOIN types b ON a.event_type < b.event_type
),
pu AS (
    SELECT p.ta, p.tb, s.h,
           MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
    FROM prs p JOIN sketch s
      ON s.event_type = p.ta OR s.event_type = p.tb
    GROUP BY p.ta, p.tb, s.h
),
ur AS (
    SELECT ta, tb, h, in_a, in_b,
           row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS urk,
           COUNT(*) OVER (PARTITION BY ta, tb) AS n_u
    FROM pu
),
pair_est AS (
    SELECT ta, tb, MIN(n_u) AS n_u,
           LEAST({k}, MIN(n_u)) AS kp,
           MAX(CASE WHEN urk <= LEAST({k}, n_u) THEN h END) AS theta_u,
           SUM(CASE WHEN urk <= LEAST({k}, n_u)
                     AND in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
               AS rho_num
    FROM ur WHERE urk <= {k}
    GROUP BY ta, tb
),
exact AS (
    SELECT a.event_type AS ta, b.event_type AS tb,
           COUNT(*) AS exact_inter
    FROM dist a JOIN dist b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY ta, tb
)
SELECT COALESCE(pe.ta, e.ta) AS type_a, COALESCE(pe.tb, e.tb) AS type_b,
       {round_sql(est.replace('n_sk', 'pa.n_sk')
                     .replace('theta', 'pa.theta'))} AS est_a,
       {round_sql(est.replace('n_sk', 'pb.n_sk')
                     .replace('theta', 'pb.theta'))} AS est_b,
       {round_sql(
           f"(CAST(pe.rho_num AS DOUBLE) / pe.kp) * "
           f"(CASE WHEN pe.n_u < {k} THEN CAST(pe.n_u AS DOUBLE) "
           f"ELSE ({k} - 1.0) * {m}.0 / CAST(pe.theta_u AS DOUBLE) END)")}
           AS est_inter,
       CAST(COALESCE(e.exact_inter, 0) AS BIGINT) AS exact_inter
FROM pair_est pe
JOIN per_type pa ON pa.event_type = pe.ta
JOIN per_type pb ON pb.event_type = pe.tb
FULL JOIN exact e ON e.ta = pe.ta AND e.tb = pe.tb
"""


def kmv_pair_estimates(dist: DataFrame) -> DataFrame:
    """KMV pair-overlap estimates over a DISTINCT (event_type,
    user_id) relation: (ta, tb, est_a, est_b, est_inter) raw doubles
    — shared by the registered audit and tools/stress_ops.py's
    known-truth scale stage. Everything after the per-type K-smallest
    rank runs on |types| x K rows."""
    from travel_data_pipeline_spark.functions.hashing import md5_long

    k, m = _KMV_K, _KMV_M
    hashed = dist.select(
        "event_type", "user_id",
        md5_long(F.concat(F.lit("kmv:"),
                          F.col("user_id").cast("string"))).alias("h"))
    wk = Window.partitionBy("event_type").orderBy("h")
    sketch = (hashed.withColumn("rk", F.row_number().over(wk))
              .filter(F.col("rk") <= k).select("event_type", "h"))
    per_type = sketch.groupBy("event_type").agg(
        F.count("*").alias("n_sk"), F.max("h").alias("theta"))
    types = dist.select("event_type").distinct()
    prs = (types.select(F.col("event_type").alias("ta"))
           .join(types.select(F.col("event_type").alias("tb")),
                 F.col("ta") < F.col("tb")))
    pu = (F.broadcast(prs)
          .join(F.broadcast(sketch),
                (F.col("event_type") == F.col("ta"))
                | (F.col("event_type") == F.col("tb")))
          .groupBy("ta", "tb", "h")
          .agg(F.max(F.when(F.col("event_type") == F.col("ta"), 1)
                     .otherwise(0)).alias("in_a"),
               F.max(F.when(F.col("event_type") == F.col("tb"), 1)
                     .otherwise(0)).alias("in_b")))
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    wn = Window.partitionBy("ta", "tb")
    ur = (pu.withColumn("urk", F.row_number().over(wu))
          .withColumn("n_u", F.count("*").over(wn))
          .filter(F.col("urk") <= k))
    kp = F.least(F.lit(k), F.col("n_u"))
    in_win = F.col("urk") <= F.least(F.lit(k), F.col("n_u"))
    pair_est = ur.groupBy("ta", "tb").agg(
        F.min("n_u").alias("n_u"),
        F.least(F.lit(k), F.min("n_u")).alias("kp"),
        F.max(F.when(in_win, F.col("h"))).alias("theta_u"),
        F.sum(F.when(in_win & (F.col("in_a") == 1)
                     & (F.col("in_b") == 1), 1).otherwise(0))
        .alias("rho_num"))
    _ = kp  # (kept for readability of the SQL mirror above)

    def est(n_sk, theta):
        return (F.when(n_sk < k, n_sk.cast("double"))
                .otherwise(F.lit(float(k - 1)) * F.lit(float(m))
                           / theta.cast("double")))

    pa = per_type.withColumnsRenamed(
        {"event_type": "ta", "n_sk": "n_sk_a", "theta": "theta_a"})
    pb = per_type.withColumnsRenamed(
        {"event_type": "tb", "n_sk": "n_sk_b", "theta": "theta_b"})
    d_u = (F.when(F.col("n_u") < k, F.col("n_u").cast("double"))
           .otherwise(F.lit(float(k - 1)) * F.lit(float(m))
                      / F.col("theta_u").cast("double")))
    est_inter = (F.col("rho_num").cast("double") / F.col("kp")) * d_u
    return (pair_est.join(F.broadcast(pa), "ta")
            .join(F.broadcast(pb), "tb")
            .select("ta", "tb",
                    est(F.col("n_sk_a"), F.col("theta_a")).alias("est_a"),
                    est(F.col("n_sk_b"), F.col("theta_b")).alias("est_b"),
                    est_inter.alias("est_inter")))


@register("kmv_overlap_audit", _kmv_oracle)
def kmv_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-intersection estimate vs exact audience overlap
    per event-type pair.

    FULL outer between the sketch estimates and the exact relation
    (ADVICE r08): a pair whose sketch estimates a positive overlap but
    whose true intersection is 0 has no `exact` row, and that
    false-positive case is exactly what a sketch-trust audit must
    surface — so the estimate side must be join-preserved too.
    Both relations are |types|^2-bounded, so the un-broadcastable
    full-outer SMJ is fine at any scale."""
    ev = load_table(spark, sf_dir, "events")
    dist = ev.select("event_type", "user_id").distinct()
    ests = kmv_pair_estimates(dist)
    da = dist.withColumnsRenamed({"event_type": "ta",
                                  "user_id": "ua"})
    db = dist.withColumnsRenamed({"event_type": "tb",
                                  "user_id": "ub"})
    exact = (da.join(db, (F.col("ua") == F.col("ub"))
                     & (F.col("ta") < F.col("tb")))
             .groupBy("ta", "tb").agg(F.count("*").alias("exact_inter")))
    return (ests.join(exact, ["ta", "tb"], "full")
            .select(F.col("ta").alias("type_a"),
                    F.col("tb").alias("type_b"),
                    F.round("est_a", 6).alias("est_a"),
                    F.round("est_b", 6).alias("est_b"),
                    F.round("est_inter", 6).alias("est_inter"),
                    F.coalesce("exact_inter", F.lit(0)).cast("long")
                    .alias("exact_inter")))


# ---------------------------------------------------------------------------
# Embedding outliers by diagonal Mahalanobis distance — the
# embedding-space data-quality sweep: per label, the vectors farthest
# from their label's centroid in per-dimension z-units (noisy/
# mislabeled rows surface first). Means and variances use the
# embedding_label_centroids recipe — per-(label, dim) folds over a
# vec_id-SORTED value list, so the float summation order is pinned in
# both engines; the z^2 fold walks dims in ELEMENT order (in-order
# reduce both engines). Zero-variance dims contribute 0 (repo
# degenerate-denominator rule, identical CASE in both engines).
#
# Scale shape: one posexplode shuffle to (label, dim) cells, one
# bounded (|labels| x dims) stats relation broadcast back onto the
# vectors, one partitioned top-5 window (WindowGroupLimit).
# ---------------------------------------------------------------------------

_MAH_TOPK = 5


@register("embedding_outlier_mahalanobis", f"""
WITH vals AS (
    SELECT label, CAST(t.i AS INT) AS dim_idx, vec_id,
           CAST(embedding AS DOUBLE[])[t.i + 1] AS v
    FROM embeddings,
         UNNEST(range(0, len(CAST(embedding AS DOUBLE[])))) AS t(i)
),
folded AS (
    SELECT label, dim_idx, count(*) AS n,
           list(v ORDER BY vec_id) AS vs
    FROM vals GROUP BY label, dim_idx
),
stats AS (
    SELECT label, dim_idx,
           list_reduce(vs, (x, y) -> x + y) / CAST(n AS DOUBLE) AS mu,
           sqrt(GREATEST(0.0,
               list_reduce(list_transform(vs, x -> x * x),
                           (x, y) -> x + y) / CAST(n AS DOUBLE)
               - (list_reduce(vs, (x, y) -> x + y) / CAST(n AS DOUBLE))
                 * (list_reduce(vs, (x, y) -> x + y)
                    / CAST(n AS DOUBLE)))) AS sd
    FROM folded
),
packed AS (
    SELECT label,
           list(mu ORDER BY dim_idx) AS mus,
           list(sd ORDER BY dim_idx) AS sds
    FROM stats GROUP BY label
),
scored AS (
    SELECT e.vec_id, e.label,
           list_reduce(list_transform(
               generate_series(1, len(CAST(e.embedding AS DOUBLE[]))),
               i -> CASE WHEN p.sds[i] = 0.0 THEN 0.0
                         ELSE ((CAST(e.embedding AS DOUBLE[])[i]
                                - p.mus[i]) / p.sds[i])
                              * ((CAST(e.embedding AS DOUBLE[])[i]
                                  - p.mus[i]) / p.sds[i]) END),
               (x, y) -> x + y) AS z2
    FROM embeddings e JOIN packed p ON p.label = e.label
),
ranked AS (
    SELECT label, vec_id, z2,
           row_number() OVER (PARTITION BY label
                              ORDER BY z2 DESC, vec_id) AS rk
    FROM scored
)
SELECT label, CAST(rk AS INT) AS rank, vec_id,
       {round_sql('z2')} AS z2
FROM ranked WHERE rk <= {_MAH_TOPK}
""")
def embedding_outlier_mahalanobis(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Top-5 per-label embedding outliers by diagonal Mahalanobis
    distance (pinned-order mean/var folds; zero-variance dims skip)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"))
    vals = emb.select(
        "label", "vec_id",
        F.posexplode("v").alias("dim_idx", "val"))
    folded = (vals.groupBy("label", "dim_idx")
              .agg(F.count("*").alias("n"),
                   F.array_sort(F.collect_list(
                       F.struct("vec_id", "val"))).alias("vs")))
    mu = ordered_fold("vs", "val") / F.col("n").cast("double")
    ex2 = (ordered_fold("vs", lambda s: s["val"] * s["val"])
           / F.col("n").cast("double"))
    stats = folded.select(
        "label", "dim_idx", mu.alias("mu"),
        F.sqrt(F.greatest(F.lit(0.0), ex2 - mu * mu)).alias("sd"))
    packed = (stats.groupBy("label")
              .agg(F.transform(F.array_sort(F.collect_list(
                      F.struct("dim_idx", "mu", "sd"))),
                   lambda s: s["mu"]).alias("mus"),
                   F.transform(F.array_sort(F.collect_list(
                       F.struct("dim_idx", "mu", "sd"))),
                   lambda s: s["sd"]).alias("sds")))
    joined = emb.join(F.broadcast(packed), "label")
    zterm = lambda i: F.when(  # noqa: E731
        F.element_at("sds", i) == 0.0, F.lit(0.0)).otherwise(
        ((F.element_at("v", i) - F.element_at("mus", i))
         / F.element_at("sds", i))
        * ((F.element_at("v", i) - F.element_at("mus", i))
           / F.element_at("sds", i)))
    z2 = F.aggregate(F.sequence(F.lit(1), F.size("v")), F.lit(0.0),
                     lambda a, i: a + zterm(i))
    scored = joined.select("vec_id", "label", z2.alias("z2"))
    wr = Window.partitionBy("label").orderBy(F.col("z2").desc(),
                                             "vec_id")
    return (scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= _MAH_TOPK)
            .select("label", F.col("rank").cast("int").alias("rank"),
                    "vec_id", F.round("z2", 6).alias("z2")))


# ---------------------------------------------------------------------------
# Quantile treatment effects — the distributional readout of the
# experiment family: the mean-based ATE (ipw/aipw) can hide a lift
# concentrated in one tail, so report the per-arm EXACT quartiles of
# the outcome and their differences (QTE at q = 0.25/0.50/0.75).
# Order statistics are exact lower quantiles (k = ceil(q*n), integer
# arithmetic — the conformal_interval_coverage spelling), computed per
# arm through two_phase_ordered so no arm ever funnels through a
# single-partition sort.
#
# Scale shape: one orders->customer grouped pass to units; per arm,
# the two-phase rank (approx-quantile probe + bucket-local windows);
# output is exactly 3 rows.
# ---------------------------------------------------------------------------

_QTE_QS = (1, 2, 3)  # quartiles q/4


def _qte_oracle() -> str:
    from travel_data_pipeline_spark.functions.hashing import md5_long_sql

    arm = md5_long_sql("'exp:' || CAST(c_custkey AS VARCHAR)")
    qs = ", ".join(f"({q})" for q in _QTE_QS)
    return f"""
WITH units AS (
    SELECT c.c_custkey, ({arm} % 2) AS arm,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, arm
),
ranked AS (
    SELECT arm, y,
           row_number() OVER (PARTITION BY arm
                              ORDER BY y, c_custkey) AS rk,
           COUNT(*) OVER (PARTITION BY arm) AS n
    FROM units
),
grid AS (SELECT q FROM (VALUES {qs}) g(q)),
picked AS (
    SELECT g.q, r.arm, r.y
    FROM grid g JOIN ranked r
      ON r.rk = (g.q * r.n + 3) // 4
)
SELECT p1.q AS quartile,
       CAST(p1.y AS DOUBLE) AS y_treat,
       CAST(p0.y AS DOUBLE) AS y_ctrl,
       {round_sql('CAST(p1.y AS DOUBLE) - CAST(p0.y AS DOUBLE)')} + 0.0
           AS qte
FROM picked p1 JOIN picked p0
  ON p1.q = p0.q AND p1.arm = 1 AND p0.arm = 0
"""


@register("quantile_treatment_effects", _qte_oracle)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str,
                               units: DataFrame | None = None) -> DataFrame:
    """Exact per-arm outcome quartiles and their differences (QTE).

    ``units`` lets tools/stress_stats.py drive this exact code path
    with a synthetic 20M-row arm; default is the registered
    ipw_units split."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_kth,
    )
    from travel_data_pipeline_spark.queries_round10 import ipw_units

    if units is None:
        units = ipw_units(spark, sf_dir)
    units = units.select("c_custkey", "arm", "y")
    grid = local_relation(spark, [(q,) for q in _QTE_QS], "q int")
    picked = []
    for arm_v in (0, 1):
        side = units.filter(F.col("arm") == arm_v)
        # optimization r15 (conformal's two_phase_kth, multi-k): only
        # the 3 quartile rows are read out, so rank ONLY the buckets
        # holding ranks (q*n+3)//4 — two_phase_ordered windowed every
        # bucket and joined broadcast offsets for ranks nobody reads;
        # n_col replaces the separate COUNT(*) pass (the phase-1
        # bucket-count collect already knows the total). The join
        # keeps the oracle's exact semantics: a rank collision
        # between two q values replicates the row per q.
        ranked = two_phase_kth(
            side, [F.col("y").asc(), F.col("c_custkey").asc()],
            bucket_on=F.col("y").cast("double"),
            k=lambda n: [(q * n + 3) // 4 for q in _QTE_QS],
            rank_col="rk", n_col="n")
        hit = (ranked
               .join(F.broadcast(grid),
                     F.col("rk") == F.floor((F.col("q") * F.col("n") + 3)
                                            / 4))
               .select("q", F.lit(arm_v).alias("arm"), "y"))
        picked.append(hit)
    p1 = picked[1].select("q", F.col("y").alias("y1"))
    p0 = picked[0].select(F.col("q").alias("q0"), F.col("y").alias("y0"))
    return (p1.join(F.broadcast(p0), p1.q == p0.q0)
            .select(F.col("q").alias("quartile"),
                    F.col("y1").cast("double").alias("y_treat"),
                    F.col("y0").cast("double").alias("y_ctrl"),
                    (F.round(F.col("y1").cast("double")
                             - F.col("y0").cast("double"), 6)
                     + F.lit(0.0)).alias("qte")))


# ---------------------------------------------------------------------------
# James–Stein (Efron–Morris) shrunk per-segment lifts — the
# winner's-curse guard for subgroup readouts: raw per-segment lift
# estimates overdisperse around the true lifts, so the multi-segment
# readout shrinks each toward the precision-weighted grand lift:
#
#   d_bar = sum(d_s / se2_s) / sum(1 / se2_s)
#   S     = sum((d_s - d_bar)^2 / se2_s)
#   c     = max(0, 1 - (m - 3) / S)          (m = #segments with both arms)
#   shrunk_s = d_bar + c * (d_s - d_bar)
#
# (Efron & Morris 1975, public.) All moments (n, sum y, sum y^2 per
# (segment, arm)) are exact; the <= |segments| folds run in pinned
# segment order. Guards: one-armed or n<=1 arms give NULL lift/se2
# and drop from every fold; m <= 3 disables shrinkage (c = 1, the JS
# dominance condition needs m > 3); S = 0 (all lifts equal) pins
# c = 0 — shrinking to the common value they all share.
# ---------------------------------------------------------------------------


def _js_oracle() -> str:
    from travel_data_pipeline_spark.queries_round10 import (
        IPW_UNITS_STRATA_SQL,
    )

    fold = lambda expr, flt="d IS NOT NULL": (  # noqa: E731
        f"list_reduce(list({expr} ORDER BY segment)"
        f" FILTER ({flt}), (x, y) -> x + y)")
    return f"""
WITH {IPW_UNITS_STRATA_SQL},
m2 AS (
    SELECT segment,
           SUM(CASE WHEN arm = 1
                    THEN CAST(y AS DECIMAL(28,2)) * y
                    ELSE CAST(0 AS DECIMAL(38,4)) END) AS syy_t,
           SUM(CASE WHEN arm = 0
                    THEN CAST(y AS DECIMAL(28,2)) * y
                    ELSE CAST(0 AS DECIMAL(38,4)) END) AS syy_c
    FROM units GROUP BY segment
),
terms AS (
    SELECT s.segment, s.n, s.n_t,
           CASE WHEN s.n_t <= 1 OR s.n - s.n_t <= 1 THEN NULL
                ELSE CAST(s.sy_t AS DOUBLE) / s.n_t
                     - CAST(s.sy_c AS DOUBLE) / (s.n - s.n_t)
           END AS d,
           -- multiply-through spelling: (n*syy - sy^2) is EXACT
           -- decimal, so each arm's variance term is ONE double
           -- division — bit-identical across engines (the plain
           -- (syy - sy^2/n)/(n-1)/n tree diverged in the last ulp at
           -- the ~1e11 magnitude where round(x, 6) can't absorb it)
           -- the numerators' scaled values exceed 2^53, where the
           -- engines' direct decimal->double casts can differ by an
           -- ulp — bridge through the exact decimal STRING (both
           -- engines parse strings correctly rounded)
           CASE WHEN s.n_t <= 1 OR s.n - s.n_t <= 1 THEN NULL
                ELSE CAST(CAST(s.n_t * m2.syy_t
                          - CAST(s.sy_t AS DECIMAL(28,2)) * s.sy_t
                          AS VARCHAR) AS DOUBLE)
                     / (CAST(s.n_t AS DOUBLE) * CAST(s.n_t AS DOUBLE)
                        * (CAST(s.n_t AS DOUBLE) - 1.0))
                     + CAST(CAST((s.n - s.n_t) * m2.syy_c
                            - CAST(s.sy_c AS DECIMAL(28,2)) * s.sy_c
                            AS VARCHAR) AS DOUBLE)
                       / (CAST(s.n - s.n_t AS DOUBLE)
                          * CAST(s.n - s.n_t AS DOUBLE)
                          * (CAST(s.n - s.n_t AS DOUBLE) - 1.0))
           END AS se2
    FROM strata s JOIN m2 ON m2.segment = s.segment
),
terms2 AS (
    -- zero-variance strata join the one-armed NULL-and-drop class
    SELECT segment, n, n_t,
           CASE WHEN se2 = 0.0 THEN NULL ELSE d END AS d,
           CASE WHEN se2 = 0.0 THEN NULL ELSE se2 END AS se2
    FROM terms
),
g AS (
    SELECT COUNT(d) AS m,
           {fold('d / se2')} / {fold('1.0 / se2')} AS d_bar
    FROM terms2
),
s2 AS (
    SELECT g.m, g.d_bar,
           {fold('(d - g.d_bar) * (d - g.d_bar) / se2')} AS s_stat
    FROM terms2 CROSS JOIN g
    GROUP BY g.m, g.d_bar
),
cfac AS (
    SELECT m, d_bar, s_stat,
           CASE WHEN m = 0 THEN NULL
                WHEN m <= 3 THEN 1.0
                WHEN s_stat = 0 THEN 0.0
                ELSE GREATEST(0.0, 1.0 - (m - 3.0) / s_stat)
           END AS c
    FROM s2
)
SELECT t.segment, CAST(t.n AS BIGINT) AS n,
       CASE WHEN t.d IS NULL THEN NULL
            ELSE {round_sql('t.d')} + 0.0 END AS raw_lift,
       CASE WHEN t.se2 IS NULL THEN NULL
            ELSE {round_sql('sqrt(t.se2)')} END AS se,
       {round_sql('f.d_bar')} + 0.0 AS grand_lift,
       {round_sql('f.c')} AS shrink_c,
       CASE WHEN t.d IS NULL THEN NULL
            ELSE {round_sql('f.d_bar + f.c * (t.d - f.d_bar)')} + 0.0
       END AS shrunk_lift
FROM terms2 t CROSS JOIN cfac f
"""


@register("james_stein_segment_lifts", _js_oracle)
def james_stein_segment_lifts(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Efron–Morris shrunk per-segment experiment lifts (the
    winner's-curse guard for subgroup readouts)."""
    from travel_data_pipeline_spark.queries_round10 import (
        ipw_strata,
        ipw_units,
    )

    units = ipw_units(spark, sf_dir)
    strata = ipw_strata(units)
    zero4 = F.lit(0).cast("decimal(38,4)")
    y28 = F.col("y").cast("decimal(28,2)")
    m2 = units.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == 1, y28 * F.col("y"))
              .otherwise(zero4)).alias("syy_t"),
        F.sum(F.when(F.col("arm") == 0, y28 * F.col("y"))
              .otherwise(zero4)).alias("syy_c"))
    s = strata.join(m2, "segment")
    n_t = F.col("n_t").cast("double")
    n_c = (F.col("n") - F.col("n_t")).cast("double")
    degenerate = (F.col("n_t") <= 1) | ((F.col("n") - F.col("n_t")) <= 1)
    d = (F.col("sy_t").cast("double") / n_t
         - F.col("sy_c").cast("double") / n_c)
    # multiply-through spelling (see the oracle comment): exact
    # decimal numerator, ONE double division per arm; the numerator
    # crosses 2^53 so it reaches double THROUGH ITS DECIMAL STRING
    # (correctly-rounded parse in both engines — direct decimal->
    # double casts diverged by an ulp)
    sy_t28 = F.col("sy_t").cast("decimal(28,2)")
    sy_c28 = F.col("sy_c").cast("decimal(28,2)")
    se2 = ((F.col("n_t") * F.col("syy_t") - sy_t28 * F.col("sy_t"))
           .cast("string").cast("double")
           / (n_t * n_t * (n_t - F.lit(1.0)))
           + ((F.col("n") - F.col("n_t")) * F.col("syy_c")
              - sy_c28 * F.col("sy_c")).cast("string").cast("double")
           / (n_c * n_c * (n_c - F.lit(1.0))))
    nulld = F.lit(None).cast("double")
    # zero-variance strata (both arms constant) would put 0 in every
    # precision denominator (d/se2, 1/se2) — same NULL-and-drop
    # treatment as one-armed strata, in BOTH engines (review r08)
    degenerate = degenerate | (se2 == 0.0)
    terms = s.select(
        "segment", "n",
        F.when(degenerate, nulld).otherwise(d).alias("d"),
        F.when(degenerate, nulld).otherwise(se2).alias("se2"))
    keep = F.col("d").isNotNull()
    folded = terms.agg(
        F.count("d").alias("m"),
        F.array_sort(F.collect_list(F.when(keep, F.struct(
            "segment", "d", "se2")))).alias("ts"))
    nulld2 = F.lit(None).cast("double")
    # m == 0 (every stratum degenerate): the folds are empty — DuckDB
    # yields NULL naturally (NULL/NULL, fold of NULL list); branch
    # Spark to NULL instead of 0.0/0.0 = NaN (review r08)
    g = folded.select(
        "m", "ts",
        F.when(F.col("m") == 0, nulld2)
        .otherwise(ordered_fold("ts", lambda t: t["d"] / t["se2"])
                   / ordered_fold("ts", lambda t: F.lit(1.0) / t["se2"]))
        .alias("d_bar"))
    s2 = g.select(
        "m", "d_bar",
        F.when(F.col("m") == 0, nulld2)
        .otherwise(ordered_fold(
            "ts", lambda t: (t["d"] - F.col("d_bar"))
            * (t["d"] - F.col("d_bar")) / t["se2"])).alias("s_stat"))
    cfac = s2.select(
        "m", "d_bar", "s_stat",
        F.when(F.col("m") == 0, nulld2)
        .when(F.col("m") <= 3, F.lit(1.0))
        .when(F.col("s_stat") == 0, F.lit(0.0))
        .otherwise(F.greatest(
            F.lit(0.0),
            F.lit(1.0) - (F.col("m").cast("double") - F.lit(3.0))
            / F.col("s_stat"))).alias("c"))
    rnd0 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return (terms.crossJoin(F.broadcast(cfac))
            .select("segment", F.col("n").cast("long").alias("n"),
                    F.when(F.col("d").isNull(), nulld)
                    .otherwise(rnd0(F.col("d"))).alias("raw_lift"),
                    F.round(F.sqrt("se2"), 6).alias("se"),
                    rnd0(F.col("d_bar")).alias("grand_lift"),
                    F.round("c", 6).alias("shrink_c"),
                    F.when(F.col("d").isNull(), nulld)
                    .otherwise(rnd0(F.col("d_bar")
                                    + F.col("c")
                                    * (F.col("d") - F.col("d_bar"))))
                    .alias("shrunk_lift")))


# ---------------------------------------------------------------------------
# Placebo refutation of the experiment readout — the standard causal
# diagnostic: recompute the stratified ATE under k alternative
# (placebo) md5 treatment assignments that cannot correspond to any
# real intervention; a trustworthy pipeline reports the real estimate
# ALONGSIDE the placebo distribution (a real effect should stand out
# of it, and a "significant" placebo flags a broken split or leaky
# outcome). Reuses the parametrized ipw units/strata builders — each
# assignment is the identical estimator, only the salt differs.
#
# Scale shape: one orders->customer grouped pass per assignment
# (4 here — bounded by the seed list), each followed by bounded
# per-stratum folds. The assignments are independent branches of one
# union — Spark schedules them in parallel.
# ---------------------------------------------------------------------------

_PLACEBO_SALTS = (("real", "exp:"), ("placebo1", "plc1:"),
                  ("placebo2", "plc2:"), ("placebo3", "plc3:"))


def _placebo_oracle() -> str:
    from travel_data_pipeline_spark.queries_round10 import (
        ipw_units_strata_sql,
    )

    blocks = []
    for label, salt in _PLACEBO_SALTS:
        cte = ipw_units_strata_sql(salt, units_name=f"u_{label}",
                                   strata_name=f"s_{label}")
        blocks.append(f"""
SELECT '{label}' AS assignment,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(n_t) AS BIGINT) AS n_treat,
       {round_sql("list_reduce(list(CASE WHEN n_t = 0 OR n_t = n THEN NULL ELSE (CAST(n AS DOUBLE) / CAST((SELECT SUM(n) FROM s_{label}) AS DOUBLE)) * (CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE) - CAST(sy_c AS DOUBLE) / CAST(n - n_t AS DOUBLE)) END ORDER BY segment) FILTER (n_t > 0 AND n_t < n), (x, y) -> x + y)".format(label=label))} + 0.0
           AS ate
FROM s_{label}""")
    ctes = ",\n".join(ipw_units_strata_sql(salt,
                                           units_name=f"u_{label}",
                                           strata_name=f"s_{label}")
                      for label, salt in _PLACEBO_SALTS)
    return "WITH " + ctes + "\n" + "\nUNION ALL\n".join(blocks)


@register("ate_placebo_refutation", _placebo_oracle)
def ate_placebo_refutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified ATE under the real split plus 3 placebo splits."""
    from travel_data_pipeline_spark.queries_round10 import (
        ipw_strata,
        ipw_units,
    )

    outs = []
    for label, salt in _PLACEBO_SALTS:
        strata = ipw_strata(ipw_units(spark, sf_dir, salt=salt))
        tot = strata.agg(F.sum("n").alias("big_n"))
        one_armed = (F.col("n_t") == 0) | (F.col("n_t") == F.col("n"))
        term = (F.when(one_armed, F.lit(None).cast("double"))
                .otherwise((F.col("n").cast("double")
                            / F.col("big_n").cast("double"))
                           * (F.col("sy_t").cast("double")
                              / F.col("n_t").cast("double")
                              - F.col("sy_c").cast("double")
                              / (F.col("n") - F.col("n_t"))
                              .cast("double"))))
        keep = (F.col("n_t") > 0) & (F.col("n_t") < F.col("n"))
        outs.append(
            strata.crossJoin(F.broadcast(tot))
            .select("segment", "n", "n_t", term.alias("term"),
                    keep.alias("keep"))
            .agg(F.sum("n").cast("long").alias("n"),
                 F.sum("n_t").cast("long").alias("n_treat"),
                 F.array_sort(F.collect_list(F.when(
                     F.col("keep"),
                     F.struct("segment", "term")))).alias("ts"))
            .select(F.lit(label).alias("assignment"), "n", "n_treat",
                    # empty kept-fold -> NULL, matching DuckDB's
                    # list(...) FILTER semantics (review r08)
                    F.when(F.size("ts") == 0,
                           F.lit(None).cast("double"))
                    .otherwise(F.round(ordered_fold("ts", "term"), 6)
                               + F.lit(0.0)).alias("ate")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# Dedup scorecard — the composed readout of the dedup family (the
# eval_scorecard / pipeline_data_health precedent: several audits,
# one relation). One row per method — exact text keys, MinHash-LSH,
# SimHash, asymmetric containment, embedding-semantic (tau = 0.40
# from the registered threshold sweep) — each reporting candidate
# pair count, docs flagged for drop (the pair's larger id, the
# keep-earliest convention the sweep uses), and the corpus flag
# rate. Composed FROM the registered component queries so the
# scorecard can never drift from the individual audits; component
# oracles are wrapped AS MATERIALIZED (the DuckDB inlining rule).
#
# Scale shape: each component keeps its own audited shape (bucketed
# LSH, capped bands, one-pass rates); the scorecard adds only 1-row
# aggregates and a 5-row union.
# ---------------------------------------------------------------------------

_DS_TAU = 0.40


def _dedup_scorecard_oracle() -> str:
    from travel_data_pipeline_spark.registry import ORACLES

    def get(name: str) -> str:
        o = ORACLES[name]
        return o() if callable(o) else o

    rate = ("CAST({f} AS DOUBLE)"
            " / (SELECT CAST(n_docs AS DOUBLE) FROM tot)")
    return f"""
WITH rate_q AS MATERIALIZED (
{get("dedup_rate_by_source")}
),
mh_q AS MATERIALIZED (
{get("dedup_minhash_lsh")}
),
sh_q AS MATERIALIZED (
{get("simhash_near_pairs")}
),
ct_q AS MATERIALIZED (
{get("containment_pairs")}
),
sw_q AS MATERIALIZED (
{get("cosine_threshold_sweep")}
),
tot AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT 'exact' AS method, CAST(NULL AS BIGINT) AS n_pairs,
       CAST(SUM(n_dups) AS BIGINT) AS n_docs_flagged,
       {round_sql(rate.format(f='SUM(n_dups)'))} AS flag_rate
FROM rate_q
UNION ALL
SELECT 'minhash_lsh', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT doc_b) AS BIGINT),
       {round_sql(rate.format(f='COUNT(DISTINCT doc_b)'))}
FROM mh_q
UNION ALL
SELECT 'simhash', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT doc_b) AS BIGINT),
       {round_sql(rate.format(f='COUNT(DISTINCT doc_b)'))}
FROM sh_q
UNION ALL
SELECT 'containment', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT doc_b) AS BIGINT),
       {round_sql(rate.format(f='COUNT(DISTINCT doc_b)'))}
FROM ct_q
UNION ALL
SELECT 'semantic', CAST(n_pairs AS BIGINT),
       CAST(n_docs_dropped AS BIGINT), removal_share
FROM sw_q WHERE threshold = {_DS_TAU}
"""


@register("dedup_scorecard", _dedup_scorecard_oracle)
def dedup_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, n_pairs, n_docs_flagged, flag_rate) scorecard over the
    registered dedup audits.

    The LSH candidate relation is computed ONCE and shared between the
    minhash row and the containment component (VERDICT r08 #3):
    containment's internal build is exactly dedup_minhash_lsh, so the
    scorecard pins that output and injects it, halving the
    signature+banding work. Measured at sf0.01 (best-of-3 warm):
    build+exec 4.5+1.7s before -> 3.5+1.7s after (~16% total).

    The containment consumer re-joins the injected lsh_pairs against
    the shingle relation embedded in its own lineage, so an eager leaf
    (r15 A/B)."""
    from travel_data_pipeline_spark.queries_northstar import (
        containment_pairs,
        dedup_minhash_lsh,
        dedup_rate_by_source,
        simhash_near_pairs,
    )
    from travel_data_pipeline_spark.queries_round9 import (
        cosine_threshold_sweep,
    )

    tot = (load_table(spark, sf_dir, "documents")
           .agg(F.count("*").alias("n_docs")))
    nulll = F.lit(None).cast("long")

    def pair_row(df: DataFrame, method: str) -> DataFrame:
        return (df.agg(F.count("*").alias("n_pairs"),
                       F.countDistinct("doc_b").alias("n_flagged"))
                .crossJoin(F.broadcast(tot))
                .select(F.lit(method).alias("method"),
                        F.col("n_pairs").cast("long").alias("n_pairs"),
                        F.col("n_flagged").cast("long")
                        .alias("n_docs_flagged"),
                        F.round(F.col("n_flagged").cast("double")
                                / F.col("n_docs").cast("double"), 6)
                        .alias("flag_rate")))

    exact = (dedup_rate_by_source(spark, sf_dir)
             .agg(F.sum("n_dups").alias("n_flagged"))
             .crossJoin(F.broadcast(tot))
             .select(F.lit("exact").alias("method"),
                     nulll.alias("n_pairs"),
                     F.col("n_flagged").cast("long")
                     .alias("n_docs_flagged"),
                     F.round(F.col("n_flagged").cast("double")
                             / F.col("n_docs").cast("double"), 6)
                     .alias("flag_rate")))
    lsh_pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True)
    mh = pair_row(lsh_pairs, "minhash_lsh")
    sh = pair_row(simhash_near_pairs(spark, sf_dir), "simhash")
    ct = pair_row(containment_pairs(spark, sf_dir, pairs=lsh_pairs),
                  "containment")
    sem = (cosine_threshold_sweep(spark, sf_dir)
           .filter(F.col("threshold") == _DS_TAU)
           .select(F.lit("semantic").alias("method"),
                   F.col("n_pairs").cast("long").alias("n_pairs"),
                   F.col("n_docs_dropped").cast("long")
                   .alias("n_docs_flagged"),
                   F.col("removal_share").alias("flag_rate")))
    return (exact.unionByName(mh).unionByName(sh)
            .unionByName(ct).unionByName(sem))


# ---------------------------------------------------------------------------
# Poisson-bootstrap CI for the stratified ATE — the uncertainty
# readout the causal family lacked: ipw/aipw give point estimates,
# this gives the sampling band. Chamandy-style distributed bootstrap
# (the poisson_bootstrap_ci machinery — python-literal Poisson(1)
# CDF thresholds over md5 uniforms, so both engines draw identical
# weights), applied at the RANDOMIZATION UNIT (the customer — whole
# units resample together, never their orders separately): each of
# B = 32 replicates reweights the per-stratum moments and re-folds
# the stratified ATE; the band is the rank-4 / rank-29 replicate
# (central ~81%), the SE an exact-moment fold of the 6-dp-rounded
# replicate ATEs.
#
# Scale shape: units are one orders->customer grouped pass; the
# B-fold cross is the bootstrap's documented cost (|customers| x 32
# rows, one shuffle to (b, segment) cells); everything after runs on
# B x |segments| rows.
# ---------------------------------------------------------------------------

_ATE_B = 32
_ATE_LO_RANK, _ATE_HI_RANK = 4, 29  # of 32: central ~81% band


def _ate_boot_oracle() -> str:
    from travel_data_pipeline_spark.queries_round10 import (
        IPW_UNITS_STRATA_SQL,
    )
    from travel_data_pipeline_spark.queries_round9 import (
        _BOOT_SCALE,
        _boot_weight_sql,
    )

    wt = _boot_weight_sql(
        md5_long_sql("'bate:' || CAST(r.b AS VARCHAR) || ':' "
                     "|| CAST(u.c_custkey AS VARCHAR)")
        + f" / {_BOOT_SCALE!r}")
    term = ("CASE WHEN ntw = 0 OR nw - ntw = 0 THEN NULL "
            "ELSE (CAST(nw AS DOUBLE) / CAST(tw.bign AS DOUBLE)) "
            "* (CAST(sytw AS DOUBLE) / CAST(ntw AS DOUBLE) "
            "- CAST(sycw AS DOUBLE) / CAST(nw - ntw AS DOUBLE)) END")
    pt_term = ("CASE WHEN n_t = 0 OR n_t = n THEN NULL "
               "ELSE (CAST(n AS DOUBLE) "
               "/ CAST((SELECT SUM(n) FROM strata) AS DOUBLE)) "
               "* (CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE) "
               "- CAST(sy_c AS DOUBLE) / CAST(n - n_t AS DOUBLE)) END")
    return f"""
WITH {IPW_UNITS_STRATA_SQL},
reps AS (SELECT unnest(generate_series(0, {_ATE_B - 1})) AS b),
wtd AS (
    SELECT r.b, u.segment, u.arm, u.y, {wt} AS wt
    FROM units u CROSS JOIN reps r
),
cells AS (
    SELECT b, segment, SUM(wt) AS nw,
           SUM(CASE WHEN arm = 1 THEN wt ELSE 0 END) AS ntw,
           SUM(CASE WHEN arm = 1 THEN wt * y
                    ELSE CAST(0 AS DECIMAL(28,2)) END) AS sytw,
           SUM(CASE WHEN arm = 0 THEN wt * y
                    ELSE CAST(0 AS DECIMAL(28,2)) END) AS sycw
    FROM wtd GROUP BY b, segment
),
totw AS (SELECT b, SUM(nw) AS bign FROM cells GROUP BY b),
rep_ates AS (
    SELECT c.b,
           list_reduce(list({term} ORDER BY segment)
               FILTER (ntw > 0 AND nw - ntw > 0), (x, y) -> x + y)
               AS ate
    FROM cells c JOIN totw tw ON tw.b = c.b
    GROUP BY c.b, tw.bign
),
ranked AS (
    -- parity rounding spelling on the dirty double (repo rule:
    -- nested rounds in oracle SQL each use round_sql; review r08)
    SELECT b, CAST({round_sql('ate')} AS DECIMAL(18,6)) AS m,
           ROW_NUMBER() OVER (ORDER BY ate, b) AS rn
    FROM rep_ates WHERE ate IS NOT NULL
),
boot AS (
    SELECT count(*) AS n_reps, SUM(m) AS sm,
           SUM(CAST(m AS DECIMAL(19,6)) * m) AS smm,
           MAX(CASE WHEN rn = {_ATE_LO_RANK} THEN CAST(m AS DOUBLE) END)
               AS lo,
           MAX(CASE WHEN rn = {_ATE_HI_RANK} THEN CAST(m AS DOUBLE) END)
               AS hi
    FROM ranked
),
pt AS (
    SELECT SUM(n) AS n_units,
           list_reduce(list({pt_term} ORDER BY segment)
               FILTER (n_t > 0 AND n_t < n), (x, y) -> x + y)
               AS point_ate
    FROM strata
)
SELECT CAST(p.n_units AS BIGINT) AS n_units,
       CASE WHEN p.point_ate IS NULL THEN NULL
            ELSE {round_sql('p.point_ate')} + 0.0 END AS point_ate,
       CAST(b.n_reps AS BIGINT) AS n_reps,
       {round_sql('b.lo')} + 0.0 AS boot_lo,
       {round_sql('b.hi')} + 0.0 AS boot_hi,
       {round_sql("sqrt(GREATEST((CAST(CAST(b.smm AS VARCHAR) AS DOUBLE)"
                  " - CAST(CAST(b.sm AS VARCHAR) AS DOUBLE)"
                  " * CAST(CAST(b.sm AS VARCHAR) AS DOUBLE)"
                  " / b.n_reps) / (b.n_reps - 1), 0.0))")} AS boot_se
FROM pt p CROSS JOIN boot b
"""


@register("ate_bootstrap_ci", _ate_boot_oracle)
def ate_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{B}-replicate Poisson-bootstrap band + SE for the stratified
    ATE (units resampled at the customer level)."""
    from travel_data_pipeline_spark.functions.hashing import md5_long
    from travel_data_pipeline_spark.queries_round10 import (
        ipw_strata,
        ipw_units,
    )
    from travel_data_pipeline_spark.queries_round9 import (
        _BOOT_CDF,
        _BOOT_SCALE,
    )

    units = ipw_units(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "c_custkey")
    reps = spark.range(_ATE_B).select(F.col("id").cast("int").alias("b"))
    u = (md5_long(F.concat(F.lit("bate:"), F.col("b").cast("string"),
                           F.lit(":"), F.col("c_custkey").cast("string")))
         / F.lit(_BOOT_SCALE))
    wt = F.lit(5)
    for k in range(len(_BOOT_CDF) - 1, -1, -1):
        wt = F.when(u < _BOOT_CDF[k], k).otherwise(wt)
    zero28 = F.lit(0).cast("decimal(28,2)")
    wtd = (units.crossJoin(F.broadcast(reps))
           .select("b", "segment", "arm", wt.alias("wt"),
                   (wt * F.col("y")).alias("wy")))
    cells = wtd.groupBy("b", "segment").agg(
        F.sum("wt").alias("nw"),
        F.sum(F.when(F.col("arm") == 1, F.col("wt")).otherwise(0))
        .alias("ntw"),
        F.sum(F.when(F.col("arm") == 1, F.col("wy")).otherwise(zero28))
        .alias("sytw"),
        F.sum(F.when(F.col("arm") == 0, F.col("wy")).otherwise(zero28))
        .alias("sycw"))
    totw = cells.groupBy("b").agg(F.sum("nw").alias("bign"))
    one_armed = (F.col("ntw") == 0) | (F.col("nw") - F.col("ntw") == 0)
    term = (F.when(one_armed, F.lit(None).cast("double"))
            .otherwise((F.col("nw").cast("double")
                        / F.col("bign").cast("double"))
                       * (F.col("sytw").cast("double")
                          / F.col("ntw").cast("double")
                          - F.col("sycw").cast("double")
                          / (F.col("nw") - F.col("ntw"))
                          .cast("double"))))
    keep = ~one_armed
    rep_ates = (cells.join(totw, "b")
                .select("b", "segment", term.alias("term"),
                        keep.alias("keep"))
                .groupBy("b")
                .agg(F.array_sort(F.collect_list(F.when(
                    F.col("keep"),
                    F.struct("segment", "term")))).alias("ts"))
                .select("b", F.when(
                    F.size("ts") == 0, F.lit(None).cast("double"))
                    .otherwise(ordered_fold("ts", "term")).alias("ate"))
                .filter(F.col("ate").isNotNull()))
    wr = Window.orderBy(F.col("ate").asc(), F.col("b").asc())
    ranked = rep_ates.select(
        F.round("ate", 6).cast("decimal(18,6)").alias("m"),
        F.row_number().over(wr).alias("rn"))
    boot = ranked.agg(
        F.count("*").alias("n_reps"), F.sum("m").alias("sm"),
        F.sum(F.col("m").cast("decimal(19,6)") * F.col("m"))
        .alias("smm"),
        F.max(F.when(F.col("rn") == _ATE_LO_RANK,
                     F.col("m").cast("double"))).alias("lo"),
        F.max(F.when(F.col("rn") == _ATE_HI_RANK,
                     F.col("m").cast("double"))).alias("hi"))
    strata = ipw_strata(units)
    tot = strata.agg(F.sum("n").alias("bign"))
    pt_one_armed = (F.col("n_t") == 0) | (F.col("n_t") == F.col("n"))
    pt_term = (F.when(pt_one_armed, F.lit(None).cast("double"))
               .otherwise((F.col("n").cast("double")
                           / F.col("bign").cast("double"))
                          * (F.col("sy_t").cast("double")
                             / F.col("n_t").cast("double")
                             - F.col("sy_c").cast("double")
                             / (F.col("n") - F.col("n_t"))
                             .cast("double"))))
    pt = (strata.crossJoin(F.broadcast(tot))
          .select("segment", "n", pt_term.alias("term"),
                  (~pt_one_armed).alias("keep"))
          .agg(F.sum("n").alias("n_units"),
               F.array_sort(F.collect_list(F.when(
                   F.col("keep"),
                   F.struct("segment", "term")))).alias("ts"))
          .select(F.col("n_units").cast("long").alias("n_units"),
                  F.when(F.size("ts") == 0,
                         F.lit(None).cast("double"))
                  .otherwise(ordered_fold("ts", "term"))
                  .alias("point_ate")))
    # sm/smm scale-12 decimals cross 2^53 — string-bridge the casts
    # (parity.py magnitude hazard; review r08)
    se = F.sqrt(F.greatest(
        (F.col("smm").cast("string").cast("double")
         - F.col("sm").cast("string").cast("double")
         * F.col("sm").cast("string").cast("double")
         / F.col("n_reps")) / (F.col("n_reps") - 1), F.lit(0.0)))
    return (pt.crossJoin(F.broadcast(boot))
            .select("n_units",
                    F.when(F.col("point_ate").isNull(),
                           F.lit(None).cast("double"))
                    .otherwise(F.round("point_ate", 6) + F.lit(0.0))
                    .alias("point_ate"),
                    F.col("n_reps").cast("long").alias("n_reps"),
                    (F.round("lo", 6) + F.lit(0.0)).alias("boot_lo"),
                    (F.round("hi", 6) + F.lit(0.0)).alias("boot_hi"),
                    F.round(se, 6).alias("boot_se")))
