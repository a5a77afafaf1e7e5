"""Round-15 candidate queries (written in round 10) — survival,
calibration-fitting, link-analysis, and local-DP layers:

- nelson_aalen_hazard: the Nelson-Aalen cumulative-hazard estimator
  over the SAME lifetime/censoring relation as kaplan_meier_lifetime
  (Aalen 1978, public) — H(t) = sum_{t_i<=t} d_i/n_i with its
  variance sum d_i/n_i^2 and the Fleming-Harrington survival
  exp(-H(t)).  KM multiplies survival factors; NA sums hazard
  increments — distinct estimator, shared step relation.
- isotonic_calibration_bins: weighted isotonic (PAVA) fit of the
  frozen quality scorer's reliability bins via the minimax closed
  form iso(i) = max_{j<=i} min_{k>=i} wavg(rate, bins j..k)
  (Barlow et al. 1972, public) — no iteration, no driver loop: the
  bin relation is <= 10 rows, so the (j, k) interval enumeration is
  a bounded broadcast relation regardless of corpus size.
- hits_supplier_part: Kleinberg HITS (1999, public) hub/authority
  power iteration over the bipartite supplier->part purchase graph,
  3 iterations, MAX-normalized (max is order-free exact — no global
  float-sum hazard), every neighbor sum a position-sorted fold
  (copurchase_pagerank discipline).
- randomized_response_debias: Warner randomized response (1965,
  public) — each event reports its high-value flag truthfully with
  probability 3/4, else a fair md5 coin; the per-type debiased
  estimate (obs - 1/8) / (3/4 - 1/8)... spelled exactly as
  (obs_rate - q*(1-p_keep)) / p_keep with q = 1/2 — is audited
  against the true rate the mechanism hid.  The local-DP sibling of
  dp_noisy_event_counts (central DP).

Float discipline (registry.py docstring authoritative): all counts
are exact integers; hazard/iso/HITS doubles derive from integer or
pinned-fold inputs; every output rounds 6dp through parity.round_sql
on the DuckDB side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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

# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard.
#
# Shares kaplan_meier_lifetime's lifetime/censoring/step construction
# (queries_stats.py:821) — the estimator differs: instead of the
# product-limit survival, fold the hazard increments
#   H(t)   = sum_{t_i <= t} d_i / n_i          (cumulative hazard)
#   varH   = sum_{t_i <= t} d_i / n_i^2        (Aalen variance)
#   S_FH   = exp(-H(t))                        (Fleming-Harrington)
# Both cumsums are POSITION-PINNED array folds over the time-sorted
# step list (double addition re-parenthesization hazard — the
# two_phase_ordered cumsum restriction applies to window sums, so the
# bounded step relation folds in one sorted array instead).
#
# Scale shape: two grouped passes over events (per-user span, per-time
# deaths) + one bounded fold over the step relation (|distinct
# lifetimes| rows — day-grained, corpus-size-independent).
# ---------------------------------------------------------------------------


@register("nelson_aalen_hazard", f"""
WITH life AS MATERIALIZED (
    -- lifetime = ACTIVE-DAY COUNT, not first-to-last span: most users
    -- span the whole window, which left the step relation ~2 rows at
    -- driver SF and barely exercised the fold (ADVICE r10 #5); active
    -- days spread lifetimes across the full 1..30 support
    SELECT user_id,
           count(DISTINCT date_trunc('day', ts)) AS t,
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
    SELECT t, d,
           (SELECT count(*) FROM life)
             - COALESCE(SUM(d + c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS n_risk
    FROM byt
),
steps AS MATERIALIZED (
    SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk
    FROM risk WHERE d > 0
),
hfold AS (
    SELECT t, d, n_risk,
           {ordered_sum_sql("CAST(d2 AS DOUBLE) / n2", "t2")} AS h,
           {ordered_sum_sql("CAST(d2 AS DOUBLE) / (n2 * n2)", "t2")} AS vh
    FROM steps s
    JOIN (SELECT t AS t2, d AS d2, CAST(n_risk AS DOUBLE) AS n2
          FROM steps) i ON i.t2 <= s.t
    GROUP BY t, d, n_risk
)
SELECT CAST(t AS BIGINT) AS t, d, n_risk,
       {round_sql('h')} AS cum_hazard,
       {round_sql('vh')} AS var_hazard,
       {round_sql('exp(-h)')} AS fh_survival
FROM hfold
""")
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard (+ Aalen variance and the
    Fleming-Harrington survival exp(-H)) over user ACTIVE-DAY
    lifetimes — the counting-process sibling of
    kaplan_meier_lifetime."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    life = (ev.groupBy("user_id")
            .agg(F.countDistinct(day).alias("t"),
                 F.max(day).alias("last_d")))
    max_day = ev.agg(F.max(day).alias("max_d"))
    life = (life.crossJoin(F.broadcast(max_day))
            .select(F.col("t").cast("long").alias("t"),
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
    # one sorted fold carrying (h, vh) through the step list; the
    # per-t prefix is re-read from the accumulated array (exact same
    # addition order as the oracle's per-t sorted list_reduce)
    folded = steps.agg(F.array_sort(F.collect_list(
        F.struct("t", "d", "n_risk"))).alias("ss"))
    walk = F.aggregate(
        F.col("ss"),
        F.array().cast("array<struct<t:bigint,d:bigint,n_risk:bigint,"
                       "h:double,vh:double>>"),
        lambda acc, x: F.array_append(acc, F.struct(
            x["t"].alias("t"), x["d"].alias("d"),
            x["n_risk"].alias("n_risk"),
            (F.when(F.size(acc) == 0, F.lit(0.0))
              .otherwise(F.element_at(acc, -1)["h"])
             + x["d"].cast("double")
             / x["n_risk"].cast("double")).alias("h"),
            (F.when(F.size(acc) == 0, F.lit(0.0))
              .otherwise(F.element_at(acc, -1)["vh"])
             + x["d"].cast("double")
             / (x["n_risk"].cast("double")
                * x["n_risk"].cast("double"))).alias("vh"))))
    return (folded.select(F.explode(walk).alias("e"))
            .select(F.col("e.t").alias("t"), F.col("e.d").alias("d"),
                    F.col("e.n_risk").alias("n_risk"),
                    F.round(F.col("e.h"), 6).alias("cum_hazard"),
                    F.round(F.col("e.vh"), 6).alias("var_hazard"),
                    F.round(F.exp(-F.col("e.h")), 6).alias("fh_survival")))


# ---------------------------------------------------------------------------
# Isotonic calibration (PAVA) over the reliability bins.
#
# The weighted isotonic fit has the closed minimax form
#   iso(i) = max_{j<=i} min_{k>=i} Av(j, k),
#   Av(j, k) = sum_{b=j..k} n_pos_b / sum_{b=j..k} n_b
# (Barlow/Bartholomew/Bremner/Brunk 1972) — equal to the PAVA
# pool-adjacent-violators result, but expressible as three bounded
# relational passes instead of a sequential pooling loop.  Every
# Av is ONE division of exact integer sums, so min/max over them are
# order-free and the whole fit is engine-deterministic.
#
# Scale shape: the corpus scan lives inside calibration_binned (shared
# with cdf_calibration_bins); everything after runs on <= 10 bins ->
# <= 55 intervals -> <= 550 (i, j) cells — broadcast-sized at any
# corpus scale.
# ---------------------------------------------------------------------------

def _iso_oracle() -> str:
    # lazy import: queries_round8 imports the registry, which imports
    # this module — a module-level import here would break any
    # consumer that imports queries_round8 FIRST (the round-5
    # test_affinity-first collection bug class)
    from travel_data_pipeline_spark.queries_round8 import CAL_PROBS_SQL

    return f"""
WITH {CAL_PROBS_SQL},
b AS (
    SELECT bin, n, n_pos,
           row_number() OVER (ORDER BY bin) AS rn
    FROM cal_binned
),
iv AS (
    SELECT j.rn AS jrn, k.rn AS krn,
           SUM(x.n) AS n_sum, SUM(x.n_pos) AS pos_sum
    FROM b j JOIN b k ON j.rn <= k.rn
    JOIN b x ON x.rn BETWEEN j.rn AND k.rn
    GROUP BY j.rn, k.rn
),
minmat AS (
    SELECT i.rn AS irn, v.jrn,
           MIN(CAST(v.pos_sum AS DOUBLE) / v.n_sum) AS min_av
    FROM b i JOIN iv v ON v.jrn <= i.rn AND v.krn >= i.rn
    GROUP BY i.rn, v.jrn
),
iso AS (SELECT irn, MAX(min_av) AS iso_v FROM minmat GROUP BY irn)
SELECT CAST(b.bin AS INT) AS bin, CAST(b.n AS BIGINT) AS n,
       {round_sql('b.n_pos / CAST(b.n AS DOUBLE)')} AS pos_rate,
       {round_sql('iso.iso_v')} AS iso_rate
FROM b JOIN iso ON iso.irn = b.rn
"""


@register("isotonic_calibration_bins", _iso_oracle)
def isotonic_calibration_bins(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Weighted isotonic (PAVA) calibration fit of the frozen quality
    scorer's reliability bins, via the minimax closed form — the
    monotone recalibration map a production scorer would serve."""
    from pyspark.sql import Window

    from travel_data_pipeline_spark.queries_round8 import (
        calibration_binned,
    )

    binned = calibration_binned(spark, sf_dir)
    # <= 10 rows from here down: the single-partition window is a
    # bounded global op (conformal_interval_coverage precedent)
    b = binned.select(
        "bin", "n", "n_pos",
        F.row_number().over(Window.orderBy("bin")).alias("rn"))
    bj = b.select(F.col("rn").alias("jrn"))
    bk = b.select(F.col("rn").alias("krn"))
    bx = b.select(F.col("rn").alias("xrn"), F.col("n").alias("xn"),
                  F.col("n_pos").alias("xpos"))
    iv = (bj.join(bk, F.col("jrn") <= F.col("krn"))
          .join(bx, (F.col("xrn") >= F.col("jrn"))
                & (F.col("xrn") <= F.col("krn")))
          .groupBy("jrn", "krn")
          .agg(F.sum("xn").alias("n_sum"),
               F.sum("xpos").alias("pos_sum")))
    bi = b.select(F.col("rn").alias("irn"))
    minmat = (bi.join(iv, (F.col("jrn") <= F.col("irn"))
                      & (F.col("krn") >= F.col("irn")))
              .groupBy("irn", "jrn")
              .agg(F.min(F.col("pos_sum").cast("double")
                         / F.col("n_sum")).alias("min_av")))
    iso = minmat.groupBy("irn").agg(F.max("min_av").alias("iso_v"))
    return (b.join(iso, b.rn == iso.irn)
            .select(F.col("bin").cast("int").alias("bin"),
                    F.col("n").cast("long").alias("n"),
                    F.round(F.col("n_pos")
                            / F.col("n").cast("double"), 6)
                    .alias("pos_rate"),
                    F.round(F.col("iso_v"), 6).alias("iso_rate")))


# ---------------------------------------------------------------------------
# HITS hubs/authorities over the bipartite supplier -> part graph.
#
# Edges (l_suppkey, l_partkey, w = lineitem count); 3 iterations of
#   auth(p) = sum_s w * hub(s);   hub(s) = sum_p w * auth(p)
# each MAX-normalized (max of exact-derivation doubles is order-free,
# unlike an L2/L1 norm's global float sum).  Neighbor sums are
# position-sorted folds (copurchase_pagerank discipline) so the result
# is bitwise-stable under any partitioning.
#
# Scale shape: the edge build is one grouped pass over lineitem; each
# iteration is two key-partitioned joins + folds over the (bounded
# per-node degree) adjacency — Pregel's shape; the edge relation is
# checkpointed once and reused by all iterations.
# ---------------------------------------------------------------------------

_HITS_ITER = 3


def _hits_oracle() -> str:
    iters = []
    prev_h = "h0"
    prev_a = None
    for t in range(1, _HITS_ITER + 1):
        iters.append(f"""
ar{t} AS MATERIALIZED (
    SELECT e.p AS node,
           {ordered_sum_sql(f"e.w * {prev_h}.v", "e.s")} AS r
    FROM edges e JOIN {prev_h} ON {prev_h}.node = e.s
    GROUP BY e.p
),
am{t} AS (SELECT MAX(r) AS m FROM ar{t}),
a{t} AS MATERIALIZED (SELECT node, r / m AS v FROM ar{t} CROSS JOIN am{t}),
hr{t} AS MATERIALIZED (
    SELECT e.s AS node,
           {ordered_sum_sql(f"e.w * a{t}.v", "e.p")} AS r
    FROM edges e JOIN a{t} ON a{t}.node = e.p
    GROUP BY e.s
),
hm{t} AS (SELECT MAX(r) AS m FROM hr{t}),
h{t} AS MATERIALIZED (SELECT node, r / m AS v FROM hr{t} CROSS JOIN hm{t})""")
        prev_h = f"h{t}"
        prev_a = f"a{t}"
    return f"""
WITH edges AS MATERIALIZED (
    SELECT l_suppkey AS s, l_partkey AS p,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM lineitem GROUP BY 1, 2
),
h0 AS (SELECT DISTINCT s AS node, 1.0 AS v FROM edges),
{','.join(iters)}
SELECT 'hub' AS role, node AS node_id,
       {round_sql('v')} AS score FROM {prev_h}
UNION ALL
SELECT 'authority' AS role, node AS node_id,
       {round_sql('v')} AS score FROM {prev_a}
"""


def hits_from_edges(spark: SparkSession, edges: DataFrame,
                    n_iter: int = _HITS_ITER,
                    iter_seconds: list | None = None) -> DataFrame:
    """The HITS power-iteration body over an (s, p, w) edge relation —
    factored out so tools/stress_hits.py can drive the REGISTERED code
    path at a synthetic 10M-edge graph (VERDICT r10 #5).

    ``iter_seconds``, when a list, receives one wall-clock float per
    iteration (each iteration ends on its eager hub-side checkpoint,
    so the measurement brackets real work, not lazy plan building) —
    flat values certify the lag-1 materialization pattern keeps
    lineage from re-growing across iterations.

    Edges and each per-iteration raw-score relation are re-joined
    against their own lineage, so each is an eager leaf (r15 A/B).
    """
    import time as _time

    n_part = spark.sparkContext.defaultParallelism
    edges = edges.repartition(n_part, "p").localCheckpoint(eager=True)
    hub = edges.select("s").distinct().select(
        F.col("s").alias("node"), F.lit(1.0).alias("v"))
    auth = None
    for _ in range(n_iter):
        t0 = _time.perf_counter()
        # each raw-score relation feeds BOTH its max normalizer and
        # the normalized output — without a pin the plan
        # doubles per normalization (2^6 re-derivations; the same
        # value+max double-reference the oracle needed MATERIALIZED
        # for; plan audit read 660 exchanges before this)
        ar = (edges.join(hub, edges.s == hub.node)
              .groupBy(edges.p.alias("node"))
              .agg(ordered_sum(edges.w * F.col("v"), edges.s.alias("s"))
                   .alias("r"))
              .localCheckpoint(eager=True))
        am = ar.agg(F.max("r").alias("m"))
        auth = (ar.crossJoin(F.broadcast(am))
                .select("node", (F.col("r") / F.col("m")).alias("v")))
        hr = (edges.join(auth, edges.p == auth.node)
              .groupBy(edges.s.alias("node"))
              .agg(ordered_sum(edges.w * F.col("v"), edges.p.alias("p"))
                   .alias("r"))
              .localCheckpoint(eager=True))
        hm = hr.agg(F.max("r").alias("m"))
        hub = (hr.crossJoin(F.broadcast(hm))
               .select("node", (F.col("r") / F.col("m")).alias("v")))
        if iter_seconds is not None:
            iter_seconds.append(_time.perf_counter() - t0)
    return (hub.select(F.lit("hub").alias("role"),
                       F.col("node").alias("node_id"),
                       F.round("v", 6).alias("score"))
            .unionByName(
                auth.select(F.lit("authority").alias("role"),
                            F.col("node").alias("node_id"),
                            F.round("v", 6).alias("score"))))


@register("hits_supplier_part", _hits_oracle())
def hits_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration max-normalized HITS over the supplier->part
    purchase graph: hub suppliers stock the authoritative parts."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = (li.groupBy(F.col("l_suppkey").alias("s"),
                        F.col("l_partkey").alias("p"))
             .agg(F.count("*").cast("double").alias("w")))
    return hits_from_edges(spark, edges)


# ---------------------------------------------------------------------------
# Randomized-response debiasing (local DP).
#
# Mechanism (per event): with p_keep = 3/4 report the TRUE
# high-value flag (value > 50), else report a fair coin — both
# branches driven by md5 uniforms so the two engines (and any replay)
# produce the identical privatized stream.  Per event type the
# debiased estimate of the true rate is
#   pi_hat = (obs_rate - (1 - p_keep) * 1/2) / p_keep
# and the audit reports it against the true rate the mechanism hid.
#
# Scale shape: pure projection + one grouped pass (5 output rows);
# the privatized column is exactly what a 100 TB pipeline would
# persist — the audit certifies the debiasing arithmetic on top.
# ---------------------------------------------------------------------------

_RR_KEEP_NUM, _RR_KEEP_DEN = 3, 4  # p_keep = 3/4
_RR_THRESH = 50.0


@register("randomized_response_debias", f"""
WITH flags AS (
    SELECT event_type,
           CASE WHEN value > {_RR_THRESH!r} THEN 1 ELSE 0 END AS truth,
           {md5_long_sql("'rrkeep:' || CAST(event_id AS VARCHAR)")}
             % {_RR_KEEP_DEN} AS keep_bucket,
           {md5_long_sql("'rrcoin:' || CAST(event_id AS VARCHAR)")}
             % 2 AS coin
    FROM events
),
reported AS (
    SELECT event_type, truth,
           CASE WHEN keep_bucket < {_RR_KEEP_NUM} THEN truth
                ELSE coin END AS report
    FROM flags
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(truth) AS BIGINT) AS n_true,
       CAST(SUM(report) AS BIGINT) AS n_reported,
       {round_sql('SUM(truth) / CAST(COUNT(*) AS DOUBLE)')} AS true_rate,
       {round_sql(f'''(SUM(report) / CAST(COUNT(*) AS DOUBLE)
            - (1.0 - {_RR_KEEP_NUM}.0 / {_RR_KEEP_DEN}.0) * 0.5)
           / ({_RR_KEEP_NUM}.0 / {_RR_KEEP_DEN}.0)''')} AS debiased_rate
FROM reported GROUP BY event_type
""")
def randomized_response_debias(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Warner randomized response over the high-value event flag:
    privatize with p_keep=3/4 + md5 fair coin, then debias the
    per-type rate — the local-DP sibling of dp_noisy_event_counts."""
    ev = load_table(spark, sf_dir, "events")
    truth = F.when(F.col("value") > _RR_THRESH, 1).otherwise(0)
    keep = (md5_long(F.concat(F.lit("rrkeep:"),
                              F.col("event_id").cast("string")))
            % _RR_KEEP_DEN)
    coin = (md5_long(F.concat(F.lit("rrcoin:"),
                              F.col("event_id").cast("string"))) % 2)
    rep = F.when(keep < _RR_KEEP_NUM, truth).otherwise(coin)
    p_keep = _RR_KEEP_NUM / _RR_KEEP_DEN
    flags = ev.select("event_type", truth.alias("truth"),
                      rep.alias("report"))
    obs_rate = F.sum("report") / F.count("*").cast("double")
    return (flags.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("truth").cast("long").alias("n_true"),
                 F.sum("report").cast("long").alias("n_reported"),
                 F.round(F.sum("truth")
                         / F.count("*").cast("double"), 6)
                 .alias("true_rate"),
                 F.round((obs_rate - F.lit((1.0 - p_keep) * 0.5))
                         / F.lit(p_keep), 6).alias("debiased_rate")))


# ---------------------------------------------------------------------------
# SAX symbolic motifs over the daily event-count series.
#
# Classic SAX (Lin/Keogh/Lonardi/Chiu 2003, public): z-normalize the
# daily counts against the series' own mean/std (the cusum moment
# spelling), PAA-average over _SAX_W-day frames, discretize with the
# standard N(0,1) quartile breakpoints (python literals), slide a
# _SAX_L-symbol word over consecutive frames, and report every word
# occurring >= 2 times (a motif) with its support.
#
# Exactness: daily counts and frame sums are integers; mean/std/PAA/z
# are one shared expression tree; breakpoint comparisons are against
# repr literals; word assembly is pure string concat.
#
# Scale shape: one grouped pass over events -> day grain; everything
# after runs on |days| rows (corpus-size-independent).
# ---------------------------------------------------------------------------



def _dlit_s(v) -> str:
    """_dlit for values already held as repr strings OR floats: bare
    numeric literals are DECIMAL in DuckDB and convert to double
    ulp-off in arithmetic contexts (code-review r10 hardening — the
    current constants happen to convert exactly, but the rule is
    bare-literal-free oracle float arithmetic)."""
    r = v if isinstance(v, str) else repr(float(v))
    return f"CAST('{r}' AS DOUBLE)"


_SAX_W = 2        # days per PAA frame (30-day grid -> 15 frames)
_SAX_L = 3        # symbols per word
# N(0,1) tercile breakpoints for a 3-letter alphabet (python-computed
# literals shared verbatim by both engines)
_SAX_B1, _SAX_B2 = -0.4307272992954576, 0.4307272992954576

_SAX_VAR = ("(CAST(ss AS DOUBLE)"
            " - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            " / CAST(n AS DOUBLE))")
_SAX_SYM = (f"CASE WHEN z < CAST('{_SAX_B1!r}' AS DOUBLE) THEN 'a'"
            f" WHEN z < CAST('{_SAX_B2!r}' AS DOUBLE) THEN 'b'"
            f" ELSE 'c' END")


@register("sax_daily_motifs", f"""
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, count(*) AS cnt
    FROM events GROUP BY 1
),
idx AS (
    SELECT cnt, row_number() OVER (ORDER BY day) - 1 AS i FROM daily
),
mom AS (SELECT count(*) AS n, sum(cnt) AS s, sum(cnt * cnt) AS ss
        FROM daily),
frames AS (
    SELECT CAST(floor(i / {_SAX_W}) AS INT) AS f,
           SUM(cnt) AS fsum, COUNT(*) AS fn
    FROM idx GROUP BY 1
    HAVING COUNT(*) = {_SAX_W}
),
z AS (
    SELECT f,
           (CAST(fsum AS DOUBLE) / fn - CAST(s AS DOUBLE) / n)
             / sqrt({_SAX_VAR} / (CAST(n AS DOUBLE) - 1.0)) AS z
    FROM frames CROSS JOIN mom
),
sym AS (SELECT f, {_SAX_SYM} AS c FROM z),
words AS (
    SELECT a.f AS start_f, a.c || b.c || d.c AS word
    FROM sym a JOIN sym b ON b.f = a.f + 1
    JOIN sym d ON d.f = a.f + 2
)
SELECT word,
       CAST(COUNT(*) AS BIGINT) AS support,
       CAST(COUNT(*) >= 2 AS INT) AS is_motif,
       CAST(MIN(start_f) AS INT) AS first_frame,
       CAST(MAX(start_f) AS INT) AS last_frame
FROM words GROUP BY word
""")
def sax_daily_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-discretize the daily event counts (2-day PAA frames,
    3-letter tercile alphabet) and report every 3-symbol word with its
    support and a motif flag (support >= 2) — symbolic motif
    discovery, the cheap sibling of matrix_profile_motifs."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
             .agg(F.count("*").alias("cnt")))
    # |days| rows: bounded single-partition window (documented)
    idx = daily.select(
        "cnt", (F.row_number().over(Window.orderBy("day")) - 1).alias("i"))
    mom = daily.agg(F.count("*").alias("n"), F.sum("cnt").alias("s"),
                    F.sum(F.col("cnt") * F.col("cnt")).alias("ss"))
    frames = (idx.groupBy(F.floor(F.col("i") / _SAX_W).cast("int")
                          .alias("f"))
              .agg(F.sum("cnt").alias("fsum"), F.count("*").alias("fn"))
              .filter(F.col("fn") == _SAX_W))
    var = (F.col("ss").cast("double")
           - F.col("s").cast("double") * F.col("s").cast("double")
           / F.col("n").cast("double"))
    z = (frames.crossJoin(F.broadcast(mom))
         .select("f", ((F.col("fsum").cast("double") / F.col("fn")
                        - F.col("s").cast("double") / F.col("n"))
                       / F.sqrt(var / (F.col("n").cast("double") - 1.0)))
                 .alias("z")))
    sym = z.select("f", F.when(F.col("z") < _SAX_B1, "a")
                   .when(F.col("z") < _SAX_B2, "b")
                   .otherwise("c").alias("c"))
    a, b, d = sym.alias("a"), sym.alias("b"), sym.alias("d")
    words = (a.join(b, F.col("b.f") == F.col("a.f") + 1)
             .join(d, F.col("d.f") == F.col("a.f") + 2)
             .select(F.col("a.f").alias("start_f"),
                     F.concat(F.col("a.c"), F.col("b.c"),
                              F.col("d.c")).alias("word")))
    return (words.groupBy("word")
            .agg(F.count("*").cast("long").alias("support"),
                 (F.count("*") >= 2).cast("int").alias("is_motif"),
                 F.min("start_f").cast("int").alias("first_frame"),
                 F.max("start_f").cast("int").alias("last_frame")))


# ---------------------------------------------------------------------------
# Rank-biased overlap between two part rankings.
#
# RBO (Webber/Moffat/Zobel 2010, public) at persistence p over the
# top-D prefixes of two rankings of the same universe:
#   RBO@D = (1 - p) * sum_{d=1..D} p^(d-1) * |X_d ∩ Y_d| / d
# Rankings: parts by total revenue vs parts by total ship quantity
# (ties broken by partkey — fully deterministic).  The p^(d-1)
# weights are python-computed literals shared by both engines; the
# per-depth sum folds in depth order.
#
# Scale shape: two grouped passes over lineitem, two top-D TakeOrdered
# (D = 20); everything after runs on <= D^2 broadcast rows.
# ---------------------------------------------------------------------------

_RBO_P = 0.9
_RBO_D = 20
_RBO_W = [(d, repr((1 - _RBO_P) * _RBO_P ** (d - 1)))
          for d in range(1, _RBO_D + 1)]


def _rbo_oracle() -> str:
    w_rows = ", ".join(f"({d}, {_dlit_s(w)})" for d, w in _RBO_W)
    return f"""
WITH rev AS MATERIALIZED (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS v
    FROM lineitem GROUP BY 1
    ORDER BY v DESC, l_partkey ASC LIMIT {_RBO_D}
),
qty AS MATERIALIZED (
    SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS v
    FROM lineitem GROUP BY 1
    ORDER BY v DESC, l_partkey ASC LIMIT {_RBO_D}
),
rx AS (SELECT l_partkey, row_number()
           OVER (ORDER BY v DESC, l_partkey ASC) AS r FROM rev),
ry AS (SELECT l_partkey, row_number()
           OVER (ORDER BY v DESC, l_partkey ASC) AS r FROM qty),
grid AS (SELECT * FROM (VALUES {w_rows}) g(d, w)),
ov AS (
    SELECT g.d, g.w,
           (SELECT COUNT(*) FROM rx JOIN ry USING (l_partkey)
            WHERE rx.r <= g.d AND ry.r <= g.d) AS a
    FROM grid g
)
SELECT CAST({_RBO_D} AS INT) AS depth,
       {round_sql(ordered_sum_sql("w * (a / CAST(d AS DOUBLE))", "d"))}
           AS rbo
FROM ov
"""


@register("rank_biased_overlap", _rbo_oracle())
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO@20 (p=0.9) between the revenue-ranked and quantity-ranked
    top parts — the ranking-stability readout for any two
    retrieval/curation orderings."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(price * (F.lit(1) - disc)).alias("v"))
           .orderBy(F.col("v").desc(), F.col("l_partkey").asc())
           .limit(_RBO_D))
    qty = (li.groupBy("l_partkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)"))
                .alias("v"))
           .orderBy(F.col("v").desc(), F.col("l_partkey").asc())
           .limit(_RBO_D))
    wnd = Window.orderBy(F.col("v").desc(), F.col("l_partkey").asc())
    rx = rev.select("l_partkey", F.row_number().over(wnd).alias("rx"))
    ry = qty.select("l_partkey", F.row_number().over(wnd).alias("ry"))
    grid = local_relation(
        spark, [(d, float(w)) for d, w in _RBO_W], "d int, w double")
    both = rx.join(ry, "l_partkey")  # <= D rows
    ov = (F.broadcast(grid)
          .join(F.broadcast(both),
                (F.col("rx") <= F.col("d")) & (F.col("ry") <= F.col("d")),
                "left")
          .groupBy("d", "w")
          .agg(F.count("l_partkey").alias("a")))
    return (ov.agg(ordered_sum(F.col("w") * (F.col("a")
                                             / F.col("d").cast("double")),
                               "d").alias("rbo"))
        .select(F.lit(_RBO_D).cast("int").alias("depth"),
                F.round("rbo", 6).alias("rbo")))


# ---------------------------------------------------------------------------
# Decision-stump induction (1-split CART) over the quality features.
#
# For each frozen scorer feature (alpha_ratio, mean_word_len, log_len
# — the cdf_calibration_bins spellings) find the threshold minimizing
# the weighted Gini impurity of the split against the rule label
# `truth`.  Candidate thresholds are the feature's DISTINCT 2-dp
# values (bucketed: one grouped pass per feature -> a bounded
# candidate relation; the corpus is never crossed with candidates).
# Gini terms divide FIRST (pos/n as doubles) so no integer product
# can overflow at any corpus size.
#
# Scale shape: one corpus scan -> 3 bounded (feature, value) bucket
# relations -> cumulative integer sums over <= a few thousand rows.
# ---------------------------------------------------------------------------

_STUMP_FEATS = ("alpha_ratio", "mean_word_len", "log_len")


def _stump_oracle() -> str:
    # 2dp bucketing must use the Spark-parity rounding spelling:
    # plain DuckDB round(1.005, 2) -> 1.00 while Spark HALF_UP -> 1.01
    # (code-review r10 finding; parity-discipline nested-round rule)
    per_feat = "\nUNION ALL\n".join(
        f"SELECT '{f}' AS feature, "
        f"{round_sql(f'LEAST({f}, 50.0)', 2)} AS v, "
        f"truth FROM labeled" for f in _STUMP_FEATS)
    return f"""
WITH feats AS (
    SELECT length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           len(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS n_tokens
    FROM documents
),
labeled AS MATERIALIZED (
    SELECT {round_sql("alpha_chars / GREATEST(n_chars, 1)")} AS alpha_ratio,
           {round_sql("alpha_chars / GREATEST(n_tokens, 1)")}
             AS mean_word_len,
           {round_sql("log10(CAST(n_chars AS DOUBLE) + 1.0)")} AS log_len,
           CASE WHEN n_tokens >= 10
                 AND {round_sql("alpha_chars / GREATEST(n_tokens, 1)")}
                     <= 12.0
                 AND {round_sql("(n_chars - alpha_chars)"
                                " / GREATEST(n_chars, 1)")} <= 0.35
                THEN 1 ELSE 0 END AS truth
    FROM feats
),
stacked AS ({per_feat}),
buckets AS (
    SELECT feature, v, COUNT(*) AS n, SUM(truth) AS pos
    FROM stacked GROUP BY 1, 2
),
tot AS (
    SELECT feature, SUM(n) AS nt, SUM(pos) AS post
    FROM buckets GROUP BY 1
),
cum AS (
    SELECT feature, v,
           SUM(n) OVER (PARTITION BY feature ORDER BY v) AS nl,
           SUM(pos) OVER (PARTITION BY feature ORDER BY v) AS posl
    FROM buckets
),
scored AS (
    SELECT c.feature, c.v AS threshold,
           CAST(c.nl AS BIGINT) AS n_left,
           CAST(t.nt - c.nl AS BIGINT) AS n_right,
           (c.nl * (1.0 - (c.posl / CAST(c.nl AS DOUBLE))
                          * (c.posl / CAST(c.nl AS DOUBLE))
                        - ((c.nl - c.posl) / CAST(c.nl AS DOUBLE))
                          * ((c.nl - c.posl) / CAST(c.nl AS DOUBLE)))
            + (t.nt - c.nl)
              * (CASE WHEN t.nt = c.nl THEN 0.0 ELSE
                 1.0 - ((t.post - c.posl)
                        / CAST(t.nt - c.nl AS DOUBLE))
                       * ((t.post - c.posl)
                          / CAST(t.nt - c.nl AS DOUBLE))
                     - ((t.nt - c.nl - t.post + c.posl)
                        / CAST(t.nt - c.nl AS DOUBLE))
                       * ((t.nt - c.nl - t.post + c.posl)
                          / CAST(t.nt - c.nl AS DOUBLE)) END))
           / CAST(t.nt AS DOUBLE) AS gini
    FROM cum c JOIN tot t ON t.feature = c.feature
    WHERE c.nl < t.nt
),
best AS (
    SELECT feature, threshold, n_left, n_right, gini,
           row_number() OVER (PARTITION BY feature
                              ORDER BY gini ASC, threshold ASC) AS rk
    FROM scored
)
SELECT feature, threshold, n_left, n_right,
       {round_sql('gini')} AS gini
FROM best WHERE rk = 1
"""


@register("decision_stump_gini", _stump_oracle())
def decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best 1-split decision stump (min weighted Gini) per quality
    feature against the rule label — learned-filter induction as one
    scan + bounded bucket cumsums."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    n_tokens = F.size(F.filter(F.split(norm, " "), lambda x: x != ""))
    alpha_ratio = F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)
    mwl = F.round(alpha / F.greatest(n_tokens, F.lit(1)), 6)
    sym_ratio = F.round((n_chars - alpha)
                        / F.greatest(n_chars, F.lit(1)), 6)
    log_len = F.round(F.log10(n_chars.cast("double") + F.lit(1.0)), 6)
    truth = F.when((n_tokens >= 10) & (mwl <= 12.0)
                   & (sym_ratio <= 0.35), 1).otherwise(0)
    labeled = docs.select(alpha_ratio.alias("alpha_ratio"),
                          mwl.alias("mean_word_len"),
                          log_len.alias("log_len"),
                          truth.alias("truth"))
    # ONE corpus scan: explode a per-row array of (feature, v)
    # structs instead of a 3-way union that re-reads documents and
    # re-runs the regex features per branch (code-review r10)
    stacked = (labeled.select(
        F.explode(F.array(*[
            F.struct(F.lit(f).alias("feature"),
                     F.round(F.least(F.col(f), F.lit(50.0)), 2)
                     .alias("v"))
            for f in _STUMP_FEATS])).alias("fv"), "truth")
        .select(F.col("fv.feature").alias("feature"),
                F.col("fv.v").alias("v"), "truth"))
    buckets = (stacked.groupBy("feature", "v")
               .agg(F.count("*").alias("n"), F.sum("truth").alias("pos")))
    tot = (buckets.groupBy("feature")
           .agg(F.sum("n").alias("nt"), F.sum("pos").alias("post")))
    # bounded relation (<= ~5k rows/feature): per-feature window cumsum
    # of exact integers
    wv = Window.partitionBy("feature").orderBy("v")
    cum = (buckets
           .withColumn("nl", F.sum("n").over(wv))
           .withColumn("posl", F.sum("pos").over(wv)))
    c = cum.join(tot, "feature").filter(F.col("nl") < F.col("nt"))
    nl = F.col("nl").cast("double")
    posl = F.col("posl")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    posr = F.col("post") - posl
    gini_l = (1.0 - (posl / nl) * (posl / nl)
              - ((F.col("nl") - posl) / nl)
              * ((F.col("nl") - posl) / nl))
    gini_r = (F.when(F.col("nt") == F.col("nl"), F.lit(0.0))
              .otherwise(1.0 - (posr / nr) * (posr / nr)
                         - ((F.col("nt") - F.col("nl") - posr) / nr)
                         * ((F.col("nt") - F.col("nl") - posr) / nr)))
    scored = c.select(
        "feature", F.col("v").alias("threshold"),
        F.col("nl").cast("long").alias("n_left"),
        (F.col("nt") - F.col("nl")).cast("long").alias("n_right"),
        ((F.col("nl") * gini_l + (F.col("nt") - F.col("nl")) * gini_r)
         / F.col("nt").cast("double")).alias("gini"))
    wb = Window.partitionBy("feature").orderBy(
        F.col("gini").asc(), F.col("threshold").asc())
    return (scored.withColumn("rk", F.row_number().over(wb))
            .filter(F.col("rk") == 1)
            .select("feature", "threshold", "n_left", "n_right",
                    F.round("gini", 6).alias("gini")))


# ---------------------------------------------------------------------------
# Burrows' Delta stylometry between sources.
#
# Burrows 2002 (public): over the K most frequent corpus words,
# z-score each source's relative frequency against the across-source
# mean/std of that word, then Delta(A, B) = mean_w |z_w(A) - z_w(B)|.
# Sources are a bounded set, so every float fold (across-source
# moments, the K-word mean) is position-pinned; relative frequencies
# are single exact-integer divisions.
#
# Scale shape: one token-explode grouped pass -> (source, word)
# counts; top-K selection is a TakeOrdered over the word marginals;
# everything after runs on |sources| x K broadcast rows.
# ---------------------------------------------------------------------------

_BD_K = 30


@register("burrows_delta_stylometry", f"""
WITH toks AS MATERIALIZED (
    SELECT source, w, COUNT(*) AS cnt
    FROM (
        SELECT source, unnest(string_split(
            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ) WHERE w <> '' GROUP BY 1, 2
),
src_tot AS (SELECT source, SUM(cnt) AS toks FROM toks GROUP BY 1),
topw AS MATERIALIZED (
    SELECT w FROM (
        SELECT w, SUM(cnt) AS c FROM toks GROUP BY 1
        ORDER BY c DESC, w ASC LIMIT {_BD_K}
    )
),
grid AS (
    SELECT s.source, t.w,
           COALESCE(k.cnt, 0) / CAST(s.toks AS DOUBLE) AS f
    FROM src_tot s CROSS JOIN topw t
    LEFT JOIN toks k ON k.source = s.source AND k.w = t.w
),
mom AS (
    SELECT w,
           COUNT(*) AS n,
           {ordered_sum_sql("f", "source")} AS s,
           {ordered_sum_sql("f * f", "source")} AS ss
    FROM grid GROUP BY w
),
z AS (
    SELECT g.source, g.w,
           CASE WHEN m.n <= 1
                 OR (m.ss - m.s * m.s / m.n) / (m.n - 1.0) <= 0.0
                THEN 0.0
                ELSE (g.f - m.s / m.n)
                     / sqrt((m.ss - m.s * m.s / m.n) / (m.n - 1.0)) END AS z
    FROM grid g JOIN mom m ON m.w = g.w
)
SELECT a.source AS source_a, b.source AS source_b,
       {round_sql(ordered_sum_sql("abs(a.z - b.z)", "a.w")
                  + f" / {_BD_K}.0")} AS delta
FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
GROUP BY a.source, b.source
""")
def burrows_delta_stylometry(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Burrows' Delta authorship distance between sources over the
    top-30 corpus words (pinned z-score and mean-|dz| folds)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = (docs.select("source", F.explode(F.split(norm, " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("source", "w").agg(F.count("*").alias("cnt")))
    src_tot = toks.groupBy("source").agg(F.sum("cnt").alias("toks"))
    topw = (toks.groupBy("w").agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("w").asc())
            .limit(_BD_K).select("w"))
    grid = (src_tot.crossJoin(F.broadcast(topw))
            .join(toks, ["source", "w"], "left")
            .select("source", "w",
                    (F.coalesce("cnt", F.lit(0))
                     / F.col("toks").cast("double")).alias("f")))
    mom = (grid.groupBy("w")
           .agg(F.count("*").alias("n"),
                ordered_sum("f", "source").alias("s"),
                ordered_sum(F.col("f") * F.col("f"), "source").alias("ss")))
    var = ((F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
           / (F.col("n") - F.lit(1.0)))
    z = (grid.join(F.broadcast(mom), "w")
         .select("source", "w",
                 F.when((F.col("n") <= 1) | (var <= 0.0), F.lit(0.0))
                 .otherwise((F.col("f") - F.col("s") / F.col("n"))
                            / F.sqrt(var)).alias("z")))
    a = z.select(F.col("source").alias("source_a"), "w",
                 F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"),
                 F.col("w").alias("wb"), F.col("z").alias("zb"))
    pairs = (a.join(b, (F.col("w") == F.col("wb"))
                    & (F.col("source_a") < F.col("source_b")))
             .select("source_a", "source_b", "w",
                     F.abs(F.col("za") - F.col("zb")).alias("dz")))
    return (pairs.groupBy("source_a", "source_b")
            .agg((ordered_sum("dz", "w")
                / F.lit(float(_BD_K))).alias("d"))
            .select("source_a", "source_b",
                    F.round("d", 6).alias("delta")))


# ---------------------------------------------------------------------------
# Heaps scaling-law fit over the data-scaling ladder.
#
# Composes the registered data_scaling_ladder (queries_round8.py):
# fit ln(vocab) = a + beta * ln(n_tokens) by closed-form OLS over the
# 5 ladder rungs — the empirical Heaps-law exponent a scaling study
# would extrapolate from.  The moment sums fold in rung order
# (5 doubles, pinned); slope/intercept/r2 are one shared tree.
#
# Scale shape: everything data-scaled lives inside the ladder query;
# the fit runs on 5 rows.
# ---------------------------------------------------------------------------


def _scaling_fit_oracle() -> str:
    # lazy import (isotonic precedent): shares the EXACT ladder CTE
    # chain with data_scaling_ladder so the composed fit can never
    # desynchronize from the ladder it composes
    from travel_data_pipeline_spark.queries_round8 import (
        LADDER_WORDS_SQL,
    )

    return f"""
WITH {LADDER_WORDS_SQL},
ladder AS MATERIALIZED (
    SELECT rung,
           ln(CAST(count(*) AS DOUBLE)) AS lx,
           ln(CAST(count(DISTINCT word) AS DOUBLE)) AS ly
    FROM words GROUP BY rung
),
mom AS (
    SELECT COUNT(*) AS n,
           {ordered_sum_sql("lx", "rung")} AS sx,
           {ordered_sum_sql("ly", "rung")} AS sy,
           {ordered_sum_sql("lx * lx", "rung")} AS sxx,
           {ordered_sum_sql("ly * ly", "rung")} AS syy,
           {ordered_sum_sql("lx * ly", "rung")} AS sxy
    FROM ladder
)
SELECT CAST(n AS BIGINT) AS n_rungs,
       {round_sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")}
         AS heaps_beta,
       {round_sql("(sy - sx * (n * sxy - sx * sy)"
                  " / (n * sxx - sx * sx)) / n")} AS ln_k,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0.0
            THEN NULL
            ELSE {round_sql("((n * sxy - sx * sy) * (n * sxy - sx * sy))"
                            " / ((n * sxx - sx * sx)"
                            " * (n * syy - sy * sy))")}
       END AS r2
FROM mom
"""


@register("scaling_law_loglog_fit", _scaling_fit_oracle)
def scaling_law_loglog_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form log-log OLS (Heaps exponent + fit r2) over the
    registered 5-rung data-scaling ladder."""
    from travel_data_pipeline_spark.queries_round8 import (
        data_scaling_ladder,
    )

    lad = (data_scaling_ladder(spark, sf_dir)
           .select("rung",
                   F.log(F.col("n_tokens").cast("double")).alias("lx"),
                   F.log(F.col("vocab").cast("double")).alias("ly")))

    lx, ly = F.col("lx"), F.col("ly")
    mom = lad.agg(F.count("*").alias("n"),
                  ordered_sum(lx, "rung").alias("sx"),
                  ordered_sum(ly, "rung").alias("sy"),
                  ordered_sum(lx * lx, "rung").alias("sxx"),
                  ordered_sum(ly * ly, "rung").alias("syy"),
                  ordered_sum(lx * ly, "rung").alias("sxy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    # degenerate-denominator branch in BOTH engines (parity rule):
    # a constant ln(vocab) series zeroes the y-variance term
    denom = (n * sxx - sx * sx) * (n * syy - sy * sy)
    return mom.select(
        F.col("n").cast("long").alias("n_rungs"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round((sy - sx * beta) / n, 6).alias("ln_k"),
        F.when(denom <= 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / denom, 6)).alias("r2"))


# ---------------------------------------------------------------------------
# Group-sequential monitoring with O'Brien-Fleming boundaries.
#
# 5 interim looks (days 1-6, 1-12, ..., 1-30 of the event window);
# at each look the cumulative two-proportion conversion z (the
# ab_assignment_outcomes spelling, same 'ab:' md5 split and the same
# purchase>=1-within-look conversion) is compared against the
# O'Brien-Fleming boundary b_k = C * sqrt(K / k) (C = 2.04, python
# literals — the standard OF shape; Pocock/OF 1979, public).
#
# Scale shape: one pass over events -> (user, look) firsts; a
# (user x 5)-bounded expansion; 5 output rows.
# ---------------------------------------------------------------------------

_GS_LOOKS = 5
_GS_STEP = 6  # days per look
_GS_C = 2.04
_GS_BOUNDS = {k: repr(_GS_C * (_GS_LOOKS / k) ** 0.5)
              for k in range(1, _GS_LOOKS + 1)}

# z = 0.0 guard covers pooled 0/all conversions AND an empty arm
# (n_c or n_t = 0): 1/n_c in the pooled SE would otherwise divide by
# zero — Spark (non-ANSI) yields NULL, DuckDB IEEE Inf (ADVICE r10 #2)
_GS_Z = ("CASE WHEN n_c = 0 OR n_t = 0 "
         "OR x_c + x_t = 0 OR x_c + x_t = n_c + n_t THEN 0.0 "
         "ELSE (CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c) "
         "/ sqrt((CAST(x_c + x_t AS DOUBLE) / (n_c + n_t)) "
         "* (1.0 - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t)) "
         "* (1.0 / n_c + 1.0 / n_t)) END")


def _gs_oracle() -> str:
    from travel_data_pipeline_spark.queries_ops import _ab_hash

    bounds = " ".join(
        f"WHEN {k} THEN {_dlit_s(b)}" for k, b in _GS_BOUNDS.items())
    return f"""
WITH mind AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
looks AS (SELECT unnest(generate_series(1, {_GS_LOOKS})) AS k),
peru AS MATERIALIZED (
    SELECT user_id,
           CASE WHEN ({_ab_hash} % 2) = 0 THEN 0 ELSE 1 END AS arm,
           min(date_diff('day', d0, date_trunc('day', ts))) AS first_day,
           min(CASE WHEN event_type = 'purchase'
                    THEN date_diff('day', d0, date_trunc('day', ts))
               END) AS first_purchase_day
    FROM events CROSS JOIN mind
    GROUP BY user_id, arm
),
cells AS (
    SELECT l.k,
           SUM(CASE WHEN p.arm = 0 THEN 1 ELSE 0 END) AS n_c,
           SUM(CASE WHEN p.arm = 1 THEN 1 ELSE 0 END) AS n_t,
           SUM(CASE WHEN p.arm = 0 AND p.first_purchase_day
                    < l.k * {_GS_STEP} THEN 1 ELSE 0 END) AS x_c,
           SUM(CASE WHEN p.arm = 1 AND p.first_purchase_day
                    < l.k * {_GS_STEP} THEN 1 ELSE 0 END) AS x_t
    FROM looks l JOIN peru p ON p.first_day < l.k * {_GS_STEP}
    GROUP BY l.k
)
SELECT CAST(k AS INT) AS look,
       CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
       CAST(x_c AS BIGINT) AS x_c, CAST(x_t AS BIGINT) AS x_t,
       {round_sql(_GS_Z)} + 0.0 AS z,
       CASE k {bounds} END AS boundary,
       CAST(abs({_GS_Z}) > (CASE k {bounds} END) AS INT) AS crossed
FROM cells
"""


def gs_user_firsts(ev: DataFrame, d0: DataFrame) -> DataFrame:
    """(user_id, arm, first_day, first_purchase_day) — the per-user
    state both the batch query and the streaming twin fold over
    (mins are idempotent under replay)."""
    arm = (md5_long(F.concat(F.lit("ab:"),
                             F.col("user_id").cast("string"))) % 2)
    return (ev.crossJoin(F.broadcast(d0))
            .select("user_id", arm.alias("arm"),
                    F.datediff(F.date_trunc("day", "ts"), "d0")
                    .alias("dd"), "event_type")
            .groupBy("user_id", "arm")
            .agg(F.min("dd").alias("first_day"),
                 F.min(F.when(F.col("event_type") == "purchase",
                              F.col("dd"))).alias("first_purchase_day")))


def gs_looks_from_firsts(spark: SparkSession,
                         peru: DataFrame) -> DataFrame:
    """The 5-look OF relation from the per-user firsts state — shared
    verbatim by group_sequential_boundaries and the streaming twin's
    readout so the two are bit-equal by construction."""
    looks = spark.range(1, _GS_LOOKS + 1).select(
        F.col("id").cast("int").alias("k"))
    cells = (peru.crossJoin(F.broadcast(looks))
             .filter(F.col("first_day") < F.col("k") * _GS_STEP)
             .groupBy("k")
             .agg(F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
                  .alias("n_c"),
                  F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
                  .alias("n_t"),
                  F.sum(F.when((F.col("arm") == 0)
                               & (F.col("first_purchase_day")
                                  < F.col("k") * _GS_STEP), 1)
                        .otherwise(0)).alias("x_c"),
                  F.sum(F.when((F.col("arm") == 1)
                               & (F.col("first_purchase_day")
                                  < F.col("k") * _GS_STEP), 1)
                        .otherwise(0)).alias("x_t")))
    pool = (F.col("x_c") + F.col("x_t")).cast("double") \
        / (F.col("n_c") + F.col("n_t"))
    z = (F.when((F.col("n_c") == 0) | (F.col("n_t") == 0)
                | (F.col("x_c") + F.col("x_t") == 0)
                | (F.col("x_c") + F.col("x_t")
                   == F.col("n_c") + F.col("n_t")), F.lit(0.0))
         .otherwise((F.col("x_t").cast("double") / F.col("n_t")
                     - F.col("x_c").cast("double") / F.col("n_c"))
                    / F.sqrt(pool * (1.0 - pool)
                             * (1.0 / F.col("n_c")
                                + 1.0 / F.col("n_t")))))
    bound = F.element_at(
        F.create_map(*[x for k, b in _GS_BOUNDS.items()
                       for x in (F.lit(k), F.lit(float(b)))]),
        F.col("k"))
    return cells.select(
        F.col("k").cast("int").alias("look"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("n_t").cast("long").alias("n_t"),
        F.col("x_c").cast("long").alias("x_c"),
        F.col("x_t").cast("long").alias("x_t"),
        (F.round(z, 6) + 0.0).alias("z"),
        bound.alias("boundary"),
        (F.abs(z) > bound).cast("int").alias("crossed"))


@register("group_sequential_boundaries", _gs_oracle())
def group_sequential_boundaries(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential monitor: cumulative two-prop
    conversion z per 6-day look vs the OF stopping boundary."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    return gs_looks_from_firsts(spark, gs_user_firsts(ev, d0))


# ---------------------------------------------------------------------------
# Geometric median per embedding label (Weiszfeld, 2 iterations).
#
# The robust center the per-label centroid family lacks: the
# arithmetic mean (embedding_label_centroids spelling) seeds two
# Weiszfeld steps  m' = sum_i(v_i/d_i) / sum_i(1/d_i),
# d_i = max(||v_i - m||, 1e-12)  (Weiszfeld 1937, public).  Every
# per-(label, dim) and per-(label, vec) fold is position-pinned
# (vec_id / dim order), the estimate is 6-dp-rounded after EVERY
# stage in BOTH engines (keeps the iteration parity-stable), and the
# float32 -> double widening is exact.
#
# Scale shape: one posexplode; per iteration two key-partitioned
# grouped passes (distances per vec, sums per dim) against a
# broadcast (labels x dims) estimate — Lloyd's-iteration shape.
# ---------------------------------------------------------------------------

_GM_ITERS = 2
_GM_EPS = 1e-12


def _gm_oracle() -> str:
    steps = []
    prev = "m0"
    for t in range(1, _GM_ITERS + 1):
        steps.append(f"""
d{t} AS MATERIALIZED (
    SELECT v.label, v.vec_id,
           GREATEST(sqrt({ordered_sum_sql("(v.v - m.m) * (v.v - m.m)",
                                          "v.dim_idx")}),
                    {_GM_EPS!r}) AS d
    FROM vals v JOIN {prev} m
      ON m.label = v.label AND m.dim_idx = v.dim_idx
    GROUP BY v.label, v.vec_id
),
w{t} AS MATERIALIZED (
    SELECT label,
           {ordered_sum_sql("1.0 / d", "vec_id")} AS wsum
    FROM d{t} GROUP BY label
),
m{t} AS MATERIALIZED (
    SELECT v.label, v.dim_idx,
           round(CAST(format('{{}}', {ordered_sum_sql("v.v / d.d", "v.vec_id")}
               / w.wsum) AS DECIMAL(38,18)), 6) + 0.0 AS m
    FROM vals v
    JOIN d{t} d ON d.label = v.label AND d.vec_id = v.vec_id
    JOIN w{t} w ON w.label = v.label
    GROUP BY v.label, v.dim_idx, w.wsum
)""")
        prev = f"m{t}"
    return f"""
WITH vals AS MATERIALIZED (
    SELECT label, CAST(t.i AS INT) AS dim_idx, vec_id,
           CAST(embedding AS DOUBLE[])[t.i + 1] AS v
    FROM embeddings,
         UNNEST(range(0, len(CAST(embedding AS DOUBLE[])))) AS t(i)
),
m0 AS MATERIALIZED (
    SELECT label, dim_idx,
           round(CAST(format('{{}}', {ordered_sum_sql("v", "vec_id")}
               / CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(38,18)), 6) + 0.0
             AS m
    FROM vals GROUP BY label, dim_idx
),
{','.join(steps)}
SELECT f.label, f.dim_idx,
       z.m AS centroid,
       f.m AS geo_median,
       round(CAST(format('{{}}', abs(f.m - z.m)) AS DECIMAL(38,18)), 6)
         + 0.0 AS shift
FROM {prev} f JOIN m0 z ON z.label = f.label AND z.dim_idx = f.dim_idx
"""


@register("geometric_median_embeddings", _gm_oracle())
def geometric_median_embeddings(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-(label, dim) geometric median of the embeddings (2
    Weiszfeld steps from the pinned-fold centroid) with the shift vs
    the arithmetic mean — the robust-center drift readout."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = (emb.select(
        "label", "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim_idx", "v"))
        .repartition(spark.sparkContext.defaultParallelism, "label")
        .localCheckpoint(eager=True))

    m = (vals.groupBy("label", "dim_idx")
         .agg((F.round(ordered_sum("v", "vec_id")
                       / F.count("*").cast("double"), 6) + 0.0)
              .alias("m"))
         .localCheckpoint(eager=True))  # m feeds dist AND the output
    m0 = m
    for _ in range(_GM_ITERS):
        dist = (vals.join(F.broadcast(m), ["label", "dim_idx"])
                .groupBy("label", "vec_id")
                .agg(F.greatest(
                    F.sqrt(ordered_sum((F.col("v") - F.col("m"))
                                       * (F.col("v") - F.col("m")),
                                       "dim_idx")),
                    F.lit(_GM_EPS)).alias("d")))
        wsum = (dist.groupBy("label")
                .agg(ordered_sum(F.lit(1.0) / F.col("d"), "vec_id")
                     .alias("wsum")))
        m = (vals.join(dist, ["label", "vec_id"])
             .join(F.broadcast(wsum), "label")
             .groupBy("label", "dim_idx", "wsum")
             .agg(ordered_sum(F.col("v") / F.col("d"), "vec_id")
                  .alias("num"))
             .select("label", "dim_idx",
                     (F.round(F.col("num") / F.col("wsum"), 6) + 0.0)
                     .alias("m"))
             .localCheckpoint(eager=True))  # lag-1: next iter re-reads
    return (m.join(m0.withColumnRenamed("m", "centroid"),
                   ["label", "dim_idx"])
            .select("label", "dim_idx", "centroid",
                    F.col("m").alias("geo_median"),
                    (F.round(F.abs(F.col("m") - F.col("centroid")), 6)
                     + 0.0).alias("shift")))


# ---------------------------------------------------------------------------
# HMM Viterbi decoding of per-user event sequences.
#
# A frozen 3-state HMM (engaged / transacting / at-risk) with
# python-literal log-prob tables — training happens offline; DECODING
# the corpus is the engine's job (the quality_classifier_logistic
# serving posture, lifted to sequences).  Chain semantics (stated
# explicitly; the python model and both engines share it): a start
# distribution over states, then for every observed symbol a
# transition followed by an emission:
#   delta_0(j)   = lstart(j)
#   delta_t(j)   = max_i(delta_{t-1}(i) + ltrans(i, j)) + lemit(j, x_t)
# Every score is a SUM OF PYTHON LITERALS (max never mixes engines'
# arithmetic), so the decode is bit-deterministic; ties break to the
# smallest state index via >= comparisons in fixed order.
#
# Scale shape: one per-user sort-fold (sequences capped at _HMM_MAXLEN
# symbols — bounded per-user work); the fold carries 3 doubles + 3
# path strings.  Output is one row per user.
# ---------------------------------------------------------------------------

import math as _math  # noqa: E402

_HMM_MAXLEN = 40
_HMM_STATES = 3
_HMM_START = [_math.log(p) for p in (0.6, 0.3, 0.1)]
_HMM_TRANS = [[_math.log(p) for p in row] for row in (
    (0.7, 0.2, 0.1),
    (0.3, 0.6, 0.1),
    (0.2, 0.2, 0.6),
)]
# emission tables over the 5 event types, per state
_HMM_SYMBOLS = ("click", "error", "purchase", "signup", "view")
_HMM_EMIT = {
    "click":    [_math.log(p) for p in (0.35, 0.30, 0.10)],
    "error":    [_math.log(p) for p in (0.05, 0.05, 0.40)],
    "purchase": [_math.log(p) for p in (0.10, 0.40, 0.05)],
    "signup":   [_math.log(p) for p in (0.15, 0.10, 0.05)],
    "view":     [_math.log(p) for p in (0.35, 0.15, 0.40)],
}


def _dlit(v: float) -> str:
    """DuckDB spelling of an exact double literal: a bare 17-digit
    numeric literal is typed DECIMAL, and DuckDB's decimal->double
    conversion can be ONE ULP off (found here: repr(ln 0.3) parsed
    ...720 vs IEEE ...721); the VARCHAR->DOUBLE parse is correctly
    rounded, so bridge through a string."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _hmm_oracle() -> str:
    emit = {sym: [_dlit(v) for v in vs] for sym, vs in _HMM_EMIT.items()}

    def emit_case(j: int) -> str:
        whens = " ".join(f"WHEN '{sym}' THEN {emit[sym][j]}"
                         for sym in _HMM_SYMBOLS)
        return f"(CASE o.x {whens} END)"

    def cand(i: int, j: int) -> str:
        return f"(w.s{i} + {_dlit(_HMM_TRANS[i][j])})"

    def step(j: int) -> tuple[str, str]:
        c = [cand(i, j) for i in range(_HMM_STATES)]
        score = (f"(CASE WHEN {c[0]} >= {c[1]} AND {c[0]} >= {c[2]} "
                 f"THEN {c[0]} WHEN {c[1]} >= {c[2]} THEN {c[1]} "
                 f"ELSE {c[2]} END) + {emit_case(j)}")
        path = (f"(CASE WHEN {c[0]} >= {c[1]} AND {c[0]} >= {c[2]} "
                f"THEN w.p0 WHEN {c[1]} >= {c[2]} THEN w.p1 "
                f"ELSE w.p2 END) || '{j}'")
        return score, path

    s_exprs, p_exprs = zip(*(step(j) for j in range(_HMM_STATES)))
    fin = ("CASE WHEN w.s0 >= w.s1 AND w.s0 >= w.s2 THEN w.p0 "
           "WHEN w.s1 >= w.s2 THEN w.p1 ELSE w.p2 END")
    fsc = ("CASE WHEN w.s0 >= w.s1 AND w.s0 >= w.s2 THEN w.s0 "
           "WHEN w.s1 >= w.s2 THEN w.s1 ELSE w.s2 END")
    # recursive-CTE walk (kaplan_meier / cusum precedent): all users
    # advance one step per recursion level, joined on rn = w.rn + 1
    return f"""
WITH RECURSIVE occ AS MATERIALIZED (
    SELECT user_id, rn, x FROM (
        SELECT user_id, event_type AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn <= {_HMM_MAXLEN}
),
nev AS (SELECT user_id, COUNT(*) AS n_events FROM occ GROUP BY user_id),
walk AS (
    SELECT user_id, 0 AS rn,
           {_dlit(_HMM_START[0])} AS s0,
           {_dlit(_HMM_START[1])} AS s1,
           {_dlit(_HMM_START[2])} AS s2,
           '' AS p0, '' AS p1, '' AS p2
    FROM nev
    UNION ALL
    SELECT w.user_id, o.rn,
           {s_exprs[0]} AS s0, {s_exprs[1]} AS s1, {s_exprs[2]} AS s2,
           {p_exprs[0]} AS p0, {p_exprs[1]} AS p1, {p_exprs[2]} AS p2
    FROM walk w JOIN occ o
      ON o.user_id = w.user_id AND o.rn = w.rn + 1
)
SELECT w.user_id, CAST(n.n_events AS BIGINT) AS n_events,
       {fin} AS path,
       {round_sql(fsc)} AS logprob
FROM walk w JOIN nev n ON n.user_id = w.user_id AND w.rn = n.n_events
"""


@register("hmm_viterbi_sessions", _hmm_oracle())
def hmm_viterbi_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-decode each user's (capped) event-type sequence under
    the frozen 3-state HMM; best path string + its log-prob."""
    ev = load_table(spark, sf_dir, "events")
    seqs = (ev.groupBy("user_id")
            .agg(F.slice(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("ts", "event_id",
                                 F.col("event_type").alias("x")))),
                    lambda s: s["x"]),
                1, _HMM_MAXLEN).alias("xs")))

    def emit_col(x, j):
        c = None
        for s in _HMM_SYMBOLS:
            c = (F.when(x == s, F.lit(_HMM_EMIT[s][j])) if c is None
                 else c.when(x == s, F.lit(_HMM_EMIT[s][j])))
        return c

    def step_struct(a, x):
        cands = [[a[f"s{i}"] + F.lit(_HMM_TRANS[i][j])
                  for i in range(_HMM_STATES)]
                 for j in range(_HMM_STATES)]
        scores, paths = [], []
        for j in range(_HMM_STATES):
            c0, c1, c2 = cands[j]
            best = (F.when((c0 >= c1) & (c0 >= c2), c0)
                    .when(c1 >= c2, c1).otherwise(c2))
            bpath = (F.when((c0 >= c1) & (c0 >= c2), a["p0"])
                     .when(c1 >= c2, a["p1"]).otherwise(a["p2"]))
            scores.append((best + emit_col(x, j)).alias(f"s{j}"))
            paths.append(F.concat(bpath, F.lit(str(j)))
                         .alias(f"p{j}"))
        # struct casts are POSITIONAL: field order must match the
        # accumulator type exactly (s0,s1,s2,p0,p1,p2)
        return F.struct(*scores, *paths).cast(
            "struct<s0:double,s1:double,s2:double,"
            "p0:string,p1:string,p2:string>")

    acc0 = F.struct(
        F.lit(_HMM_START[0]).alias("s0"), F.lit(_HMM_START[1]).alias("s1"),
        F.lit(_HMM_START[2]).alias("s2"),
        F.lit("").alias("p0"), F.lit("").alias("p1"),
        F.lit("").alias("p2")).cast(
        "struct<s0:double,s1:double,s2:double,"
        "p0:string,p1:string,p2:string>")
    folded = seqs.select(
        "user_id", F.size("xs").alias("n_events"),
        F.aggregate("xs", acc0, step_struct).alias("f"))
    f = F.col("f")
    fin = (F.when((f["s0"] >= f["s1"]) & (f["s0"] >= f["s2"]), f["p0"])
           .when(f["s1"] >= f["s2"], f["p1"]).otherwise(f["p2"]))
    fsc = (F.when((f["s0"] >= f["s1"]) & (f["s0"] >= f["s2"]), f["s0"])
           .when(f["s1"] >= f["s2"], f["s1"]).otherwise(f["s2"]))
    return folded.select(
        "user_id", F.col("n_events").cast("long").alias("n_events"),
        fin.alias("path"), F.round(fsc, 6).alias("logprob"))


# ---------------------------------------------------------------------------
# Tukey median polish of the day x hour traffic grid.
#
# Two full sweeps (rows then columns, twice) of median removal over
# the 30x24 event-count grid (Tukey 1977, public): residual(d, h) =
# count - overall - day_effect - hour_effect with effects accumulated
# from row/column medians.  The robust two-way decomposition the
# hourly-seasonality family lacks (means are skew-dragged; medians
# are not).
#
# Exactness: counts are integers; every median is an exact order
# statistic (middle element, or the midpoint of the two middle — a
# half, so ALL values stay dyadic rationals: float arithmetic on them
# is exact and order-free).
#
# Scale shape: one grouped pass over events -> a bounded |days|x24
# grid; the sweeps are 4 grouped medians over that grid.
# ---------------------------------------------------------------------------

_MP_SWEEPS = 2

_MED_SQL = ("CASE WHEN len(vs) % 2 = 1 THEN vs[(len(vs) + 1) // 2] "
            "ELSE (vs[len(vs) // 2] + vs[len(vs) // 2 + 1]) / 2.0 END")


def _median_polish_oracle() -> str:
    sweeps = []
    prev = "g0"
    for t in range(1, _MP_SWEEPS + 1):
        sweeps.append(f"""
rmed{t} AS MATERIALIZED (
    SELECT day, {_MED_SQL.replace('vs', 'list(r ORDER BY r)')} AS m
    FROM {prev} GROUP BY day
),
gr{t} AS MATERIALIZED (
    SELECT g.day, g.hour, g.r - m.m AS r
    FROM {prev} g JOIN rmed{t} m ON m.day = g.day
),
cmed{t} AS MATERIALIZED (
    SELECT hour, {_MED_SQL.replace('vs', 'list(r ORDER BY r)')} AS m
    FROM gr{t} GROUP BY hour
),
g{t} AS MATERIALIZED (
    SELECT g.day, g.hour, g.r - m.m AS r
    FROM gr{t} g JOIN cmed{t} m ON m.hour = g.hour
)""")
        prev = f"g{t}"
    reff = " + ".join(f"r{t}.m" for t in range(1, _MP_SWEEPS + 1))
    ceff = " + ".join(f"c{t}.m" for t in range(1, _MP_SWEEPS + 1))
    rjoin = " ".join(f"JOIN rmed{t} r{t} ON r{t}.day = g.day"
                     for t in range(1, _MP_SWEEPS + 1))
    cjoin = " ".join(f"JOIN cmed{t} c{t} ON c{t}.hour = g.hour"
                     for t in range(1, _MP_SWEEPS + 1))
    return f"""
WITH g0 AS MATERIALIZED (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           CAST(count(*) AS DOUBLE) AS r
    FROM events GROUP BY 1, 2
),
{','.join(sweeps)}
SELECT g.day, g.hour,
       {round_sql(f'{reff}')} AS day_effect,
       {round_sql(f'{ceff}')} AS hour_effect,
       {round_sql('g.r')} AS residual
FROM g{_MP_SWEEPS} g {rjoin} {cjoin}
"""


@register("median_polish_day_hour", _median_polish_oracle())
def median_polish_day_hour(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Two-sweep Tukey median polish of the day x hour count grid:
    per-cell day effect, hour effect, and robust residual."""
    ev = load_table(spark, sf_dir, "events")
    g = (ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        .alias("day"),
        F.hour("ts").cast("int").alias("hour"))
        .agg(F.count("*").cast("double").alias("r")))

    def med(vs):
        n = F.size(vs)
        return (F.when(n % 2 == 1,
                       F.element_at(vs, ((n + 1) / 2).cast("int")))
                .otherwise((F.element_at(vs, (n / 2).cast("int"))
                            + F.element_at(vs, (n / 2).cast("int") + 1))
                           / 2.0))

    reffs, ceffs = [], []
    for t in range(_MP_SWEEPS):
        rmed = (g.groupBy("day")
                .agg(med(F.array_sort(F.collect_list("r")))
                     .alias(f"rm{t}")))
        g = (g.join(F.broadcast(rmed), "day")
             .select("day", "hour",
                     (F.col("r") - F.col(f"rm{t}")).alias("r"))
             .localCheckpoint(eager=True))  # lag-1: bounded 720-row grid
        reffs.append(rmed)
        cmed = (g.groupBy("hour")
                .agg(med(F.array_sort(F.collect_list("r")))
                     .alias(f"cm{t}")))
        g = (g.join(F.broadcast(cmed), "hour")
             .select("day", "hour",
                     (F.col("r") - F.col(f"cm{t}")).alias("r"))
             .localCheckpoint(eager=True))
        ceffs.append(cmed)
    out = g
    for t, rm in enumerate(reffs):
        out = out.join(F.broadcast(rm), "day")
    for t, cm in enumerate(ceffs):
        out = out.join(F.broadcast(cm), "hour")
    day_eff = sum((F.col(f"rm{t}") for t in range(1, _MP_SWEEPS)),
                  F.col("rm0"))
    hour_eff = sum((F.col(f"cm{t}") for t in range(1, _MP_SWEEPS)),
                   F.col("cm0"))
    return out.select(
        "day", "hour",
        F.round(day_eff, 6).alias("day_effect"),
        F.round(hour_eff, 6).alias("hour_effect"),
        F.round("r", 6).alias("residual"))


# ---------------------------------------------------------------------------
# Consistent-hash ring rebalance audit.
#
# Karger et al. 1997 (public): shards own md5 ring positions via
# _CH_V virtual nodes each; a doc belongs to the first vnode at or
# after its own ring position (wrapping).  The audit compares the
# N=_CH_N ring against the N+1 ring (one shard added) and reports
# per-shard membership before/after plus docs moved in — consistent
# hashing's defining property (movement lands ONLY on the new shard,
# ~1/(N+1) of the corpus) is thereby driver-verified, not just
# pytest-asserted.
#
# Scale shape: the ring is a bounded broadcast array (N x V structs);
# ownership is a per-doc array probe — one corpus scan, no join, no
# shuffle beyond the per-shard rollup.
# ---------------------------------------------------------------------------

_CH_N = 8    # shards before
_CH_V = 64   # virtual nodes per shard


def _ch_oracle() -> str:
    def ring_cte(name: str, n_shards: int) -> str:
        return f"""{name} AS MATERIALIZED (
    SELECT list(struct_pack(pos := p, shard := s) ORDER BY p) AS ring
    FROM (
        SELECT s.s, v.v,
               {md5_long_sql("'ring:' || CAST(s.s AS VARCHAR) || ':' "
                             "|| CAST(v.v AS VARCHAR)")} AS p
        FROM (SELECT unnest(generate_series(0, {n_shards - 1})) AS s) s
        CROSS JOIN (SELECT unnest(generate_series(0, {_CH_V - 1})) AS v) v
    )
)"""

    def owner(r: str) -> str:
        return (f"COALESCE(list_filter({r}, x -> x.pos >= d.h)[1].shard, "
                f"{r}[1].shard)")
    return f"""
WITH {ring_cte('ring_a', _CH_N)},
{ring_cte('ring_b', _CH_N + 1)},
docs AS (
    SELECT doc_id,
           {md5_long_sql("'doc:' || CAST(doc_id AS VARCHAR)")} AS h
    FROM documents
),
owned AS (
    -- rings are 1-row relations; cross-joining them makes ring/h
    -- same-row columns so the lambda can capture d.h (a correlated
    -- subquery cannot see outer columns inside a DuckDB lambda)
    SELECT d.doc_id,
           {owner('ra.ring')} AS before_shard,
           {owner('rb.ring')} AS after_shard
    FROM docs d CROSS JOIN ring_a ra CROSS JOIN ring_b rb
),
shards AS (SELECT unnest(generate_series(0, {_CH_N})) AS shard)
SELECT CAST(s.shard AS INT) AS shard,
       CAST(COALESCE(SUM(CASE WHEN o.before_shard = s.shard
                          THEN 1 END), 0) AS BIGINT) AS n_before,
       CAST(COALESCE(SUM(CASE WHEN o.after_shard = s.shard
                          THEN 1 END), 0) AS BIGINT) AS n_after,
       CAST(COALESCE(SUM(CASE WHEN o.after_shard = s.shard
                          AND o.before_shard <> o.after_shard
                          THEN 1 END), 0) AS BIGINT) AS moved_in
FROM shards s LEFT JOIN owned o
  ON o.before_shard = s.shard OR o.after_shard = s.shard
GROUP BY s.shard
"""


def _ch_ring(spark: SparkSession, n_shards: int) -> DataFrame:
    sv = (spark.range(n_shards).withColumnRenamed("id", "s")
          .crossJoin(spark.range(_CH_V).withColumnRenamed("id", "v")))
    pos = md5_long(F.concat(F.lit("ring:"), F.col("s").cast("string"),
                            F.lit(":"), F.col("v").cast("string")))
    return (sv.select(pos.alias("pos"), F.col("s").alias("shard"))
            .agg(F.array_sort(F.collect_list(F.struct("pos", "shard")))
                 .alias("ring")))


@register("consistent_hash_rebalance", _ch_oracle())
def consistent_hash_rebalance(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-shard membership before/after adding one shard to the
    md5 consistent-hash ring; moved_in surfaces the defining property
    (all movement lands on the new shard, ~1/(N+1) of docs)."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id",
                    md5_long(F.concat(F.lit("doc:"),
                                      F.col("doc_id").cast("string")))
                    .alias("h")))

    def owner(ring_col):
        hit = F.filter(ring_col, lambda x: x["pos"] >= F.col("h"))
        return (F.when(F.size(hit) > 0, F.element_at(hit, 1)["shard"])
                .otherwise(F.element_at(ring_col, 1)["shard"]))

    ra = _ch_ring(spark, _CH_N).withColumnRenamed("ring", "ring_a")
    rb = _ch_ring(spark, _CH_N + 1).withColumnRenamed("ring", "ring_b")
    owned = (docs.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
             .select("doc_id",
                     owner(F.col("ring_a")).alias("before_shard"),
                     owner(F.col("ring_b")).alias("after_shard")))
    shards = spark.range(_CH_N + 1).select(
        F.col("id").cast("int").alias("shard"))
    per = (owned.groupBy("before_shard", "after_shard")
           .agg(F.count("*").alias("n")))
    agg = (F.broadcast(shards).join(
        per, (per.before_shard == F.col("shard"))
        | (per.after_shard == F.col("shard")), "left")
        .groupBy("shard")
        .agg(F.coalesce(F.sum(F.when(F.col("before_shard")
                                     == F.col("shard"), F.col("n"))),
                        F.lit(0)).cast("long").alias("n_before"),
             F.coalesce(F.sum(F.when(F.col("after_shard")
                                     == F.col("shard"), F.col("n"))),
                        F.lit(0)).cast("long").alias("n_after"),
             F.coalesce(F.sum(F.when(
                 (F.col("after_shard") == F.col("shard"))
                 & (F.col("before_shard") != F.col("after_shard")),
                 F.col("n"))), F.lit(0)).cast("long").alias("moved_in")))
    return agg.select(F.col("shard").cast("int").alias("shard"),
                      "n_before", "n_after", "moved_in")


# ---------------------------------------------------------------------------
# Bloom-filter size planner.
#
# For each key column the engine bloom-prefilters on, plan the filter
# from its EXACT distinct count n and a target fpp p:
#   m = ceil(-n ln p / (ln 2)^2)      bits
#   k = max(1, round(m/n * ln 2))     hash functions
#   est_fpp = (1 - exp(-k n / m))^k   (standard approximation)
# ln p / ln 2 constants are python literals (string-bridged); the only
# in-engine transcendental is the final exp, on a well-conditioned
# small argument.  The planning sibling of bloom_prefilter_join /
# neyman_allocation_plan.
#
# Scale shape: one distinct-count aggregate per audited column.
# ---------------------------------------------------------------------------

_BF_TARGET_FPP = 0.01
_BF_LN_P = _math.log(_BF_TARGET_FPP)
_BF_LN2 = _math.log(2.0)
_BF_COLS = (("orders", "o_custkey"), ("lineitem", "l_partkey"),
            ("events", "user_id"), ("documents", "doc_id"))


def _bloom_plan_oracle() -> str:
    counts = "\nUNION ALL\n".join(
        f"SELECT '{t}.{c}' AS relation, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n FROM {t}"
        for t, c in _BF_COLS)
    lnp = _dlit_s(_BF_LN_P)
    ln2 = _dlit_s(_BF_LN2)
    m = f"CAST(ceil(-(n * {lnp}) / ({ln2} * {ln2})) AS BIGINT)"
    k = f"GREATEST(1, CAST(round((({m}) / CAST(n AS DOUBLE)) * {ln2}, 0) AS BIGINT))"
    return f"""
WITH counts AS MATERIALIZED ({counts})
SELECT relation, n,
       {m} AS m_bits,
       {k} AS k_hashes,
       {round_sql(f'({m}) / CAST(n AS DOUBLE)')} AS bits_per_key,
       {round_sql(f'''power(1.0 - exp(-(CAST({k} AS DOUBLE) * n)
                      / ({m})), {k})''')} AS est_fpp
FROM counts
"""


@register("bloom_size_planner", _bloom_plan_oracle())
def bloom_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m/k Bloom-filter plan at fpp=0.01 for each bloom-prefiltered
    key column, from exact distinct counts."""
    parts = None
    for t, c in _BF_COLS:
        df = (load_table(spark, sf_dir, t)
              .agg(F.countDistinct(c).cast("long").alias("n"))
              .select(F.lit(f"{t}.{c}").alias("relation"), "n"))
        parts = df if parts is None else parts.unionByName(df)
    n = F.col("n").cast("double")
    m = F.ceil(-(n * F.lit(_BF_LN_P))
               / F.lit(_BF_LN2 * _BF_LN2)).cast("long")
    k = F.greatest(F.lit(1), F.round((m.cast("double") / n)
                                     * F.lit(_BF_LN2), 0).cast("long"))
    est = F.pow(F.lit(1.0) - F.exp(-(k.cast("double") * n)
                                   / m.cast("double")), k.cast("double"))
    return parts.select(
        "relation", "n", m.alias("m_bits"), k.alias("k_hashes"),
        F.round(m.cast("double") / n, 6).alias("bits_per_key"),
        F.round(est, 6).alias("est_fpp"))


# ---------------------------------------------------------------------------
# Negative-binomial fit of document lengths (method of moments).
#
# Token counts are classically overdispersed vs Poisson; the NB
# method-of-moments fit is closed-form from exact integer moments:
#   p = mean / var,   r = mean^2 / (var - mean)
# with an explicit underdispersion branch (var <= mean -> NULL fit)
# and an n<=1 branch (var/dispersion undefined at (n-1)=0 — NULL,
# not engine-dependent Inf/NaN) in BOTH engines (parity rule).
# One grouped pass per source.
# ---------------------------------------------------------------------------

_NB_VAR = ("(CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
           " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)")
_NB_MEAN = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"


@register("negbin_length_fit", f"""
WITH lens AS (
    SELECT source,
           len(list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS l
    FROM documents
),
mom AS (
    SELECT source, COUNT(*) AS n, SUM(l) AS s, SUM(l * l) AS ss
    FROM lens GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
       {round_sql(_NB_MEAN)} AS mean_len,
       CASE WHEN n <= 1 THEN NULL
            ELSE {round_sql(_NB_VAR)} END AS var_len,
       CASE WHEN n <= 1 THEN NULL
            ELSE {round_sql(f'({_NB_VAR}) / ({_NB_MEAN})')}
       END AS dispersion_index,
       CASE WHEN n <= 1 OR {_NB_VAR} <= {_NB_MEAN} THEN NULL
            ELSE {round_sql(f'({_NB_MEAN}) / ({_NB_VAR})')} END AS p_hat,
       CASE WHEN n <= 1 OR {_NB_VAR} <= {_NB_MEAN} THEN NULL
            ELSE {round_sql(f'''(({_NB_MEAN}) * ({_NB_MEAN}))
                 / (({_NB_VAR}) - ({_NB_MEAN}))''')} END AS r_hat
FROM mom
""")
def negbin_length_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of per-source token
    counts (p = m/v, r = m^2/(v-m); NULL fit when underdispersed)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    length = F.size(F.filter(F.split(norm, " "), lambda x: x != ""))
    mom = (docs.select("source", length.alias("l"))
           .groupBy("source")
           .agg(F.count("*").alias("n"), F.sum("l").alias("s"),
                F.sum(F.col("l") * F.col("l")).alias("ss")))
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = ((F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / n)
           / (n - 1.0))
    bad = (F.col("n") <= 1) | (var <= mean)
    return mom.select(
        "source", F.col("n").cast("long").alias("n_docs"),
        F.round(mean, 6).alias("mean_len"),
        # n<=1 branch covers var/dispersion too: (n-1)=0 divides --
        # Spark non-ANSI NULL vs DuckDB IEEE Inf/NaN (ADVICE r10 #1)
        F.when(F.col("n") <= 1, F.lit(None).cast("double"))
        .otherwise(F.round(var, 6)).alias("var_len"),
        F.when(F.col("n") <= 1, F.lit(None).cast("double"))
        .otherwise(F.round(var / mean, 6)).alias("dispersion_index"),
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(F.round(mean / var, 6)).alias("p_hat"),
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(F.round((mean * mean) / (var - mean), 6))
        .alias("r_hat"))


# ---------------------------------------------------------------------------
# LRU cache-hit audit over per-user event-type streams.
#
# A capacity-2 LRU keyed on event_type, replayed over each user's
# (capped) event sequence — the cache-sizing readout a serving layer
# runs before provisioning a per-user hot-state store.  The fold
# carries (mru, lru, hits): hit on mru keeps order; hit on lru swaps;
# miss inserts at mru and evicts lru.  Pure string/int state — no
# float anywhere until the final hit-rate division.  Oracle: the
# recursive-CTE walk (hmm_viterbi pattern; struct-typed list_reduce
# is unreliable in DuckDB 1.0).
# ---------------------------------------------------------------------------

_LRU_MAXLEN = 40


@register("lru_cache_hit_audit", f"""
WITH RECURSIVE occ AS MATERIALIZED (
    SELECT user_id, rn, x FROM (
        SELECT user_id, event_type AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn <= {_LRU_MAXLEN}
),
nev AS (SELECT user_id, COUNT(*) AS n_events FROM occ GROUP BY user_id),
walk AS (
    SELECT user_id, 0 AS rn, '' AS mru, '' AS lru, 0 AS hits FROM nev
    UNION ALL
    SELECT w.user_id, o.rn,
           o.x AS mru,
           CASE WHEN o.x = w.mru THEN w.lru ELSE w.mru END AS lru,
           w.hits + CASE WHEN o.x = w.mru OR o.x = w.lru
                         THEN 1 ELSE 0 END AS hits
    FROM walk w JOIN occ o
      ON o.user_id = w.user_id AND o.rn = w.rn + 1
)
SELECT w.user_id, CAST(n.n_events AS BIGINT) AS n_events,
       CAST(w.hits AS BIGINT) AS hits,
       {round_sql('w.hits / CAST(n.n_events AS DOUBLE)')} AS hit_rate
FROM walk w JOIN nev n ON n.user_id = w.user_id AND w.rn = n.n_events
""")
def lru_cache_hit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-2 LRU replay over each user's (capped-{_LRU_MAXLEN})
    event-type stream: hits + hit rate per user."""
    ev = load_table(spark, sf_dir, "events")
    seqs = (ev.groupBy("user_id")
            .agg(F.slice(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("ts", "event_id",
                                 F.col("event_type").alias("x")))),
                    lambda s: s["x"]),
                1, _LRU_MAXLEN).alias("xs")))
    acc0 = F.struct(
        F.lit("").alias("mru"), F.lit("").alias("lru"),
        F.lit(0).alias("hits")).cast(
        "struct<mru:string,lru:string,hits:int>")

    def step(a, x):
        hit = (x == a["mru"]) | (x == a["lru"])
        return F.struct(
            x.alias("mru"),
            F.when(x == a["mru"], a["lru"]).otherwise(a["mru"])
            .alias("lru"),
            (a["hits"] + F.when(hit, 1).otherwise(0)).alias("hits")
        ).cast("struct<mru:string,lru:string,hits:int>")

    folded = seqs.select(
        "user_id", F.size("xs").alias("n_events"),
        F.aggregate("xs", acc0, step)["hits"].alias("hits"))
    return folded.select(
        "user_id", F.col("n_events").cast("long").alias("n_events"),
        F.col("hits").cast("long").alias("hits"),
        F.round(F.col("hits") / F.col("n_events").cast("double"), 6)
        .alias("hit_rate"))
