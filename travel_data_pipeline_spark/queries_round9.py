"""Round-9 candidate queries (written in round 7) — continuing the
LLM-training-data-pipeline mandate into sequential testing, sampling
design, exact-substring dedup, and embedding-level contamination:

- ab_sprt_curve: Wald sequential probability ratio test over the daily
  event log — the streaming-era sibling of ab_assignment_outcomes'
  fixed-horizon z-test (stop an experiment the day the evidence
  crosses a boundary instead of waiting out the horizon).
- neyman_allocation_plan: optimal stratified-sample allocation
  (n_h ∝ N_h·S_h) vs proportional — the sampling-design step before
  any of the corpus audit queries draw their strata.
- fano_burstiness_by_type: index-of-dispersion classification of daily
  event arrivals (bursty vs Poisson-ish vs regular) — the data-arrival
  QA readout that decides whether per-day partitions skew.
- substring_dup_spans: maximal cross-document duplicated word-5-gram
  runs per document (the exact-substring dedup readout of Lee et al.
  2022, "Deduplicating Training Data Makes Language Models Better" —
  public paper; span = how much CONTIGUOUS text is copied, which
  set-level Jaccard cannot see).

Same discipline as every other module: exact integer/decimal moments,
no float accumulation (cumulative LLR is recomputed from exact integer
cumsums, never summed as doubles), Spark-parity rounding
(functions/parity.round_sql) on rounded oracle doubles, `+ 0.0` on any
rounded column that can be negative, md5-only hashing, transcendental
constants computed ONCE in Python and embedded as identical literals
in both engines (Java and DuckDB libm may differ in the last ulp).
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
from travel_data_pipeline_spark.functions.parity import round_sql
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Wald SPRT over the daily experiment log — sequential A/B evidence.
#
# Arms are the md5 split ab_assignment_outcomes uses; each treatment
# event is a Bernoulli trial (success = purchase). Testing
# H0: p = P0 vs H1: p = P1, the log-likelihood ratio after (n, x)
# trials/successes is x·ln(P1/P0) + (n-x)·ln((1-P1)/(1-P0)); the test
# stops when it leaves (ln B, ln A), A = (1-β)/α, B = β/(1-α).
#
# Float discipline: the ln coefficients are PYTHON literals embedded in
# both engines; the cumulative LLR is NOT a windowed float sum — the
# integer trial/success counts are cumulated exactly (bounded ~30-row
# day grid) and the LLR is ONE shared double expression per row.
#
# Scale shape: one grouped pass over the events scan (shuffle on day),
# then windows over the bounded day grid — never data-scaled.
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.17
_SPRT_P1 = 0.21
_SPRT_LA = math.log(_SPRT_P1 / _SPRT_P0)              # per-success
_SPRT_LB = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))  # per-failure
_SPRT_UPPER = math.log(19.0)    # alpha = beta = 0.05
_SPRT_LOWER = -math.log(19.0)

_sprt_arm = md5_long_sql("'ab:' || CAST(user_id AS VARCHAR)")
_SPRT_LLR = (f"(CAST(cum_x AS DOUBLE) * {_SPRT_LA!r}"
             f" + CAST(cum_n - cum_x AS DOUBLE) * {_SPRT_LB!r})")


@register("ab_sprt_curve", f"""
WITH daily AS (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_trials,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_success
    FROM events
    WHERE ({_sprt_arm} % 2) = 1
    GROUP BY day
),
cum AS (
    SELECT day, n_trials, n_success,
           SUM(n_trials) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS cum_n,
           SUM(n_success) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS cum_x
    FROM daily
)
SELECT day, CAST(n_trials AS BIGINT) AS n_trials,
       CAST(n_success AS BIGINT) AS n_success,
       CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_x AS BIGINT) AS cum_x,
       {round_sql(_SPRT_LLR)} + 0.0 AS cum_llr,
       CASE WHEN {_SPRT_LLR} >= {_SPRT_UPPER!r} THEN 'accept_h1'
            WHEN {_SPRT_LLR} <= {_SPRT_LOWER!r} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
""")
def ab_sprt_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Wald SPRT curve for the treatment arm's purchase rate.

    The decision column compares the UNROUNDED LLR (one shared double
    expression from exact integer cumsums) against the Wald boundaries
    ln(19)/-ln(19); the reported cum_llr is 6-dp rounded with the
    Spark-parity spelling (an accumulated-shape double) and `+ 0.0`
    (early days can round to -0.0)."""
    events = load_table(spark, sf_dir, "events")
    treat = events.filter(
        (md5_long(F.concat(F.lit("ab:"),
                           F.col("user_id").cast("string"))) % 2) == 1)
    # ISO-string day (repo convention for emitted day columns — DATE
    # dtypes stringify differently across the harnesses' pandas paths)
    daily = (treat.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                         "yyyy-MM-dd").alias("day"))
             .agg(F.count("*").alias("n_trials"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("n_success")))
    # bounded day grid (~30 rows) — the unpartitioned window is over a
    # time-bounded relation, never data-scaled (day-grid precedent:
    # queries_stats day windows)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (daily.withColumn("cum_n", F.sum("n_trials").over(w))
           .withColumn("cum_x", F.sum("n_success").over(w)))
    llr = (F.col("cum_x").cast("double") * F.lit(_SPRT_LA)
           + (F.col("cum_n") - F.col("cum_x")).cast("double")
           * F.lit(_SPRT_LB))
    return cum.select(
        "day",
        F.col("n_trials").cast("long").alias("n_trials"),
        F.col("n_success").cast("long").alias("n_success"),
        F.col("cum_n").cast("long").alias("cum_n"),
        F.col("cum_x").cast("long").alias("cum_x"),
        (F.round(llr, 6) + 0.0).alias("cum_llr"),
        F.when(llr >= _SPRT_UPPER, "accept_h1")
         .when(llr <= _SPRT_LOWER, "accept_h0")
         .otherwise("continue").alias("decision"))


# ---------------------------------------------------------------------------
# Neyman (optimal) stratified-sample allocation — for a fixed audit
# budget, sample stratum h at n_h ∝ N_h · S_h (size × std of the
# target metric) instead of proportionally; variance of the stratified
# mean drops by the ratio of the two allocations' Σ N_h²S_h²/n_h.
#
# Exactness: per-stratum moments are exact integer/decimal sums (sum
# and sum-of-squares of n_chars ride DECIMAL(38,0) — int64 would
# overflow sum-of-squares at ~1e12 docs); S_h is 6-dp rounded and
# CAST to DECIMAL(18,6) so Σ N_h·S_h is a DECIMAL sum —
# order-independent, never a float reduction over strata.
#
# Scale shape: one grouped pass (shuffle on (source, lang)), a bounded
# |sources|×|langs| stratum relation, one broadcast scalar total.
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000
# population variance from exact moments; clamped at 0 (the exact
# algebra can't go negative, the double rendering of it can)
_NEYMAN_VAR = ("GREATEST((CAST(ssq AS DOUBLE)"
               " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
               " / CAST(n_h AS DOUBLE)) / CAST(n_h AS DOUBLE), 0.0)")


@register("neyman_allocation_plan", f"""
WITH strata AS (
    SELECT source, lang, count(*) AS n_h,
           SUM(CAST(n_chars AS DECIMAL(38,0))) AS s,
           SUM(CAST(n_chars AS DECIMAL(19,0)) * n_chars) AS ssq
    FROM documents GROUP BY source, lang
),
sized AS (
    SELECT source, lang, n_h, s,
           CAST({round_sql(f"sqrt({_NEYMAN_VAR})")} AS DECIMAL(18,6))
               AS sd6
    FROM strata
),
tot AS (
    SELECT SUM(CAST(n_h AS DECIMAL(18,0)) * sd6) AS total_ns,
           SUM(n_h) AS total_n
    FROM sized
)
SELECT source, lang, CAST(n_h AS BIGINT) AS n_h,
       {round_sql("CAST(s AS DOUBLE) / n_h")} AS mean_chars,
       CAST(sd6 AS DOUBLE) AS sd_chars,
       {round_sql(f"CAST(CAST(n_h AS DECIMAL(18,0)) * sd6 AS DOUBLE)"
                  f" / CAST(total_ns AS DOUBLE)")} AS neyman_share,
       CAST(floor({_NEYMAN_BUDGET} * CAST(CAST(n_h AS DECIMAL(18,0))
                * sd6 AS DOUBLE) / CAST(total_ns AS DOUBLE)) AS BIGINT)
           AS neyman_n,
       CAST(floor({_NEYMAN_BUDGET} * CAST(n_h AS DOUBLE)
                / CAST(total_n AS DOUBLE)) AS BIGINT) AS prop_n
FROM sized CROSS JOIN tot
""")
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) Neyman vs proportional sample allocation for
    a {_NEYMAN_BUDGET}-doc audit budget (allocations floored — floor
    of an identically-computed double never crosses a boundary the
    way HALF_UP rounding can)."""
    docs = load_table(spark, sf_dir, "documents")
    strata = (docs.groupBy("source", "lang")
              .agg(F.count("*").alias("n_h"),
                   F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("s"),
                   F.sum(F.col("n_chars").cast("decimal(19,0)")
                         * F.col("n_chars")).alias("ssq")))
    var = F.greatest(
        (F.col("ssq").cast("double")
         - F.col("s").cast("double") * F.col("s").cast("double")
         / F.col("n_h").cast("double")) / F.col("n_h").cast("double"),
        F.lit(0.0))
    sized = strata.select(
        "source", "lang", "n_h", "s",
        F.round(F.sqrt(var), 6).cast("decimal(18,6)").alias("sd6"))
    tot = sized.agg(
        F.sum(F.col("n_h").cast("decimal(18,0)") * F.col("sd6"))
         .alias("total_ns"),
        F.sum("n_h").alias("total_n"))
    term = (F.col("n_h").cast("decimal(18,0)") * F.col("sd6"))
    return (sized.crossJoin(F.broadcast(tot))
            .select("source", "lang",
                    F.col("n_h").cast("long").alias("n_h"),
                    F.round(F.col("s").cast("double") / F.col("n_h"), 6)
                     .alias("mean_chars"),
                    F.col("sd6").cast("double").alias("sd_chars"),
                    F.round(term.cast("double")
                            / F.col("total_ns").cast("double"), 6)
                     .alias("neyman_share"),
                    F.floor(_NEYMAN_BUDGET * term.cast("double")
                            / F.col("total_ns").cast("double"))
                     .cast("long").alias("neyman_n"),
                    F.floor(_NEYMAN_BUDGET * F.col("n_h").cast("double")
                            / F.col("total_n").cast("double"))
                     .cast("long").alias("prop_n")))


# ---------------------------------------------------------------------------
# Fano factor (index of dispersion) of daily event arrivals per type —
# var/mean of the per-day count over the GLOBAL day grid (zero days
# included: a type that fires 300 times on one day and never again is
# the bursty case the grid-less version would miss).
#
# Exactness: integer moments over a bounded (|types| × |days|) grid;
# the Fano ratio is one shared double expression. Scale shape: one
# grouped pass over events, a broadcast cross of two bounded dims.
# ---------------------------------------------------------------------------

_FANO = ("(CAST(n_days AS DOUBLE) * CAST(ssq AS DOUBLE)"
         " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
         " / (CAST(n_days AS DOUBLE) * CAST(s AS DOUBLE))")


@register("fano_burstiness_by_type", f"""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
    FROM events GROUP BY event_type, day
),
grid AS (
    SELECT t.event_type, d.day, COALESCE(c.c, 0) AS c
    FROM types t CROSS JOIN days d
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = d.day
),
m AS (
    SELECT event_type, count(*) AS n_days,
           SUM(CAST(c AS DECIMAL(38,0))) AS s,
           SUM(CAST(c AS DECIMAL(19,0)) * c) AS ssq
    FROM grid GROUP BY event_type
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS total_events,
       {round_sql("CAST(s AS DOUBLE) / n_days")} AS mean_daily,
       CASE WHEN s = 0 THEN NULL ELSE {round_sql(_FANO)} END AS fano,
       CASE WHEN s = 0 THEN 'empty'
            WHEN {_FANO} >= 1.2 THEN 'bursty'
            WHEN {_FANO} <= 0.9 THEN 'regular'
            ELSE 'poisson-ish' END AS arrival_class
FROM m
""")
def fano_burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-arrival dispersion per event type over the full day grid
    (Fano = 1 for a Poisson process; classification thresholds compare
    the same unrounded double on both sides)."""
    events = load_table(spark, sf_dir, "events")
    days = events.select(F.col("ts").cast("date").alias("day")).distinct()
    types = events.select("event_type").distinct()
    counts = (events.groupBy("event_type",
                             F.col("ts").cast("date").alias("day"))
              .agg(F.count("*").alias("c")))
    grid = (types.crossJoin(F.broadcast(days))
            .join(counts, ["event_type", "day"], "left")
            .select("event_type", "day",
                    F.coalesce("c", F.lit(0)).alias("c")))
    m = grid.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("ssq"))
    fano = ((F.col("n_days").cast("double") * F.col("ssq").cast("double")
             - F.col("s").cast("double") * F.col("s").cast("double"))
            / (F.col("n_days").cast("double")
               * F.col("s").cast("double")))
    return m.select(
        "event_type", F.col("n_days").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("total_events"),
        F.round(F.col("s").cast("double") / F.col("n_days"), 6)
         .alias("mean_daily"),
        F.when(F.col("s") == 0, F.lit(None).cast("double"))
         .otherwise(F.round(fano, 6)).alias("fano"),
        F.when(F.col("s") == 0, "empty")
         .when(fano >= 1.2, "bursty")
         .when(fano <= 0.9, "regular")
         .otherwise("poisson-ish").alias("arrival_class"))


# ---------------------------------------------------------------------------
# Exact-substring duplication spans — per document, the maximal runs
# of consecutive word-5-gram positions whose gram also appears in at
# least one OTHER document (Lee et al. 2022's exact-substring dedup,
# re-expressed at fixed gram length: a length-L duplicated span means
# an exact shared substring of L+4 words).
#
# Scale shape: gram text leaves the plan before any shuffle — the
# cross-doc frequency groupBy and the position join both key on the
# 60-bit md5 of the gram (32-byte keys, not 5-word strings; md5
# identically on both engines, so a collision — ~2^-60 — would be the
# SAME collision in the oracle). Islands are per-document windows
# (partitioned), never global; output is bounded by docs-with-dups.
# ---------------------------------------------------------------------------

_SPAN_N = 5


@register("substring_dup_spans", f"""
WITH normed AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
grams AS (
    SELECT w.doc_id, i.i AS pos,
           {md5_long_sql(f"array_to_string(w.words[i.i:i.i+{_SPAN_N - 1}],"
                         f" ' ')")} AS gh
    FROM (SELECT doc_id, string_split(norm, ' ') AS words FROM normed) w,
         unnest(generate_series(1, greatest(len(w.words) - {_SPAN_N - 1},
                                            0))) AS i(i)
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
dup AS (SELECT gh FROM grams GROUP BY gh
        HAVING COUNT(DISTINCT doc_id) >= 2),
dpos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
isl AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
    FROM dpos
),
spans AS (
    SELECT doc_id, grp, count(*) AS span_len
    FROM isl GROUP BY doc_id, grp
),
per_doc AS (
    SELECT doc_id, count(*) AS n_spans, MAX(span_len) AS max_span_grams,
           SUM(span_len) AS dup_grams
    FROM spans GROUP BY doc_id
)
SELECT p.doc_id, CAST(s.n_grams AS BIGINT) AS n_grams,
       CAST(p.dup_grams AS BIGINT) AS dup_grams,
       CAST(p.n_spans AS BIGINT) AS n_spans,
       CAST(p.max_span_grams AS BIGINT) AS max_span_grams,
       {round_sql("p.dup_grams / CAST(s.n_grams AS DOUBLE)")} AS dup_share
FROM per_doc p JOIN sizes s ON s.doc_id = p.doc_id
""")
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated 5-gram runs per document
    (docs with no duplicated gram are omitted — inner-join semantics
    on both sides; docs under 5 words carry no gram slots at all).

    Islands: within a document, consecutive duplicated positions share
    pos - row_number() — one partitioned window, one bounded groupBy.
    The gram relation is re-joined against its own lineage, so an
    eager leaf (r15 A/B).
    """
    from travel_data_pipeline_spark.operators import dedup

    # spread the single-file scan before the CPU-heavy gram explode
    # (engine-wide design rule; same spelling as dedup.shingle_sets),
    # and pin grams across its THREE consumers (sizes, dup detection,
    # position join): recompute measured 2.02 s vs 1.27 s pinned at
    # sf0.1 warm — the md5-gram explode is CPU-bound enough to win
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id")
    grams = (docs.select(
        "doc_id",
        F.posexplode(dedup.word_shingles(F.col("text"), _SPAN_N))
         .alias("p0", "g"))
        .select("doc_id", (F.col("p0") + 1).alias("pos"),
                md5_long(F.col("g")).alias("gh")))
    # r15 A/B, sf0.1 first computation: 7.94 s checkpoint vs 9.21 s persist
    grams = grams.localCheckpoint(eager=True)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    dup = (grams.groupBy("gh")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2).select("gh"))
    dpos = grams.join(dup, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dpos.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = (isl.groupBy("doc_id", "grp")
             .agg(F.count("*").alias("span_len")))
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.max("span_len").alias("max_span_grams"),
        F.sum("span_len").alias("dup_grams"))
    return (per_doc.join(sizes, "doc_id")
            .select("doc_id",
                    F.col("n_grams").cast("long").alias("n_grams"),
                    F.col("dup_grams").cast("long").alias("dup_grams"),
                    F.col("n_spans").cast("long").alias("n_spans"),
                    F.col("max_span_grams").cast("long")
                     .alias("max_span_grams"),
                    F.round(F.col("dup_grams")
                            / F.col("n_grams").cast("double"), 6)
                     .alias("dup_share")))


# ---------------------------------------------------------------------------
# Embedding-level (semantic) contamination audit — for every held-out
# eval vector, the nearest TRAIN vector by exact cosine: the
# embedding sibling of contamination_ngram_overlap /
# contamination_bloom_prefilter (surface-form n-grams miss paraphrased
# leakage; embeddings catch it).
#
# Scale shape: the eval set is a fixed bounded sample — it broadcasts,
# the train corpus streams (one scan, no shuffle until the per-query
# top-1). This brute-force pass is the MEASUREMENT baseline, exactly
# like ivf_recall_at_k's ground-truth stage; the production path at
# 100 TB is the IVF probe (embedding_ivf_topk) this audit calibrates.
# ---------------------------------------------------------------------------

_CONTAM_EVAL_N = 25     # eval slice: vec_id < 25 at every SF
_CONTAM_TAU = 0.30      # synthetic corpus: p99 eval-train cosine ~0.29

_CONTAM_COS = ("ROUND(list_dot_product(q.v, t.v) / "
               "(sqrt(list_dot_product(q.v, q.v)) * "
               "sqrt(list_dot_product(t.v, t.v))), 6)")


@register("semantic_contamination_audit", f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM v
      WHERE vec_id < {_CONTAM_EVAL_N}),
t AS (SELECT vec_id, v FROM v WHERE vec_id >= {_CONTAM_EVAL_N}),
scored AS (
    SELECT q.query_id, t.vec_id AS train_id, {_CONTAM_COS} AS cos,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY {_CONTAM_COS} DESC, t.vec_id ASC) AS rnk
    FROM q CROSS JOIN t
)
SELECT query_id, train_id AS nearest_train_id, cos AS max_cos,
       CAST(floor(cos * 10) AS INT) AS band,
       cos >= {_CONTAM_TAU} AS contaminated
FROM scored WHERE rnk = 1
""")
def semantic_contamination_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Nearest-train-neighbor cosine per eval vector, banded into 0.1
    similarity bands with a contamination flag at tau=0.30 (the
    paraphrase-leakage sibling of the n-gram contamination queries).
    Ties break on train id; cosine is 6-dp rounded BEFORE ranking on
    both sides."""
    from travel_data_pipeline_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") < _CONTAM_EVAL_N).select(
        F.col("vec_id").alias("query_id"), "embedding")
    train = emb.filter(F.col("vec_id") >= _CONTAM_EVAL_N)
    top1 = similarity.brute_force_topk(train, ev, k=1)
    return top1.select(
        "query_id", F.col("neighbor_id").alias("nearest_train_id"),
        F.col("cosine_sim").alias("max_cos"),
        F.floor(F.col("cosine_sim") * 10).cast("int").alias("band"),
        (F.col("cosine_sim") >= _CONTAM_TAU).alias("contaminated"))


# ---------------------------------------------------------------------------
# k-NN label-noise audit (confident-learning shape): for a hash-free
# deterministic 10% audit slice, the share of each point's 5 nearest
# neighbors that carry a DIFFERENT label — points whose neighborhoods
# overwhelmingly disagree are the mislabeled-candidate queue.
#
# Scale shape: the audit slice broadcasts (fixed fraction of a FIXED
# labeled subset in practice), the corpus streams once; per-query
# top-k is a partitioned WindowGroupLimit. The 100 TB path swaps the
# brute-force scan for the IVF probe this repo already certifies
# (ivf_recall_at_k).
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_SUSPECT = 4  # >= 4 of 5 neighbors disagree -> suspect

_KNN_COS = ("ROUND(list_dot_product(q.v, n.v) / "
            "(sqrt(list_dot_product(q.v, q.v)) * "
            "sqrt(list_dot_product(n.v, n.v))), 6)")


@register("knn_label_noise", f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS own_label, v FROM v
      WHERE vec_id % 10 = 0),
topk AS (
    SELECT query_id, own_label, n_label FROM (
        SELECT q.query_id, q.own_label, n.label AS n_label,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY {_KNN_COS} DESC, n.vec_id ASC) AS rnk
        FROM q CROSS JOIN v n WHERE n.vec_id <> q.query_id
    ) WHERE rnk <= {_KNN_K}
),
per_q AS (
    SELECT query_id, own_label,
           SUM(CASE WHEN n_label <> own_label THEN 1 ELSE 0 END)
               AS n_disagree
    FROM topk GROUP BY query_id, own_label
)
SELECT own_label AS label, CAST(count(*) AS BIGINT) AS n_audited,
       CAST(SUM(n_disagree) AS BIGINT) AS n_disagree,
       {round_sql(f"SUM(n_disagree)"
                  f" / (CAST(count(*) AS DOUBLE) * {_KNN_K})")}
           AS mean_disagree,
       CAST(SUM(CASE WHEN n_disagree >= {_KNN_SUSPECT} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_suspect
FROM per_q GROUP BY own_label
""")
def knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label k-NN disagreement over a deterministic 10% audit
    slice: mean share of 5-NN with a different label + the count of
    suspect points (>= 4/5 disagree)."""
    from travel_data_pipeline_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("own_label"), "embedding")
    topk = similarity.brute_force_topk(
        emb, sample.select("query_id", "embedding"), k=_KNN_K)
    labeled = (topk
               .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("label").alias("n_label")),
                     "neighbor_id")
               .join(F.broadcast(sample.select("query_id", "own_label")),
                     "query_id"))
    per_q = labeled.groupBy("query_id", "own_label").agg(
        F.sum(F.when(F.col("n_label") != F.col("own_label"), 1)
              .otherwise(0)).alias("n_disagree"))
    return (per_q.groupBy(F.col("own_label").alias("label"))
            .agg(F.count("*").cast("long").alias("n_audited"),
                 F.sum("n_disagree").cast("long").alias("n_disagree"),
                 F.round(F.sum("n_disagree")
                         / (F.count("*").cast("double") * _KNN_K), 6)
                  .alias("mean_disagree"),
                 F.sum(F.when(F.col("n_disagree") >= _KNN_SUSPECT, 1)
                       .otherwise(0)).cast("long").alias("n_suspect")))


# ---------------------------------------------------------------------------
# Semantic-dedup threshold sensitivity sweep — dedup rate vs cosine
# threshold over ONE shared sign-LSH candidate relation: the
# calibration curve a curator reads before picking tau (the SemDeDup
# sibling of classifier_threshold_sweep; the MinHash path got
# lsh_scurve_audit, the embedding path gets this).
#
# Scale shape: candidates are banded-bucket pairs (capped buckets, no
# self-join explosion) generated ONCE; the 4-threshold grid multiplies
# only the bounded pair relation. At 100 TB the candidate count is
# governed by MAX_BUCKET exactly like every other LSH query here.
# ---------------------------------------------------------------------------

_SWEEP_TAUS = (0.10, 0.20, 0.30, 0.40)
_SWEEP_BANDS = 2
_SWEEP_MAX_BUCKET = 1000


def _sweep_oracle() -> str:
    from travel_data_pipeline_spark.operators import similarity

    planes = similarity.random_planes(16, 64)
    band_bits = 16 // _SWEEP_BANDS
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
        for b in range(_SWEEP_BANDS))
    taus = ", ".join(f"({t!r})" for t in _SWEEP_TAUS)
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
sigged AS (SELECT vec_id, v, CAST({sig} AS BIGINT) AS sig FROM base),
banded AS ({band_rows}),
bcap AS (
    SELECT * EXCLUDE (_bsz) FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key)
            AS _bsz FROM banded)
    WHERE _bsz <= {_SWEEP_MAX_BUCKET}
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
grid AS (SELECT threshold FROM (VALUES {taus}) g(threshold)),
tot AS (SELECT count(*) AS n_total FROM base),
hits AS (
    SELECT g.threshold, count(*) AS n_pairs,
           COUNT(DISTINCT p.vec_b) AS n_dropped
    FROM pairs p JOIN grid g ON p.cos >= g.threshold
    GROUP BY g.threshold
)
SELECT g.threshold, CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(h.n_dropped, 0) AS BIGINT) AS n_docs_dropped,
       {round_sql("COALESCE(h.n_dropped, 0)"
                  " / CAST(t.n_total AS DOUBLE)")} AS removal_share
FROM grid g LEFT JOIN hits h ON h.threshold = g.threshold
CROSS JOIN tot t
"""


@register("cosine_threshold_sweep", _sweep_oracle)
def cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup rate vs cosine threshold over one shared sign-LSH
    candidate relation (dropped doc = pair's larger id, SemDeDup
    keep-earliest convention)."""
    from travel_data_pipeline_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>")
        .alias("embedding"))
    planes = similarity.random_planes(16, 64)
    pairs = similarity.cosine_near_dup_lsh(
        emb, planes, bands=_SWEEP_BANDS, threshold=-1.0,
        max_bucket=_SWEEP_MAX_BUCKET)
    grid = local_relation(spark, [(t,) for t in _SWEEP_TAUS],
                          "threshold double")
    tot = emb.agg(F.count("*").alias("n_total"))
    hits = (pairs.join(F.broadcast(grid),
                       F.col("cosine_sim") >= F.col("threshold"))
            .groupBy("threshold")
            .agg(F.count("*").alias("n_pairs"),
                 F.countDistinct("vec_b").alias("n_dropped")))
    return (grid.join(hits, "threshold", "left")
            .crossJoin(F.broadcast(tot))
            .select("threshold",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                     .alias("n_pairs"),
                    F.coalesce("n_dropped", F.lit(0)).cast("long")
                     .alias("n_docs_dropped"),
                    F.round(F.coalesce("n_dropped", F.lit(0))
                            / F.col("n_total").cast("double"), 6)
                     .alias("removal_share")))


# ---------------------------------------------------------------------------
# Quantile normalization table — maps each source's length ventiles
# onto the GLOBAL length ventiles (the cross-source score-equating
# step before per-source quality cutoffs can share one threshold).
# Rank-based with doc_id tie-break on both sides, so the mapping is a
# total order — no percentile interpolation ambiguity.
#
# Scale shape: the global rank is two_phase_ordered (approx-quantile
# buckets + broadcast offsets — no single-partition sort); per-source
# ranks are partitioned windows; output is bounded |sources| × 20.
# ---------------------------------------------------------------------------

_QN_BINS = 20


@register("quantile_normalize_lengths", f"""
WITH ranked AS (
    SELECT doc_id, source, n_chars,
           ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS grank,
           ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS srank,
           COUNT(*) OVER () AS n_total,
           COUNT(*) OVER (PARTITION BY source) AS n_source
    FROM documents
),
binned AS (
    SELECT source, n_chars,
           CAST(((grank - 1) * {_QN_BINS}) // n_total AS INT) AS gbin,
           CAST(((srank - 1) * {_QN_BINS}) // n_source AS INT) AS sbin
    FROM ranked
),
g AS (
    SELECT gbin AS bin, SUM(CAST(n_chars AS DECIMAL(38,0))) AS gs,
           count(*) AS gn
    FROM binned GROUP BY gbin
),
s AS (
    SELECT source, sbin AS bin, count(*) AS n_docs,
           SUM(CAST(n_chars AS DECIMAL(38,0))) AS ss
    FROM binned GROUP BY source, sbin
)
SELECT s.source, CAST(s.bin AS INT) AS bin,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       {round_sql("CAST(ss AS DOUBLE) / s.n_docs")} AS mean_len_source,
       {round_sql("CAST(gs AS DOUBLE) / gn")} AS mean_len_global,
       {round_sql("CAST(gs AS DOUBLE) / gn"
                  " - CAST(ss AS DOUBLE) / s.n_docs")} + 0.0 AS shift
FROM s JOIN g ON g.bin = s.bin
""")
def quantile_normalize_lengths(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-(source, ventile) normalization table: the source-bin mean
    length, the global-bin mean it would be equated to, and the shift.
    Global rank rides two_phase_ordered with a doc_id fractional
    tie-break (n_chars is tie-heavy; integer gaps >= 1 dominate the
    fraction, so the combined key stays monotone along the order)."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    ranked = two_phase_ordered(
        docs, [F.col("n_chars").asc(), F.col("doc_id").asc()],
        F.col("n_chars").cast("double")
        + F.col("doc_id").cast("double") / F.lit(float(2 ** 40)),
        rank_col="grank")
    n_total = docs.agg(F.count("*").alias("n_total"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src_n = docs.groupBy("source").agg(F.count("*").alias("n_source"))
    binned = (ranked.crossJoin(F.broadcast(n_total))
              .join(F.broadcast(src_n), "source")
              .withColumn("srank", F.row_number().over(ws))
              .select("source", "n_chars",
                      ((F.col("grank") - 1) * _QN_BINS
                       / F.col("n_total")).cast("int").alias("gbin"),
                      ((F.col("srank") - 1) * _QN_BINS
                       / F.col("n_source")).cast("int").alias("sbin")))
    g = binned.groupBy(F.col("gbin").alias("bin")).agg(
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("gs"),
        F.count("*").alias("gn"))
    s = binned.groupBy("source", F.col("sbin").alias("bin")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("ss"))
    mean_s = F.col("ss").cast("double") / F.col("n_docs")
    mean_g = F.col("gs").cast("double") / F.col("gn")
    return (s.join(F.broadcast(g), "bin")
            .select("source", F.col("bin").cast("int").alias("bin"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.round(mean_s, 6).alias("mean_len_source"),
                    F.round(mean_g, 6).alias("mean_len_global"),
                    (F.round(mean_g - mean_s, 6) + 0.0).alias("shift")))


# ---------------------------------------------------------------------------
# Median-of-means robust mean — heavy-tail-safe estimator of the event
# value per type: 32 md5 buckets, LOWER median per bucket (a selected
# data value — no interpolation arithmetic), decimal-summed bucket
# medians vs the plain mean. The robust-statistics audit for metric
# columns whose plain mean one hot user can drag.
#
# Exactness: the only float reductions are DECIMAL sums (bucket
# medians rounded to 6 dp first); medians are row_number selections.
# Scale shape: per-(type, bucket) partitioned windows — 32× the type
# parallelism, no global sort; the medians relation is bounded
# (|types| × 32).
# ---------------------------------------------------------------------------

_MOM_BUCKETS = 32

_mom_bucket = md5_long_sql("'mom:' || CAST(event_id AS VARCHAR)")


@register("median_of_means_value", f"""
WITH b AS (
    SELECT event_type, value,
           {_mom_bucket} % {_MOM_BUCKETS} AS bkt,
           event_id
    FROM events
),
r AS (
    SELECT event_type, bkt, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, bkt
               ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type, bkt) AS n
    FROM b
),
med AS (
    SELECT event_type, bkt,
           CAST(round(value, 6) AS DECIMAL(18,6)) AS med6
    FROM r WHERE rn = (n + 1) // 2
),
agg AS (
    SELECT event_type, count(*) AS n_buckets,
           SUM(med6) AS sum_med
    FROM med GROUP BY event_type
),
tot AS (
    SELECT event_type, count(*) AS n_events,
           SUM(CAST(value AS DECIMAL(18,6))) AS sum_v
    FROM events GROUP BY event_type
)
SELECT t.event_type, CAST(t.n_events AS BIGINT) AS n_events,
       CAST(a.n_buckets AS BIGINT) AS n_buckets,
       {round_sql("CAST(a.sum_med AS DOUBLE) / a.n_buckets")} AS mom_mean,
       {round_sql("CAST(t.sum_v AS DOUBLE) / t.n_events")} AS plain_mean,
       {round_sql("(CAST(a.sum_med AS DOUBLE) / a.n_buckets"
                  " - CAST(t.sum_v AS DOUBLE) / t.n_events)"
                  " / (CAST(t.sum_v AS DOUBLE) / t.n_events)")} + 0.0
           AS rel_diff
FROM tot t JOIN agg a ON a.event_type = t.event_type
""")
def median_of_means_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means vs plain mean of event value per type (lower
    median per md5 bucket; value is rounded to 6 dp before the decimal
    fold — the raw doubles never meet a float SUM)."""
    events = load_table(spark, sf_dir, "events")
    b = events.select(
        "event_type", "value", "event_id",
        (md5_long(F.concat(F.lit("mom:"),
                           F.col("event_id").cast("string")))
         % _MOM_BUCKETS).alias("bkt"))
    wpart = Window.partitionBy("event_type", "bkt")
    r = (b.withColumn("rn", F.row_number().over(
            wpart.orderBy("value", "event_id")))
         .withColumn("n", F.count("*").over(wpart)))
    med = (r.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
           .select("event_type",
                   F.round("value", 6).cast("decimal(18,6)")
                    .alias("med6")))
    agg = med.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"), F.sum("med6").alias("sum_med"))
    tot = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_v"))
    mom = F.col("sum_med").cast("double") / F.col("n_buckets")
    plain = F.col("sum_v").cast("double") / F.col("n_events")
    return (tot.join(agg, "event_type")
            .select("event_type",
                    F.col("n_events").cast("long").alias("n_events"),
                    F.col("n_buckets").cast("long").alias("n_buckets"),
                    F.round(mom, 6).alias("mom_mean"),
                    F.round(plain, 6).alias("plain_mean"),
                    (F.round((mom - plain) / plain, 6) + 0.0)
                     .alias("rel_diff")))


# ---------------------------------------------------------------------------
# Content-defined chunking + chunk-level dedup accounting — rolling
# boundary on the token hash (window-1 CDC: a token whose md5 lands in
# the boundary residue class ends its chunk, expected chunk ≈ 4
# tokens), chunk identity = md5 of the space-joined chunk text, then
# corpus-wide duplicate-chunk accounting per source: the
# storage/transfer dedup readout (identical chunks across documents
# are the bytes a CDC store would never write twice).
#
# Scale shape: chunk assembly is per-(doc, chunk) — partitioned
# windows and a grouped sort_array fold over ≤ chunk-sized arrays;
# duplicate detection groups 32-byte chunk digests, never chunk text.
# ---------------------------------------------------------------------------

_CDC_DIV = 4  # boundary when md5 % 4 == 0 -> expected 4-token chunks

_cdc_key_sql = md5_long_sql("'cdc:' || tok")
_cdc_flag_sql = (f"CASE WHEN {_cdc_key_sql}"
                 f" % {_CDC_DIV} = 0 THEN 1 ELSE 0 END")


@register("cdc_chunk_dedup", f"""
WITH toked AS (
    SELECT doc_id, source,
           list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '') AS words
    FROM documents
),
toks AS (
    SELECT t.doc_id, t.source, i.i AS pos, t.words[i.i] AS tok
    FROM toked t, unnest(generate_series(1, len(t.words))) AS i(i)
),
flagged AS (
    SELECT doc_id, source, pos, tok,
           {_cdc_flag_sql} AS is_boundary
    FROM toks
),
chunked AS (
    SELECT doc_id, source, pos, tok,
           SUM(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) - is_boundary AS chunk_id
    FROM flagged
),
chunks AS (
    SELECT doc_id, source, chunk_id, count(*) AS n_toks,
           md5(array_to_string(list(tok ORDER BY pos), ' ')) AS ck
    FROM chunked GROUP BY doc_id, source, chunk_id
),
dupk AS (SELECT ck FROM chunks GROUP BY ck HAVING count(*) >= 2)
SELECT c.source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT c.ck) AS BIGINT) AS n_unique_keys,
       CAST(SUM(CASE WHEN d.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
       {round_sql("SUM(c.n_toks) / CAST(count(*) AS DOUBLE)")}
           AS mean_chunk_tokens,
       {round_sql("SUM(CASE WHEN d.ck IS NOT NULL THEN 1 ELSE 0 END)"
                  " / CAST(count(*) AS DOUBLE)")} AS dup_share
FROM chunks c LEFT JOIN dupk d ON d.ck = c.ck
GROUP BY c.source
""")
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source CDC chunk accounting: chunk instances, distinct
    chunk keys, instances whose key repeats ANYWHERE in the corpus
    (within-doc repeats included — they dedup in storage too), mean
    chunk length, duplicate share."""
    from travel_data_pipeline_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id")
    toks = (docs.select(
        "doc_id", "source",
        F.posexplode(text_ops.token_array(F.col("text")))
         .alias("p0", "tok"))
        .select("doc_id", "source", (F.col("p0") + 1).alias("pos"), "tok"))
    flag = F.when(
        md5_long(F.concat(F.lit("cdc:"), F.col("tok"))) % _CDC_DIV == 0,
        1).otherwise(0)
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    chunked = toks.withColumn(
        "chunk_id", F.sum(flag).over(w) - flag)
    chunks = (chunked.groupBy("doc_id", "source", "chunk_id")
              .agg(F.count("*").alias("n_toks"),
                   F.md5(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct(F.col("pos"), F.col("tok")))),
                           lambda s: s.tok),
                       " ")).alias("ck")))
    dupk = (chunks.groupBy("ck").agg(F.count("*").alias("kc"))
            .filter(F.col("kc") >= 2).select("ck"))
    marked = chunks.join(dupk.withColumn("is_dup", F.lit(1)), "ck", "left")
    return (marked.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.countDistinct("ck").cast("long")
                  .alias("n_unique_keys"),
                 F.sum(F.coalesce("is_dup", F.lit(0))).cast("long")
                  .alias("n_dup_chunks"),
                 F.round(F.sum("n_toks")
                         / F.count("*").cast("double"), 6)
                  .alias("mean_chunk_tokens"),
                 F.round(F.sum(F.coalesce("is_dup", F.lit(0)))
                         / F.count("*").cast("double"), 6)
                  .alias("dup_share")))


# ---------------------------------------------------------------------------
# Near-duplicate source-pair matrix — which SOURCES copy from each
# other: MinHash-LSH candidate pairs on the raw corpus (no planted
# augmentation), exact-Jaccard verified at tau=0.3, rolled up to
# canonical (source_a <= source_b) cells. The cross-source
# contamination readout dedup_rate_by_source (per-source exact rate)
# cannot see.
#
# Semantics note: pairs are LSH-RECALLED pairs — with 4 bands × 2
# rows, a jaccard-0.3 pair surfaces with P ≈ 0.31, a 0.9 pair with
# P ≈ 0.99; both engines mirror the identical band construction, so
# the recall set is bit-identical. Scale shape: identical to
# dedup_minhash_lsh (capped banded buckets, digest-keyed shuffles).
# ---------------------------------------------------------------------------

_SRC_PAIR_TAU = 0.3


def _src_pair_oracle() -> str:
    from travel_data_pipeline_spark.queries_northstar import (
        _banded_sql,
        _capped_sql,
        _NORMED,
        _PAIRS_CTE,
        _SHINGLED,
        _SIGS,
    )
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents),
{_NORMED.strip()},
{_SHINGLED.strip()},
{_SIGS.strip()},
{_banded_sql()},
{_capped_sql('banded', 'band_idx, band_key', 'bcap')},
{_PAIRS_CTE},
sets AS (SELECT DISTINCT doc_id, shingle FROM shingled),
sizes AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS i
    FROM pairs p JOIN sets a ON a.doc_id = p.doc_a
    JOIN sets b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
    GROUP BY p.doc_a, p.doc_b
),
jac AS (
    SELECT doc_a, doc_b,
           ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
),
srcd AS (
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           j.jaccard
    FROM jac j JOIN documents da ON da.doc_id = j.doc_a
    JOIN documents db ON db.doc_id = j.doc_b
    WHERE j.jaccard >= {_SRC_PAIR_TAU}
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
       MAX(jaccard) AS max_jaccard
FROM srcd GROUP BY source_a, source_b
"""


@register("neardup_source_matrix", _src_pair_oracle)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (source_a, source_b) near-dup pair counts at exact
    jaccard >= 0.3 over LSH-recalled candidates (raw corpus)."""
    from travel_data_pipeline_spark.operators import dedup
    from travel_data_pipeline_spark.queries_northstar import (
        BANDS,
        MAX_BUCKET,
        NUM_HASHES,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs.select("doc_id", "text"),
                                    num_hashes=NUM_HASHES)
    cands = dedup.lsh_candidate_pairs(sigs, num_hashes=NUM_HASHES,
                                      bands=BANDS, max_bucket=MAX_BUCKET)
    jac = dedup.jaccard_pairs(docs, cands, threshold=_SRC_PAIR_TAU)
    src = docs.select("doc_id", "source")
    srcd = (jac
            .join(src.withColumnsRenamed(
                {"doc_id": "doc_a", "source": "sa"}), "doc_a")
            .join(src.withColumnsRenamed(
                {"doc_id": "doc_b", "source": "sb"}), "doc_b")
            .select(F.least("sa", "sb").alias("source_a"),
                    F.greatest("sa", "sb").alias("source_b"),
                    "jaccard"))
    return (srcd.groupBy("source_a", "source_b")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.max("jaccard").alias("max_jaccard")))


# ---------------------------------------------------------------------------
# Markov stationary distribution — the long-run event-type mix implied
# by the first-order transition matrix (event_transition_matrix's
# fixed point), computed as 8 unrolled power-iteration steps in EXACT
# DECIMAL arithmetic: probabilities are 6-dp decimals, each step is a
# DECIMAL product-sum re-rounded to 6 dp, so there is no float
# accumulation anywhere and both engines agree bit-for-bit. Audited
# against the empirical event-type share — a large gap means the
# chain is far from mixed (sessions end before the long run).
#
# Scale shape: ONE data-scaled pass (the per-user lead window the
# transition matrix already pays); every iteration is a join of two
# <= |types|^2-row relations — the matrix is localCheckpoint'ed so
# the 8 steps don't replay the corpus scan 8 times (semantic_dedup
# precedent).
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 8


def _markov_oracle() -> str:
    p6 = round_sql("n / CAST(tot AS DOUBLE)")
    steps = []
    for i in range(1, _MARKOV_ITERS + 1):
        steps.append(f"""
v{i} AS (
    SELECT m.to_type AS event_type,
           CAST(round(SUM(v.p * m.p6), 6) AS DECIMAL(18,6)) AS p
    FROM v{i - 1} v JOIN m ON m.from_type = v.event_type
    GROUP BY m.to_type
)""")
    return f"""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
c AS (
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
),
t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY from_type),
m AS (
    SELECT c.from_type, c.to_type,
           CAST({p6} AS DECIMAL(18,6)) AS p6
    FROM c JOIN t ON t.from_type = c.from_type
),
types AS (SELECT DISTINCT from_type AS event_type FROM c),
ntypes AS (SELECT count(*) AS k FROM types),
v0 AS (
    SELECT event_type,
           CAST(round(1.0 / k, 6) AS DECIMAL(18,6)) AS p
    FROM types CROSS JOIN ntypes
),
{','.join(steps)},
emp AS (
    SELECT event_type, count(*) AS n_events,
           SUM(count(*)) OVER () AS total
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COALESCE(v.p, 0) AS DOUBLE) AS stationary_p,
       {round_sql("e.n_events / CAST(e.total AS DOUBLE)")}
           AS empirical_share,
       {round_sql("abs(CAST(COALESCE(v.p, 0) AS DOUBLE)"
                  " - e.n_events / CAST(e.total AS DOUBLE))")}
           AS abs_gap
FROM emp e LEFT JOIN v{_MARKOV_ITERS} v ON v.event_type = e.event_type
"""


@register("markov_stationary_distribution", _markov_oracle)
def markov_stationary_distribution(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Fixed-iteration (8-step) power iteration v <- vP over the
    6-dp-decimal transition matrix, vs the empirical type share. The
    vector is NOT renormalized between steps (rounding makes rows
    sub-stochastic by <= 3e-6 — deterministic on both sides)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select("user_id", "event_type",
                        F.lead("event_type").over(w).alias("next_type"))
    c = (seq.filter(F.col("next_type").isNotNull())
         .groupBy(F.col("event_type").alias("from_type"),
                  F.col("next_type").alias("to_type"))
         .agg(F.count("*").alias("n")))
    t = c.groupBy("from_type").agg(F.sum("n").alias("tot"))
    m = (c.join(t, "from_type")
         .select("from_type", "to_type",
                 F.round(F.col("n") / F.col("tot").cast("double"), 6)
                  .cast("decimal(18,6)").alias("p6"))
         .localCheckpoint(eager=True))  # 8 iterations must not replay
    #                                     the corpus-scan lineage
    types = m.select(F.col("from_type").alias("event_type")).distinct()
    k = types.agg(F.count("*").alias("k"))
    v = (types.crossJoin(F.broadcast(k))
         .select("event_type",
                 F.round(F.lit(1.0) / F.col("k"), 6)
                  .cast("decimal(18,6)").alias("p")))
    for _ in range(_MARKOV_ITERS):
        v = (v.join(F.broadcast(m),
                    v.event_type == m.from_type)
             .groupBy(F.col("to_type").alias("event_type"))
             .agg(F.round(F.sum(F.col("p") * F.col("p6")), 6)
                  .cast("decimal(18,6)").alias("p")))
    emp = (events.groupBy("event_type")
           .agg(F.count("*").alias("n_events")))
    tot = emp.agg(F.sum("n_events").alias("total"))
    share = F.col("n_events") / F.col("total").cast("double")
    stat = F.coalesce(F.col("p"), F.lit(0).cast("decimal(18,6)")) \
        .cast("double")
    return (emp.crossJoin(F.broadcast(tot))
            .join(v, "event_type", "left")
            .select("event_type",
                    stat.alias("stationary_p"),
                    F.round(share, 6).alias("empirical_share"),
                    F.round(F.abs(stat - share), 6).alias("abs_gap")))


# ---------------------------------------------------------------------------
# Sliding-window HLL distinct — 7-observed-day active-user estimate
# per day from the SAME persisted daily registers the running curve
# uses: register-wise max over a 7-row window per bucket, folded with
# the shared estimator, audited against the exact windowed distinct.
# The no-rescan rolling-WAU pattern: a day's estimate needs only the
# last 7 days' 64-register states.
#
# Window semantics: ROWS over the OBSERVED day grid (gap days don't
# occupy frame slots) — identical on both sides by construction.
# Scale shape: windows partitioned by bucket (64 x |days| rows); the
# exact audit joins the bounded day grid to itself on rank distance
# <= 6 and counts distinct (day, user) pairs — the audit baseline,
# not the production path.
# ---------------------------------------------------------------------------

_HLL_WIN = 7


def _hll_sliding_oracle() -> str:
    from travel_data_pipeline_spark.queries_round8 import (
        _HLL_M,
        _hll_fold_sql,
    )
    return f"""
WITH hashed AS (
    SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01',
                          date_trunc('day', ts)) AS BIGINT) AS day_idx,
           user_id,
           {md5_long_sql("'hll:' || CAST(user_id AS VARCHAR)")} AS h
    FROM events
),
rho AS (
    SELECT day_idx, CAST(h % {_HLL_M} AS INT) AS bucket,
           CASE WHEN h // {_HLL_M} = 0 THEN 55
                ELSE 55 - length(bin(h // {_HLL_M})) END AS r
    FROM hashed
),
day_regs AS (
    SELECT day_idx, bucket, MAX(r) AS m FROM rho GROUP BY day_idx, bucket
),
grid AS (
    SELECT d.day_idx, b.bucket, COALESCE(r.m, 0) AS m
    FROM (SELECT DISTINCT day_idx FROM hashed) d
    CROSS JOIN (SELECT unnest(generate_series(0, {_HLL_M - 1}))
                AS bucket) b
    LEFT JOIN day_regs r
      ON r.day_idx = d.day_idx AND r.bucket = b.bucket
),
win_regs AS (
    SELECT day_idx, bucket,
           MAX(m) OVER (PARTITION BY bucket ORDER BY day_idx
                        ROWS BETWEEN {_HLL_WIN - 1} PRECEDING
                        AND CURRENT ROW) AS m
    FROM grid
),
{_hll_fold_sql("day_idx", "win_regs")},
ranked AS (
    SELECT day_idx,
           ROW_NUMBER() OVER (ORDER BY day_idx) AS rnk
    FROM (SELECT DISTINCT day_idx FROM hashed)
),
du AS (SELECT DISTINCT day_idx, user_id FROM hashed),
exact AS (
    SELECT a.day_idx, COUNT(DISTINCT d.user_id) AS exact_n
    FROM ranked a JOIN ranked b
      ON b.rnk BETWEEN a.rnk - {_HLL_WIN - 1} AND a.rnk
    JOIN du d ON d.day_idx = b.day_idx
    GROUP BY a.day_idx
)
SELECT e.day_idx, CAST(x.exact_n AS BIGINT) AS exact_window_users,
       {round_sql("e.raw_est")} AS hll_estimate,
       {round_sql("(e.raw_est - x.exact_n)"
                  " / CAST(x.exact_n AS DOUBLE)")} + 0.0 AS rel_err
FROM est e JOIN exact x ON x.day_idx = e.day_idx
"""


@register("hll_sliding_window_distinct", _hll_sliding_oracle)
def hll_sliding_window_distinct(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Rolling 7-observed-day distinct-user estimate from windowed
    register maxes vs the exact windowed distinct."""
    from travel_data_pipeline_spark.queries_round8 import (
        _HLL_M,
        _hll_fold_spark,
        user_hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    day_idx = F.datediff(
        F.date_trunc("day", "ts"),
        F.lit("2024-01-01").cast("timestamp")).cast("long")
    hashed = ev.select(day_idx.alias("day_idx"), "user_id")
    day_regs = user_hll_registers(hashed, keys=("day_idx",))
    days = hashed.select("day_idx").distinct()
    buckets = spark.range(_HLL_M).select(
        F.col("id").cast("int").alias("bucket"))
    grid = (days.crossJoin(F.broadcast(buckets))
            .join(day_regs, ["day_idx", "bucket"], "left")
            .na.fill({"m": 0}))
    w_win = (Window.partitionBy("bucket").orderBy("day_idx")
             .rowsBetween(-(_HLL_WIN - 1), Window.currentRow))
    win_regs = grid.select("day_idx", "bucket",
                           F.max("m").over(w_win).alias("m"))
    est = _hll_fold_spark(win_regs, "day_idx")

    ranked = days.select(
        F.col("day_idx").alias("a_day"),
        F.row_number().over(Window.orderBy("day_idx")).alias("a_rnk"))
    b = ranked.select(F.col("a_day").alias("b_day"),
                      F.col("a_rnk").alias("b_rnk"))
    du = hashed.distinct().select(F.col("day_idx").alias("u_day"),
                                  "user_id")
    exact = (ranked.join(b, (F.col("b_rnk") >= F.col("a_rnk")
                             - (_HLL_WIN - 1))
                         & (F.col("b_rnk") <= F.col("a_rnk")))
             .join(du, F.col("u_day") == F.col("b_day"))
             .groupBy(F.col("a_day").alias("day_idx"))
             .agg(F.countDistinct("user_id").alias("exact_n")))
    return (est.join(exact, "day_idx")
            .select("day_idx",
                    F.col("exact_n").cast("long")
                     .alias("exact_window_users"),
                    F.round("raw_est", 6).alias("hll_estimate"),
                    (F.round((F.col("raw_est") - F.col("exact_n"))
                             / F.col("exact_n").cast("double"), 6)
                     + 0.0).alias("rel_err")))


# ---------------------------------------------------------------------------
# Source leave-one-out influence — data-valuation lite: how much does
# dropping each source move the corpus mean quality feature
# (alpha_ratio)? Closed form from exact per-source decimal sums:
# delta_s = (S - S_s)/(N - N_s) - S/N. No resampling, one grouped
# pass + a broadcast scalar; the ranking a curator reads before
# cutting a source.
# ---------------------------------------------------------------------------

_LOO_DELTA = ("(CAST(gs - s AS DOUBLE) / (gn - n_docs)"
              " - CAST(gs AS DOUBLE) / gn)")


@register("source_loo_influence", f"""
WITH feats AS (
    SELECT source,
           {round_sql("length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
                      " / GREATEST(length(text), 1)")} AS alpha_ratio
    FROM documents
),
per_src AS (
    SELECT source, count(*) AS n_docs,
           SUM(CAST(alpha_ratio AS DECIMAL(18,6))) AS s
    FROM feats GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS gn, SUM(s) AS gs FROM per_src)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       {round_sql("CAST(s AS DOUBLE) / n_docs")} AS mean_alpha_source,
       {round_sql("CAST(gs AS DOUBLE) / gn")} AS mean_alpha_global,
       {round_sql(_LOO_DELTA)} + 0.0 AS loo_delta
FROM per_src CROSS JOIN tot
""")
def source_loo_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source leave-one-out delta of the corpus mean alpha_ratio
    (6-dp-rounded feature -> decimal sums -> one shared double
    expression; positive delta = removing the source RAISES corpus
    quality)."""
    docs = load_table(spark, sf_dir, "documents")
    alpha = F.round(
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        / F.greatest(F.length("text"), F.lit(1)), 6)
    per_src = (docs.select("source", alpha.alias("alpha_ratio"))
               .groupBy("source")
               .agg(F.count("*").alias("n_docs"),
                    F.sum(F.col("alpha_ratio").cast("decimal(18,6)"))
                     .alias("s")))
    tot = per_src.agg(F.sum("n_docs").alias("gn"), F.sum("s").alias("gs"))
    delta = ((F.col("gs") - F.col("s")).cast("double")
             / (F.col("gn") - F.col("n_docs"))
             - F.col("gs").cast("double") / F.col("gn"))
    return (per_src.crossJoin(F.broadcast(tot))
            .select("source", F.col("n_docs").cast("long").alias("n_docs"),
                    F.round(F.col("s").cast("double")
                            / F.col("n_docs"), 6)
                     .alias("mean_alpha_source"),
                    F.round(F.col("gs").cast("double")
                            / F.col("gn"), 6).alias("mean_alpha_global"),
                    (F.round(delta, 6) + 0.0).alias("loo_delta")))


# ---------------------------------------------------------------------------
# l-diversity audit — the sibling k_anonymity_audit doesn't cover:
# a (event_type, day) quasi-identifier cell is re-identifying not
# just when SMALL but when all its rows belong to few distinct users.
# Reports per type the cells with user diversity below l=3.
# Scale shape: one grouped countDistinct per cell (bounded
# |types| x |days| cells), then a bounded rollup.
# ---------------------------------------------------------------------------

_LDIV_L = 3


@register("l_diversity_audit", f"""
WITH cells AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS n_rows,
           COUNT(DISTINCT user_id) AS l
    FROM events GROUP BY event_type, day
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
           AS weak_cells,
       CAST(SUM(CASE WHEN l < {_LDIV_L} THEN n_rows ELSE 0 END)
            AS BIGINT) AS weak_rows,
       {round_sql(f"SUM(CASE WHEN l < {_LDIV_L} THEN n_rows ELSE 0 END)"
                  " / CAST(SUM(n_rows) AS DOUBLE)")} AS weak_share
FROM cells GROUP BY event_type
""")
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user diversity of (event_type, day) cells; a weak cell
    has fewer than {_LDIV_L} distinct users."""
    events = load_table(spark, sf_dir, "events")
    cells = (events.groupBy("event_type",
                            F.col("ts").cast("date").alias("day"))
             .agg(F.count("*").alias("n_rows"),
                  F.countDistinct("user_id").alias("l")))
    return (cells.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.sum("n_rows").cast("long").alias("n_rows"),
                 F.min("l").cast("long").alias("min_l"),
                 F.sum(F.when(F.col("l") < _LDIV_L, 1).otherwise(0))
                  .cast("long").alias("weak_cells"),
                 F.sum(F.when(F.col("l") < _LDIV_L, F.col("n_rows"))
                       .otherwise(0)).cast("long").alias("weak_rows"),
                 F.round(F.sum(F.when(F.col("l") < _LDIV_L,
                                      F.col("n_rows")).otherwise(0))
                         / F.sum("n_rows").cast("double"), 6)
                  .alias("weak_share")))


# ---------------------------------------------------------------------------
# Poisson bootstrap CI — THE distributed bootstrap (Chamandy et al.,
# "Estimating Uncertainty for Massive Data Streams", Google 2012 —
# public): instead of resampling n rows with replacement (impossible
# without global coordination), each row independently enters
# replicate b with Poisson(1) multiplicity. Weights come from an
# md5-uniform inverse-CDF with PYTHON-literal thresholds, so both
# engines draw identical "randomness"; B=32 replicates of the mean
# purchase value per event type, with rank-selected lo/hi replicate
# means and an exact-moment bootstrap SE.
#
# Exactness: weighted sums ride DECIMAL (int weight x DECIMAL(18,6)
# value); replicate means are 6-dp rounded before the decimal moment
# fold; lo/hi are row_number selections over the bounded B-row
# relation. Scale shape: ONE pass over events with a B-fold
# flatMap-style explode (the bootstrap's documented cost), a
# (type, b)-grouped aggregation, then bounded windows.
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) CDF: P(X <= k) for k = 0..4; u above the last -> w = 5
_BOOT_CDF = (0.36787944117144233, 0.7357588823428847,
             0.9196986029286058, 0.9810118431238463,
             0.9963401531726563)
_BOOT_SCALE = float(1 << 60)  # md5_long is uniform on [0, 2^60)


def _boot_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_BOOT_CDF))
    return f"CASE {branches} ELSE 5 END"


@register("poisson_bootstrap_ci", f"""
WITH reps AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
w AS (
    SELECT e.event_type, e.value, r.b,
           {_boot_weight_sql(
               md5_long_sql("'boot:' || CAST(r.b AS VARCHAR) || ':' "
                            "|| CAST(e.event_id AS VARCHAR)")
               + f" / {_BOOT_SCALE!r}")} AS wt
    FROM events e CROSS JOIN reps r
),
per_rep AS (
    SELECT event_type, b,
           SUM(wt * CAST(round(value, 6) AS DECIMAL(18,6))) AS s,
           SUM(wt) AS n
    FROM w GROUP BY event_type, b
),
means AS (
    SELECT event_type, b,
           CAST(round(CAST(s AS DOUBLE) / n, 6) AS DECIMAL(18,6)) AS m,
           ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY CAST(s AS DOUBLE) / n, b) AS rn
    FROM per_rep WHERE n > 0
),
boot AS (
    SELECT event_type, count(*) AS n_reps,
           SUM(m) AS sm, SUM(CAST(m AS DECIMAL(19,6)) * m) AS smm,
           MAX(CASE WHEN rn = 2 THEN CAST(m AS DOUBLE) END) AS lo,
           MAX(CASE WHEN rn = {_BOOT_B - 1} THEN CAST(m AS DOUBLE) END)
               AS hi
    FROM means GROUP BY event_type
),
pt AS (
    SELECT event_type, count(*) AS n_events,
           SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS sv
    FROM events GROUP BY event_type
)
SELECT p.event_type, CAST(p.n_events AS BIGINT) AS n_events,
       {round_sql("CAST(p.sv AS DOUBLE) / p.n_events")} AS point_mean,
       CAST(b.n_reps AS BIGINT) AS n_reps,
       {round_sql("b.lo")} AS boot_lo, {round_sql("b.hi")} AS boot_hi,
       {round_sql("sqrt(GREATEST((CAST(b.smm AS DOUBLE)"
                  " - CAST(b.sm AS DOUBLE) * CAST(b.sm AS DOUBLE)"
                  " / b.n_reps) / (b.n_reps - 1), 0.0))")} AS boot_se
FROM pt p JOIN boot b ON b.event_type = p.event_type
""")
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean event value with a {_BOOT_B}-replicate Poisson
    bootstrap: rank-2 / rank-{_BOOT_B - 1} replicate means as the CI
    band and the exact-moment bootstrap SE."""
    # spread the single-file scan before the B-fold explode + 32
    # md5 evaluations per row (engine design rule)
    events = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id")
    reps = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    u = (md5_long(F.concat(F.lit("boot:"), F.col("b").cast("string"),
                           F.lit(":"), F.col("event_id").cast("string")))
         / F.lit(_BOOT_SCALE))
    wt = F.lit(5)
    for k in range(len(_BOOT_CDF) - 1, -1, -1):
        wt = F.when(u < _BOOT_CDF[k], k).otherwise(wt)
    w = (events.crossJoin(F.broadcast(reps))
         .select("event_type", "b",
                 (wt * F.round("value", 6).cast("decimal(18,6)"))
                 .alias("wv"), wt.alias("wt")))
    per_rep = (w.groupBy("event_type", "b")
               .agg(F.sum("wv").alias("s"), F.sum("wt").alias("n"))
               .filter(F.col("n") > 0))
    mean_d = F.col("s").cast("double") / F.col("n")
    wr = Window.partitionBy("event_type").orderBy(mean_d.asc(),
                                                  F.col("b").asc())
    means = per_rep.select(
        "event_type", "b",
        F.round(mean_d, 6).cast("decimal(18,6)").alias("m"),
        F.row_number().over(wr).alias("rn"))
    boot = means.groupBy("event_type").agg(
        F.count("*").alias("n_reps"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m").cast("decimal(19,6)") * F.col("m"))
         .alias("smm"),
        F.max(F.when(F.col("rn") == 2, F.col("m").cast("double")))
         .alias("lo"),
        F.max(F.when(F.col("rn") == _BOOT_B - 1,
                     F.col("m").cast("double"))).alias("hi"))
    pt = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("sv"))
    se = F.sqrt(F.greatest(
        (F.col("smm").cast("double")
         - F.col("sm").cast("double") * F.col("sm").cast("double")
         / F.col("n_reps")) / (F.col("n_reps") - 1), F.lit(0.0)))
    return (pt.join(boot, "event_type")
            .select("event_type",
                    F.col("n_events").cast("long").alias("n_events"),
                    F.round(F.col("sv").cast("double")
                            / F.col("n_events"), 6).alias("point_mean"),
                    F.col("n_reps").cast("long").alias("n_reps"),
                    F.round("lo", 6).alias("boot_lo"),
                    F.round("hi", 6).alias("boot_hi"),
                    F.round(se, 6).alias("boot_se")))


# ---------------------------------------------------------------------------
# Difference-in-differences — the 2x2 causal readout on the hashed
# experiment: (treatment post - treatment pre) - (control post -
# control pre) over a literal period boundary. Exact decimal cell
# means; the DiD statistic is one shared double expression attached
# to every cell row (ab_assignment_outcomes' wide-scalar pattern).
# ---------------------------------------------------------------------------

_DID_BOUNDARY = "2024-01-16"  # first 15 days = pre


@register("did_estimator", f"""
WITH cells AS (
    SELECT CASE WHEN ({_sprt_arm} % 2) = 1 THEN 'treatment'
                ELSE 'control' END AS arm,
           CASE WHEN ts < TIMESTAMP '{_DID_BOUNDARY}' THEN 'pre'
                ELSE 'post' END AS period,
           count(*) AS n,
           SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(18,2))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS spend
    FROM events GROUP BY arm, period
),
wide AS (
    SELECT MAX(CASE WHEN arm = 'treatment' AND period = 'post'
               THEN CAST(spend AS DOUBLE) / n END) AS tp,
           MAX(CASE WHEN arm = 'treatment' AND period = 'pre'
               THEN CAST(spend AS DOUBLE) / n END) AS tr,
           MAX(CASE WHEN arm = 'control' AND period = 'post'
               THEN CAST(spend AS DOUBLE) / n END) AS cp,
           MAX(CASE WHEN arm = 'control' AND period = 'pre'
               THEN CAST(spend AS DOUBLE) / n END) AS cr
    FROM cells
)
SELECT arm, period, CAST(n AS BIGINT) AS n_events,
       {round_sql("CAST(spend AS DOUBLE) / n")} AS mean_spend,
       {round_sql("(tp - tr) - (cp - cr)")} + 0.0 AS did
FROM cells CROSS JOIN wide
""")
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 (arm x period) mean spend-per-event cells with the
    difference-in-differences estimate attached to every row."""
    events = load_table(spark, sf_dir, "events")
    arm = F.when(
        (md5_long(F.concat(F.lit("ab:"),
                           F.col("user_id").cast("string"))) % 2) == 1,
        "treatment").otherwise("control")
    period = F.when(F.col("ts")
                    < F.lit(_DID_BOUNDARY).cast("timestamp"), "pre") \
        .otherwise("post")
    spend = F.when(F.col("event_type") == "purchase",
                   F.col("value").cast("decimal(18,2)")) \
        .otherwise(F.lit(0).cast("decimal(18,2)"))
    cells = (events.select(arm.alias("arm"), period.alias("period"),
                           spend.alias("sp"))
             .groupBy("arm", "period")
             .agg(F.count("*").alias("n"), F.sum("sp").alias("spend")))
    mean_c = F.col("spend").cast("double") / F.col("n")

    def cell(a, p):
        return F.max(F.when((F.col("arm") == a) & (F.col("period") == p),
                            mean_c))

    wide = cells.agg(cell("treatment", "post").alias("tp"),
                     cell("treatment", "pre").alias("tr"),
                     cell("control", "post").alias("cp"),
                     cell("control", "pre").alias("cr"))
    did = ((F.col("tp") - F.col("tr")) - (F.col("cp") - F.col("cr")))
    return (cells.crossJoin(F.broadcast(wide))
            .select("arm", "period",
                    F.col("n").cast("long").alias("n_events"),
                    F.round(mean_c, 6).alias("mean_spend"),
                    (F.round(did, 6) + 0.0).alias("did")))


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng et al., "Improving the Sensitivity
# of Online Controlled Experiments by Utilizing Pre-Experiment Data",
# WSDM 2013 — public): adjust each user's post-period spend by their
# pre-period spend, Y' = Y - theta (X - E[X]), theta = cov(X,Y)/
# var(X). Cuts metric variance by rho^2 at zero bias. All moments are
# exact decimal sums (spend products ride DECIMAL(38,4)); theta /
# rho^2 / the adjusted means are shared double expressions.
# Scale shape: one per-user grouped pass, a broadcast scalar moment
# row, a 2-row arm rollup.
# ---------------------------------------------------------------------------

_CUPED_THETA = ("((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
                " * CAST(sy AS DOUBLE) / nu)"
                " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
                " * CAST(sx AS DOUBLE) / nu))")
_CUPED_RHO2 = ("((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
               " * CAST(sy AS DOUBLE) / nu)"
               " * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
               " * CAST(sy AS DOUBLE) / nu)"
               " / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
               " * CAST(sx AS DOUBLE) / nu)"
               " * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)"
               " * CAST(sy AS DOUBLE) / nu)))")


@register("cuped_variance_reduction", f"""
WITH per_user AS (
    SELECT user_id,
           CASE WHEN ({_sprt_arm} % 2) = 1 THEN 'treatment'
                ELSE 'control' END AS arm,
           SUM(CASE WHEN event_type = 'purchase'
                    AND ts < TIMESTAMP '{_DID_BOUNDARY}'
               THEN CAST(value AS DECIMAL(18,2))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
           SUM(CASE WHEN event_type = 'purchase'
                    AND ts >= TIMESTAMP '{_DID_BOUNDARY}'
               THEN CAST(value AS DECIMAL(18,2))
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
    FROM events GROUP BY user_id, arm
),
mom AS (
    SELECT count(*) AS nu,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM per_user
),
arms AS (
    SELECT arm, count(*) AS n_users,
           SUM(x) AS ax, SUM(y) AS ay
    FROM per_user GROUP BY arm
)
SELECT arm, CAST(n_users AS BIGINT) AS n_users,
       {round_sql("CAST(ay AS DOUBLE) / n_users")} AS mean_post,
       {round_sql("CAST(ax AS DOUBLE) / n_users")} AS mean_pre,
       {round_sql(f"CAST(ay AS DOUBLE) / n_users - {_CUPED_THETA}"
                  f" * (CAST(ax AS DOUBLE) / n_users"
                  f" - CAST(sx AS DOUBLE) / nu)")} + 0.0
           AS adj_mean_post,
       {round_sql(_CUPED_THETA)} + 0.0 AS theta,
       {round_sql(_CUPED_RHO2)} AS var_reduction
FROM arms CROSS JOIN mom
""")
def cuped_variance_reduction(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-arm raw vs CUPED-adjusted post-period mean spend, the
    pooled theta, and the variance-reduction factor rho^2."""
    events = load_table(spark, sf_dir, "events")
    arm = F.when(
        (md5_long(F.concat(F.lit("ab:"),
                           F.col("user_id").cast("string"))) % 2) == 1,
        "treatment").otherwise("control")
    boundary = F.lit(_DID_BOUNDARY).cast("timestamp")
    z = F.lit(0).cast("decimal(18,2)")
    pre = F.when((F.col("event_type") == "purchase")
                 & (F.col("ts") < boundary),
                 F.col("value").cast("decimal(18,2)")).otherwise(z)
    post = F.when((F.col("event_type") == "purchase")
                  & (F.col("ts") >= boundary),
                  F.col("value").cast("decimal(18,2)")).otherwise(z)
    per_user = (events.select("user_id", arm.alias("arm"),
                              pre.alias("px"), post.alias("py"))
                .groupBy("user_id", "arm")
                .agg(F.sum("px").alias("x"), F.sum("py").alias("y")))
    mom = per_user.agg(
        F.count("*").alias("nu"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("ax"), F.sum("y").alias("ay"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov = d("sxy") - d("sx") * d("sy") / F.col("nu")
    varx = d("sxx") - d("sx") * d("sx") / F.col("nu")
    vary = d("syy") - d("sy") * d("sy") / F.col("nu")
    theta = cov / varx
    rho2 = cov * cov / (varx * vary)
    mean_post = d("ay") / F.col("n_users")
    mean_pre = d("ax") / F.col("n_users")
    adj = mean_post - theta * (mean_pre - d("sx") / F.col("nu"))
    return (arms.crossJoin(F.broadcast(mom))
            .select("arm", F.col("n_users").cast("long").alias("n_users"),
                    F.round(mean_post, 6).alias("mean_post"),
                    F.round(mean_pre, 6).alias("mean_pre"),
                    (F.round(adj, 6) + 0.0).alias("adj_mean_post"),
                    (F.round(theta, 6) + 0.0).alias("theta"),
                    F.round(rho2, 6).alias("var_reduction")))
