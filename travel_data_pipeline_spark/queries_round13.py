"""Round-13 candidate queries (written in round 9) — experimentation
guardrails, bandit readouts, and classic optimization operators:

- srm_assignment_audit: sample-ratio-mismatch chi-square per
  assignment salt — the trust gate every experiment readout should
  run before any ATE is believed (Fabijan et al. 2019, public).
- ucb_arm_scores: UCB1 (Auer et al. 2002, public) score per
  event-type arm over 6-dp-rounded rewards — the explore/exploit
  allocation readout of the experimentation family.
- bayes_beta_binomial_arms: conjugate Beta(1,1) posterior over
  per-user purchase conversion per arm — closed-form posterior
  mean/sd, no sampling.
- skyline_pareto_front: the 2-D skyline (Borzsony/Kossmann/Stocker
  2001, public) over parts (min price, max size) via a sort-free
  staircase: per-price group maxima, two-phase inclusive running
  max, first-attainer pick — no O(n^2) dominance join anywhere.

Float discipline (registry.py docstring authoritative): rewards are
rounded to 6 dp FIRST and summed as DECIMAL(18,6) (winsorized-mean
precedent — exact, order-free); ln/sqrt run on shared per-row trees;
chi-square and posteriors are pure integer-moment expressions.
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
# Sample-ratio-mismatch audit — for each registered assignment salt
# (the real experiment split plus the three placebo salts), compare
# the customer arm counts against the designed 50/50 and report the
# 1-df chi-square:  chi2 = (n0 - n1)^2 / N  (algebraic reduction of
# sum (o-e)^2/e for two equal-probability arms).  A flagged REAL
# split means every downstream ATE readout is suspect; a flagged
# placebo means the hash family itself is broken.
#
# Scale shape: one grouped pass over customers per salt (4 bounded
# aggregates, no join); output is |salts| rows.
# ---------------------------------------------------------------------------

_SRM_CRIT = 3.841458820694124  # chi-square(1 df) 95% critical value


def _srm_oracle() -> str:
    from travel_data_pipeline_spark.queries_round11 import (
        _PLACEBO_SALTS,
    )

    blocks = []
    for label, salt in _PLACEBO_SALTS:
        hashed = md5_long_sql(f"'{salt}' || CAST(c_custkey AS VARCHAR)")
        arm = f"({hashed} % 2)"
        blocks.append(f"""
SELECT '{label}' AS assignment,
       CAST(SUM(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ctrl,
       CAST(SUM(CASE WHEN {arm} = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
       {round_sql(
           f"CAST((SUM(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END)"
           f" - SUM(CASE WHEN {arm} = 1 THEN 1 ELSE 0 END))"
           f" * (SUM(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END)"
           f" - SUM(CASE WHEN {arm} = 1 THEN 1 ELSE 0 END)) AS DOUBLE)"
           f" / COUNT(*)")} AS chi2,
       CASE WHEN CAST((SUM(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN {arm} = 1 THEN 1 ELSE 0 END))
                 * (SUM(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN {arm} = 1 THEN 1 ELSE 0 END)) AS DOUBLE)
                 / COUNT(*) > {_SRM_CRIT!r}
            THEN 'srm' ELSE 'ok' END AS status
FROM customer""")
    return "\nUNION ALL\n".join(blocks)


@register("srm_assignment_audit", _srm_oracle)
def srm_assignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-df chi-square sample-ratio check of every assignment salt."""
    from travel_data_pipeline_spark.queries_round11 import (
        _PLACEBO_SALTS,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    outs = []
    for label, salt in _PLACEBO_SALTS:
        arm = (md5_long(F.concat(F.lit(salt),
                                 F.col("c_custkey").cast("string"))) % 2)
        agg = cust.agg(
            F.sum(F.when(arm == 0, 1).otherwise(0)).alias("n_ctrl"),
            F.sum(F.when(arm == 1, 1).otherwise(0)).alias("n_treat"),
            F.count("*").alias("n"))
        diff = (F.col("n_ctrl") - F.col("n_treat")).cast("double")
        chi2 = diff * diff / F.col("n")
        outs.append(agg.select(
            F.lit(label).alias("assignment"),
            F.col("n_ctrl").cast("long").alias("n_ctrl"),
            F.col("n_treat").cast("long").alias("n_treat"),
            F.round(chi2, 6).alias("chi2"),
            F.when(chi2 > _SRM_CRIT, "srm").otherwise("ok")
            .alias("status")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# UCB1 arm scores — each event type is an arm, its per-event `value`
# the reward (rounded to 6 dp first, so the per-arm sums accumulate
# EXACTLY in DECIMAL(18,6); the winsorized-mean precedent).  UCB1
# score = mean + sqrt(2 ln N / n_j); the argmax arm is the one a
# bandit scheduler would pull next.  ln and sqrt run on one shared
# per-row expression tree (entropy precedent).
#
# Scale shape: one grouped pass over events to |types| rows; the
# grand total broadcasts back.  The argmax flag compares each arm's
# ucb against the broadcast max of the SAME rounded column, so the
# flag is parity-stable by construction.
# ---------------------------------------------------------------------------


@register("ucb_arm_scores", f"""
WITH arms AS (
    SELECT event_type, COUNT(*) AS n,
           SUM(CAST({round_sql('value')} AS DECIMAL(18,6))) AS s
    FROM events GROUP BY event_type
),
tot AS (SELECT SUM(n) AS big_n FROM arms),
scored AS (
    SELECT event_type, n,
           {round_sql('CAST(s AS DOUBLE) / n')} AS mean_reward,
           {round_sql('CAST(s AS DOUBLE) / n'
                      ' + sqrt(2.0 * ln(CAST(t.big_n AS DOUBLE))'
                      ' / CAST(n AS DOUBLE))')} AS ucb_score
    FROM arms CROSS JOIN tot t
)
SELECT event_type, CAST(n AS BIGINT) AS n_pulls, mean_reward, ucb_score,
       CASE WHEN ucb_score = (SELECT MAX(ucb_score) FROM scored)
            THEN 'pull' ELSE 'hold' END AS next_action
FROM scored
""")
def ucb_arm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 score per event-type arm; the argmax arm is flagged."""
    ev = load_table(spark, sf_dir, "events")
    arms = (ev.select("event_type",
                      F.round("value", 6).cast("decimal(18,6)").alias("r"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("r").alias("s")))
    tot = arms.agg(F.sum("n").alias("big_n"))
    mean = F.col("s").cast("double") / F.col("n")
    ucb = mean + F.sqrt(F.lit(2.0) * F.log(F.col("big_n").cast("double"))
                        / F.col("n").cast("double"))
    scored = (arms.crossJoin(F.broadcast(tot))
              .select("event_type", "n",
                      F.round(mean, 6).alias("mean_reward"),
                      F.round(ucb, 6).alias("ucb_score")))
    best = scored.agg(F.max("ucb_score").alias("best"))
    return (scored.crossJoin(F.broadcast(best))
            .select("event_type", F.col("n").cast("long").alias("n_pulls"),
                    "mean_reward", "ucb_score",
                    F.when(F.col("ucb_score") == F.col("best"), "pull")
                    .otherwise("hold").alias("next_action")))


# ---------------------------------------------------------------------------
# Beta-binomial posterior per arm — per-user purchase conversion under
# the md5 'exp:' split with a Beta(1,1) prior: the posterior is
# Beta(1 + conv, 1 + n - conv) in closed form, so mean and sd are pure
# integer-moment expressions (no sampling, no special functions):
#
#   mean = a / (a + b)
#   var  = a*b / ((a+b)^2 * (a+b+1))
#
# Scale shape: one distinct-user pass over events (user grain), one
# grouped aggregate to 2 rows.
# ---------------------------------------------------------------------------


def _bb_oracle() -> str:
    hashed = md5_long_sql("'exp:' || CAST(user_id AS VARCHAR)")
    arm = f"({hashed} % 2)"
    return f"""
WITH users AS (
    SELECT user_id, {arm} AS arm,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY user_id, arm
),
m AS (
    SELECT arm, COUNT(*) AS n, SUM(converted) AS conv
    FROM users GROUP BY arm
)
SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n_users,
       CAST(conv AS BIGINT) AS n_converted,
       CAST(1 + conv AS BIGINT) AS alpha,
       CAST(1 + n - conv AS BIGINT) AS beta,
       {round_sql('CAST(1 + conv AS DOUBLE) / CAST(2 + n AS DOUBLE)')}
           AS post_mean,
       {round_sql(
           'sqrt(CAST(1 + conv AS DOUBLE) * CAST(1 + n - conv AS DOUBLE)'
           ' / (CAST(2 + n AS DOUBLE) * CAST(2 + n AS DOUBLE)'
           '    * CAST(3 + n AS DOUBLE)))')} AS post_sd
FROM m
"""


@register("bayes_beta_binomial_arms", _bb_oracle)
def bayes_beta_binomial_arms(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Closed-form Beta(1,1) posterior of per-user conversion per arm."""
    ev = load_table(spark, sf_dir, "events")
    arm = (md5_long(F.concat(F.lit("exp:"),
                             F.col("user_id").cast("string"))) % 2)
    users = (ev.groupBy("user_id", arm.alias("arm"))
             .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("converted")))
    m = users.groupBy("arm").agg(F.count("*").alias("n"),
                                 F.sum("converted").alias("conv"))
    a = (F.lit(1) + F.col("conv")).cast("double")
    b = (F.lit(1) + F.col("n") - F.col("conv")).cast("double")
    ab = (F.lit(2) + F.col("n")).cast("double")
    return m.select(
        F.col("arm").cast("long").alias("arm"),
        F.col("n").cast("long").alias("n_users"),
        F.col("conv").cast("long").alias("n_converted"),
        (F.lit(1) + F.col("conv")).cast("long").alias("alpha"),
        (F.lit(1) + F.col("n") - F.col("conv")).cast("long").alias("beta"),
        F.round(a / ab, 6).alias("post_mean"),
        F.round(F.sqrt(a * b / (ab * ab
                                * (F.lit(3) + F.col("n")).cast("double"))),
                6).alias("post_sd"))


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto front) over parts: minimize p_retailprice,
# maximize p_size.  A part is on the front iff no other part is
# both <= in price and >= in size with one strict.  Sort-free
# staircase instead of the O(n^2) dominance join:
#
#   1. per-price group maxima  (one groupBy)
#   2. inclusive running max of gmax along ascending price via
#      two_phase_ordered cummax (no single-partition sort)
#   3. a group is on the front iff its gmax ATTAINS the running max
#      AND it is the CHEAPEST group attaining that value (the
#      first-attainer pick — an exclusive-cummax test without lag)
#   4. join the (price, size) front back to parts; equal-(price,
#      size) duplicates all stay (neither strictly dominates).
#
# Scale shape: one groupBy to |distinct price| rows, the two-phase
# cummax, a |front|-bounded broadcast join back. Survives any corpus
# where |distinct price| shards — no dominance pair blowup.
# ---------------------------------------------------------------------------


@register("skyline_pareto_front", """
WITH g AS (
    SELECT p_retailprice AS price, MAX(p_size) AS gmax
    FROM part GROUP BY p_retailprice
),
st AS (
    SELECT price, gmax,
           MAX(gmax) OVER (ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev
    FROM g
),
sky AS (SELECT price, gmax FROM st WHERE prev IS NULL OR gmax > prev)
SELECT p.p_partkey, p.p_retailprice AS price,
       CAST(p.p_size AS BIGINT) AS size
FROM part p JOIN sky s
  ON p.p_retailprice = s.price AND p.p_size = s.gmax
""")
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts (min price, max size) via the two-phase
    running-max staircase; oracle uses the independent lag-window
    spelling of the same dominance semantics."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size")
    g = (part.groupBy(F.col("p_retailprice").alias("price"))
         .agg(F.max("p_size").alias("gmax")))
    st = two_phase_ordered(g, [F.col("price").asc()],
                           bucket_on=F.col("price"),
                           cummax_cols={"gmax": "runmax"})
    # attained running max == skyline candidate; the cheapest group
    # per attained VALUE is the true front point (a later group with
    # the same size is dominated by this cheaper one)
    sky = (st.filter(F.col("gmax") == F.col("runmax"))
           .groupBy("gmax").agg(F.min("price").alias("price")))
    return (part.join(F.broadcast(sky),
                      (part.p_retailprice == sky.price)
                      & (part.p_size == sky.gmax))
            .select("p_partkey", F.col("p_retailprice").alias("price"),
                    F.col("p_size").cast("long").alias("size")))


# ---------------------------------------------------------------------------
# Lexical diversity per source — type-token ratio, hapax share, and
# Simpson's repeat-probability over the per-source token frequency
# spectrum: the vocabulary-health readout a mixture planner reads
# next to the quality scores (a source whose TTR collapses is
# boilerplate; one whose hapax share explodes is OCR noise).
#
# Exactness: every statistic is an integer-moment expression
# (DECIMAL(38,0) products for Simpson's sum-of-pairs), so there is no
# float fold at all. Scale shape: one (source, token) groupBy over
# the exploded corpus, then a |sources|-bounded aggregate.
# ---------------------------------------------------------------------------

_LD_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register("lexical_diversity_by_source", f"""
WITH toks AS (
    SELECT source, unnest(string_split({_LD_NORM}, ' ')) AS w
    FROM documents
),
tf AS (
    SELECT source, w, COUNT(*) AS c
    FROM toks WHERE w <> '' GROUP BY source, w
),
m AS (
    SELECT source,
           SUM(c) AS n_tokens,
           COUNT(*) AS n_types,
           SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax,
           SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS pair_sum
    FROM tf GROUP BY source
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(n_hapax AS BIGINT) AS n_hapax,
       {round_sql('CAST(n_types AS DOUBLE) / n_tokens')} AS ttr,
       {round_sql('CAST(n_hapax AS DOUBLE) / n_types')} AS hapax_share,
       CASE WHEN n_tokens <= 1 THEN NULL
            ELSE {round_sql(
                'CAST(CAST(pair_sum AS VARCHAR) AS DOUBLE)'
                ' / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))')}
       END AS simpson_repeat
FROM m
""")
def lexical_diversity_by_source(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TTR / hapax share / Simpson repeat probability per source —
    pure integer moments over the (source, token) spectrum."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    words = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    toks = (docs.select("source", F.explode(words).alias("w"))
            .filter(F.col("w") != ""))
    tf = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    m = tf.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1))
        .alias("pair_sum"))
    nd = F.col("n_tokens").cast("double")
    return m.select(
        "source", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_hapax").cast("long").alias("n_hapax"),
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6)
        .alias("ttr"),
        F.round(F.col("n_hapax").cast("double") / F.col("n_types"), 6)
        .alias("hapax_share"),
        F.when(F.col("n_tokens") <= 1, F.lit(None).cast("double"))
        .otherwise(F.round(
            F.col("pair_sum").cast("string").cast("double")
            / (nd * (nd - F.lit(1.0))), 6)).alias("simpson_repeat"))


# ---------------------------------------------------------------------------
# Character-entropy spam flags per source — per-document Shannon
# entropy over the normalized character distribution (repeated-char /
# keyboard-mash spam sits far below natural text), rolled up to a
# per-source flag-rate readout with order-free min/max entropies.
#
#   H(doc) = ln(N) - (sum_ch c*ln c) / N        [nats]
#
# The per-doc fold walks (char, count) cells in pinned CHARACTER
# order (array_sort fold == list(... ORDER BY) fold), so the double
# summation order is identical in both engines; per-source rollups
# use only counts and min/max (order-free) — no corpus-scaled float
# fold anywhere.
# ---------------------------------------------------------------------------

_ENT_LOW = 2.5  # nats; natural-language chars sit well above this


@register("char_entropy_flags", f"""
WITH chars AS (
    SELECT doc_id, source,
           unnest(string_split_regex({_LD_NORM}, '')) AS ch
    FROM documents
),
cc AS (
    SELECT doc_id, source, ch, COUNT(*) AS c
    FROM chars WHERE ch <> '' GROUP BY doc_id, source, ch
),
ent AS (
    SELECT doc_id, source, SUM(c) AS n,
           {ordered_sum_sql("c * ln(CAST(c AS DOUBLE))", "ch")} AS clogc
    FROM cc GROUP BY doc_id, source
),
h AS (
    SELECT doc_id, source,
           CASE WHEN n <= 1 THEN 0.0
                ELSE ln(CAST(n AS DOUBLE)) - clogc / n END AS ent_nats
    FROM ent
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ent_nats < {_ENT_LOW!r} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low_entropy,
       {round_sql(f'SUM(CASE WHEN ent_nats < {_ENT_LOW!r} THEN 1 '
                  f'ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)')}
           AS low_share,
       {round_sql('MIN(ent_nats)')} AS min_entropy,
       {round_sql('MAX(ent_nats)')} AS max_entropy
FROM h GROUP BY source
""")
def char_entropy_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-entropy spam accounting (pinned-order
    per-doc folds; min/max rollups are order-free)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    cc = (docs.select("doc_id", "source",
                      F.explode(F.split(norm, "")).alias("ch"))
          .filter(F.col("ch") != "")
          .groupBy("doc_id", "source", "ch")
          .agg(F.count("*").alias("c")))
    ent = (cc.groupBy("doc_id", "source")
           .agg(F.sum("c").alias("n"),
                ordered_sum(F.col("c") * F.log(F.col("c").cast("double")),
                            "ch").alias("clogc")))
    h = ent.select(
        "source",
        F.when(F.col("n") <= 1, F.lit(0.0))
        .otherwise(F.log(F.col("n").cast("double"))
                   - F.col("clogc") / F.col("n")).alias("ent_nats"))
    return (h.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("ent_nats") < _ENT_LOW, 1)
                       .otherwise(0)).cast("long").alias("n_low_entropy"),
                 F.round(F.sum(F.when(F.col("ent_nats") < _ENT_LOW, 1)
                               .otherwise(0))
                         / F.count("*").cast("double"), 6)
                 .alias("low_share"),
                 F.round(F.min("ent_nats"), 6).alias("min_entropy"),
                 F.round(F.max("ent_nats"), 6).alias("max_entropy")))


# ---------------------------------------------------------------------------
# Kneser-Ney bigram perplexity — the stronger-smoothing sibling of
# bigram_lm_perplexity (same occurrence/model/fold shape, richer
# model; Kneser & Ney 1995, public). Interpolated form with absolute
# discount D = 0.75:
#
#   P(w2|w1) = (max(c(w1 w2) - D, 0)
#               + D * N1+(w1 .) * Pcont(w2)) / c(w1 .)
#   Pcont(w2) = N1+(. w2) / |distinct bigram types|
#
# Every count is an exact integer; P is one shared per-row double
# tree; the per-doc nll fold is position-pinned (bigram_lm
# precedent). In-sample evaluation (train == eval) means every w1
# context exists, so c(w1 .) > 0 and no backoff-to-unigram branch is
# needed.
#
# Scale shape: identical to bigram_lm_perplexity — vocabulary-sized
# model tables broadcast onto the occurrence stream; the only
# corpus-scaled shuffles are the model-count groupBys and the
# per-doc fold.
# ---------------------------------------------------------------------------

_KN_D = 0.75

_KN_OCC_SQL = f"""
    SELECT doc_id, i.i AS pos,
           words[i.i] || ' ' || words[i.i+1] AS bg,
           words[i.i] AS w1, words[i.i+1] AS w2
    FROM (SELECT doc_id, string_split({_LD_NORM}, ' ') AS words
          FROM documents) t,
         unnest(generate_series(1, len(words) - 1)) AS i(i)
"""


@register("kn_bigram_ppl", f"""
WITH occ AS ({_KN_OCC_SQL}),
bg_counts AS (SELECT bg, COUNT(*) AS c FROM occ GROUP BY bg),
ctx AS (
    SELECT w1, COUNT(*) AS ctx_n, COUNT(DISTINCT w2) AS n1_fwd
    FROM occ GROUP BY w1
),
cont AS (SELECT w2, COUNT(DISTINCT w1) AS n1_back FROM occ GROUP BY w2),
types AS (SELECT COUNT(*) AS n_types FROM bg_counts),
scored AS (
    SELECT o.doc_id, o.pos,
           -ln((GREATEST(b.c - {_KN_D!r}, 0.0)
                + {_KN_D!r} * x.n1_fwd
                  * (CAST(k.n1_back AS DOUBLE) / t.n_types))
               / CAST(x.ctx_n AS DOUBLE)) AS nll
    FROM occ o
    JOIN bg_counts b ON o.bg = b.bg
    JOIN ctx x ON o.w1 = x.w1
    JOIN cont k ON o.w2 = k.w2
    CROSS JOIN types t
),
folded AS (
    SELECT doc_id, COUNT(*) AS n_bigrams,
           {ordered_sum_sql("nll", "pos")} AS total
    FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       {round_sql('exp(total / n_bigrams)')} AS kn_ppl
FROM folded
""")
def kn_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram perplexity
    (D=0.75; in-sample, so no unigram backoff branch)."""
    docs = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    words = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    # size >= 2 guard: F.sequence(1, size-1) is DESCENDING [1, 0] for
    # empty/one-word docs and element_at(words, 0) throws under ANSI,
    # while the oracle's generate_series(1, 0) is empty (ADVICE r09).
    toks = (docs.select("doc_id", words.alias("words"))
            .filter(F.size("words") >= 2))
    occ = (toks.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("words") - 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat(F.element_at("words", i), F.lit(" "),
                         F.element_at("words", i + 1)).alias("bg"),
                F.element_at("words", i).alias("w1"),
                F.element_at("words", i + 1).alias("w2")))).alias("o"))
        .select("doc_id", "o.pos", "o.bg", "o.w1", "o.w2"))
    bg_counts = occ.groupBy("bg").agg(F.count("*").alias("c"))
    ctx = occ.groupBy("w1").agg(F.count("*").alias("ctx_n"),
                                F.countDistinct("w2").alias("n1_fwd"))
    cont = occ.groupBy("w2").agg(F.countDistinct("w1").alias("n1_back"))
    types = bg_counts.agg(F.count("*").alias("n_types"))
    p = ((F.greatest(F.col("c") - _KN_D, F.lit(0.0))
          + _KN_D * F.col("n1_fwd")
          * (F.col("n1_back").cast("double") / F.col("n_types")))
         / F.col("ctx_n").cast("double"))
    scored = (occ
              .join(F.broadcast(bg_counts), "bg")
              .join(F.broadcast(ctx), "w1")
              .join(F.broadcast(cont), "w2")
              .crossJoin(F.broadcast(types))
              .select("doc_id", "pos", (-F.log(p)).alias("nll")))
    folded = (scored.groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   ordered_sum("nll", "pos").alias("total")))
    return folded.select(
        "doc_id", F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(F.exp(F.col("total") / F.col("n_bigrams")), 6)
        .alias("kn_ppl"))


# ---------------------------------------------------------------------------
# AMS tug-of-war F2 sketch audit — estimate the self-join size
# (second frequency moment, F2 = sum_u c_u^2) of the event user
# stream from 16 {+1,-1}-hashed counters and compare against the
# exact value (the KMV sketch-trust pattern, for join-size
# estimation; Alon-Matias-Szegedy 1996, public).
#
#   X_j   = sum_u s_j(u) * c_u        s_j in {+1,-1} from md5
#   est_j = X_j^2                     (E[est_j] = F2)
#   est   = median of 4 group means of 4   (median-of-means)
#
# Exactness: X_j and est_j are INTEGERS; group means are exact
# DECIMALs (/4); the median of the 4 group means is the mean of the
# two middle values of a sorted 4-array — everything stays exact
# until the final rel_err ratio (string-bridged casts; parity.py
# magnitude hazard).
#
# Scale shape: one user groupBy, a bounded 16-way sign expansion,
# a 16-row aggregate — sketch state is O(1) regardless of stream
# size, exactly how a 100 TB join-size probe would run (the exact_f2
# arm is the audit's ground truth and shares the user-count pass).
# ---------------------------------------------------------------------------

_AMS_K = 16  # 4 groups x 4 counters


def _ams_oracle() -> str:
    sign_rows = []
    for j in range(_AMS_K):
        h = md5_long_sql(f"'ams{j}:' || CAST(user_id AS VARCHAR)")
        sign_rows.append(f"SELECT user_id, c, {j} AS j, "
                         f"(1 - 2 * ({h} % 2)) AS s FROM uc")
    signs = "\nUNION ALL\n".join(sign_rows)
    return f"""
WITH uc AS (
    SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
),
signed AS ({signs}),
counters AS (
    SELECT j, SUM(s * c) AS x FROM signed GROUP BY j
),
ests AS (
    SELECT j // 4 AS grp,
           CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,2)) / 4
               AS gmean
    FROM counters GROUP BY j // 4
),
med AS (
    SELECT list(gmean ORDER BY gmean) AS gs FROM ests
),
ex AS (
    SELECT SUM(CAST(c AS DECIMAL(38,0)) * c) AS f2 FROM uc
)
SELECT CAST(ex.f2 AS BIGINT) AS exact_f2,
       {round_sql('CAST(CAST((med.gs[2] + med.gs[3]) / 2 AS VARCHAR)'
                  ' AS DOUBLE)')} AS est_f2,
       {round_sql(
           'abs(CAST(CAST((med.gs[2] + med.gs[3]) / 2 AS VARCHAR)'
           ' AS DOUBLE)'
           ' - CAST(CAST(ex.f2 AS VARCHAR) AS DOUBLE))'
           ' / CAST(CAST(ex.f2 AS VARCHAR) AS DOUBLE)')} AS rel_err
FROM med CROSS JOIN ex
"""


@register("ams_f2_join_size", _ams_oracle)
def ams_f2_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means AMS F2 (self-join size) estimate vs the exact
    second moment of the event user stream."""
    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    signed = uc.select(
        "user_id", "c",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                (1 - 2 * (md5_long(F.concat(
                    F.lit(f"ams{j}:"),
                    F.col("user_id").cast("string"))) % 2)).alias("s"))
            for j in range(_AMS_K)])).alias("e")
    ).select("c", "e.j", "e.s")
    counters = (signed.groupBy("j")
                .agg(F.sum(F.col("s") * F.col("c")).alias("x")))
    ests = (counters.groupBy((F.col("j") / 4).cast("int").alias("grp"))
            .agg((F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
                  .cast("decimal(38,2)") / 4).alias("gmean")))
    med = ests.agg(F.sort_array(F.collect_list("gmean")).alias("gs"))
    ex = uc.agg(F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
                .alias("f2"))
    est = ((F.element_at("gs", 2) + F.element_at("gs", 3)) / 2)
    estd = est.cast("string").cast("double")
    exd = F.col("f2").cast("string").cast("double")
    return (med.crossJoin(F.broadcast(ex))
            .select(F.col("f2").cast("long").alias("exact_f2"),
                    F.round(estd, 6).alias("est_f2"),
                    F.round(F.abs(estd - exd) / exd, 6).alias("rel_err")))


# ---------------------------------------------------------------------------
# Matrix-profile motifs over the daily arrival series — for every
# length-7 window of the zero-filled daily event-count series, the
# nearest other window at least m days away (the trivial-match
# exclusion zone), under (non-normalized) Euclidean distance
# (Yeh et al. 2016's matrix profile, public; the un-normalized
# variant keeps every distance an exact INTEGER sum of squared count
# differences — no float fold anywhere until the final sqrt).  The
# global min pair is the motif (repeated weekly shape), the global
# max the discord (the anomalous week).
#
# Scale shape: the series is DAY-grained — the pair relation is
# O(horizon^2) in TIME, independent of corpus row count (the
# theil_sen posture); counts come from one grouped pass over events.
# ---------------------------------------------------------------------------

_MP_M = 7  # window length = exclusion zone


@register("matrix_profile_motifs", f"""
WITH b AS (
    SELECT MIN(CAST(ts AS DATE)) AS d0,
           CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                          MAX(CAST(ts AS DATE))) AS INT) + 1 AS dd
    FROM events
),
cnt AS (
    SELECT CAST(date_diff('day', b.d0, CAST(ts AS DATE)) AS INT) AS idx,
           COUNT(*) AS c
    FROM events, b GROUP BY idx
),
arr AS (
    SELECT list(COALESCE(cnt.c, 0) ORDER BY g.i) AS a
    FROM b, unnest(generate_series(0, b.dd - 1)) AS g(i)
    LEFT JOIN cnt ON cnt.idx = g.i
),
subs AS (
    SELECT g.i AS i FROM b, unnest(generate_series(0, b.dd - {_MP_M}))
        AS g(i)
),
prs AS (
    SELECT si.i AS i, sj.i AS j,
           list_reduce(list_transform(generate_series(1, {_MP_M}),
               k -> (arr.a[si.i + k] - arr.a[sj.i + k])
                    * (arr.a[si.i + k] - arr.a[sj.i + k])),
               (x, y) -> x + y) AS d2
    FROM subs si JOIN subs sj ON abs(si.i - sj.i) >= {_MP_M}
    CROSS JOIN arr
),
nn AS (
    SELECT i, j, d2,
           row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
    FROM prs
),
mp AS (SELECT i, j, d2 FROM nn WHERE rn = 1),
ext AS (SELECT MIN(d2) AS lo, MAX(d2) AS hi FROM mp)
SELECT strftime(b.d0 + CAST(mp.i AS INT), '%Y-%m-%d') AS start_day,
       strftime(b.d0 + CAST(mp.j AS INT), '%Y-%m-%d') AS nn_day,
       CAST(mp.d2 AS BIGINT) AS d2,
       {round_sql('sqrt(CAST(mp.d2 AS DOUBLE))')} AS dist,
       CASE WHEN mp.d2 = ext.lo THEN 'motif'
            WHEN mp.d2 = ext.hi THEN 'discord'
            ELSE 'normal' END AS role
FROM mp, b, ext
""")
def matrix_profile_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window nearest-neighbor profile of the daily count series
    (integer Euclidean, m=7, exclusion zone m); motif/discord flags."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    b = ev.agg(F.min(day).alias("d0"),
               (F.datediff(F.max(day), F.min(day)) + 1).alias("dd"))
    cnt = (ev.crossJoin(F.broadcast(b))
           .groupBy(F.datediff(day, F.col("d0")).alias("idx"))
           .agg(F.count("*").alias("c")))
    arr = (cnt.crossJoin(F.broadcast(b))
           .agg(F.map_from_entries(
                    F.collect_list(F.struct("idx", "c"))).alias("m"),
                F.max("dd").alias("dd"), F.max("d0").alias("d0"))
           .select("d0", "dd",
                   F.transform(
                       F.sequence(F.lit(0), F.col("dd") - 1),
                       lambda i: F.coalesce(F.try_element_at("m", i),
                                            F.lit(0).cast("long")))
                   .alias("a")))
    subs = arr.select(
        "d0", "a",
        F.explode(F.sequence(F.lit(0), F.col("dd") - _MP_M)).alias("i"))
    si = subs.select("d0", "a", F.col("i"))
    sj = subs.select(F.col("a").alias("a2"), F.col("i").alias("j"))
    d2 = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(_MP_M)),
            lambda k: (F.element_at("a", F.col("i") + k)
                       - F.element_at("a2", F.col("j") + k))
            * (F.element_at("a", F.col("i") + k)
               - F.element_at("a2", F.col("j") + k))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    prs = (si.join(F.broadcast(sj.drop("a2").crossJoin(
        F.broadcast(arr.select(F.col("a").alias("a2"))))),
        F.abs(F.col("i") - F.col("j")) >= _MP_M)
        .select("d0", "i", "j", d2.alias("d2")))
    mp = (prs.groupBy("d0", "i")
          .agg(F.min(F.struct("d2", "j")).alias("nn"))
          .select("d0", "i", F.col("nn.j").alias("j"),
                  F.col("nn.d2").alias("d2")))
    ext = mp.agg(F.min("d2").alias("lo"), F.max("d2").alias("hi"))
    return (mp.crossJoin(F.broadcast(ext))
            .select(F.date_format(F.date_add(F.col("d0"), F.col("i")),
                                  "yyyy-MM-dd").alias("start_day"),
                    F.date_format(F.date_add(F.col("d0"), F.col("j")),
                                  "yyyy-MM-dd").alias("nn_day"),
                    F.col("d2").cast("long").alias("d2"),
                    F.round(F.sqrt(F.col("d2").cast("double")), 6)
                    .alias("dist"),
                    F.when(F.col("d2") == F.col("lo"), "motif")
                    .when(F.col("d2") == F.col("hi"), "discord")
                    .otherwise("normal").alias("role")))


# ---------------------------------------------------------------------------
# File-clustering depth audit — the data-layout metric behind
# OPTIMIZE/ZORDER decisions: bin orders into 64-row files under three
# layouts (natural key order, value-sorted, hashed), take each file's
# [min, max] o_totalprice zone, and measure how many zones OVERLAP at
# each file's start (the "clustering depth" a point query pays).
# A value-sorted layout has depth ~1 (only same-value ties overlap);
# natural and hashed layouts approach n_files (every file spans the
# whole value range -> zone maps are useless).
#
# Depth at a file's lo boundary = open intervals covering it =
# inclusive running sum of (+1 at lo, -1 at hi) boundary events with
# starts ordered before ends at equal positions.  The running sum
# rides two_phase_ordered cumsum (exact ints, no single-partition
# sort), so the sweep survives any file count; the per-layout rollup
# is |files|-bounded.
# ---------------------------------------------------------------------------

_CD_FILE_ROWS = 64


def _cd_layout_sql(label: str, order_expr: str) -> str:
    r = _CD_FILE_ROWS
    return f"""
SELECT '{label}' AS layout, n_files, max_depth, avg_depth, share_depth1
FROM (
    WITH ranked_{label} AS (
        SELECT o_totalprice,
               row_number() OVER (ORDER BY {order_expr}) AS rk
        FROM orders
    ),
    files_{label} AS (
        SELECT CAST((rk - 1) // {r} AS BIGINT) AS file_id,
               MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        FROM ranked_{label} GROUP BY file_id
    ),
    ev_{label} AS (
        SELECT file_id, lo AS pos, 1 AS delta FROM files_{label}
        UNION ALL
        SELECT file_id, hi AS pos, -1 AS delta FROM files_{label}
    ),
    swept_{label} AS (
        SELECT file_id, delta,
               SUM(delta) OVER (ORDER BY pos, delta DESC, file_id
                                ROWS UNBOUNDED PRECEDING) AS depth
        FROM ev_{label}
    ),
    starts_{label} AS (
        SELECT depth FROM swept_{label} WHERE delta = 1
    )
    SELECT COUNT(*) AS n_files,
           CAST(MAX(depth) AS BIGINT) AS max_depth,
           {round_sql('SUM(depth) / CAST(COUNT(*) AS DOUBLE)')}
               AS avg_depth,
           {round_sql('SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END)'
                      ' / CAST(COUNT(*) AS DOUBLE)')} AS share_depth1
    FROM starts_{label}
)
"""


def _cd_oracle() -> str:
    h = md5_long_sql("'cd:' || CAST(o_orderkey AS VARCHAR)")
    layouts = [("natural", "o_orderkey"),
               ("sorted", "o_totalprice, o_orderkey"),
               ("hashed", f"{h}, o_orderkey")]
    return "\nUNION ALL\n".join(
        _cd_layout_sql(label, expr) for label, expr in layouts)


@register("clustering_depth_audit", _cd_oracle)
def clustering_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-overlap depth (n_files / max / avg / share at depth 1)
    of 64-row files under natural, value-sorted, and hashed layouts."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    h = md5_long(F.concat(F.lit("cd:"), F.col("o_orderkey").cast("string")))
    layouts = [
        ("natural", [F.col("o_orderkey").asc()],
         F.col("o_orderkey").cast("double")),
        ("sorted", [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
         F.col("o_totalprice").cast("double")),
        ("hashed", [h.asc(), F.col("o_orderkey").asc()], h.cast("double")),
    ]
    evs = []
    for lidx, (label, order_cols, bucket) in enumerate(layouts):
        ranked = two_phase_ordered(orders, order_cols, bucket_on=bucket,
                                   rank_col="rk")
        # persist the (tiny, n_rows/64) file-zone relation: the
        # combined sweep's quantile probe AND the final aggregate both
        # consume it, and without the persist each would re-execute
        # the full rank pipeline
        files = (ranked
                 .groupBy(((F.col("rk") - 1) / _CD_FILE_ROWS)
                          .cast("long").alias("file_id"))
                 .agg(F.min("o_totalprice").alias("lo"),
                      F.max("o_totalprice").alias("hi"))
                 .persist())
        evs.append(
            files.select(F.lit(lidx).alias("lidx"),
                         F.lit(label).alias("layout"), "file_id",
                         F.col("lo").alias("pos"), F.lit(1).alias("delta"))
            .unionByName(
                files.select(F.lit(lidx).alias("lidx"),
                             F.lit(label).alias("layout"), "file_id",
                             F.col("hi").alias("pos"),
                             F.lit(-1).alias("delta"))))
    ev = evs[0].unionByName(evs[1]).unionByName(evs[2])
    # ONE combined sweep instead of one per layout (one quantile probe,
    # one windowed pass — 9 driver actions became 5; measured at sf0.1
    # best-of-3: build 21.2s -> 4.2s, exec 5.7s -> 1.9s on the same
    # loaded box): the concatenated inclusive cumsum is
    # per-layout-correct because every layout's deltas net to ZERO
    # (each opened interval closes), so the carried offset at every
    # layout boundary is 0.  bucket_on stays monotone along the order
    # via lidx * 1e9 + pos (o_totalprice << 1e9).
    swept = two_phase_ordered(
        ev, [F.col("lidx").asc(), F.col("pos").asc(),
             F.col("delta").desc(), F.col("file_id").asc()],
        bucket_on=F.col("lidx") * F.lit(1e9) + F.col("pos"),
        cumsum_cols={"delta": "depth"})
    starts = swept.filter(F.col("delta") == 1)
    return (starts.groupBy("layout")
            .agg(F.count("*").alias("n_files"),
                 F.max("depth").cast("long").alias("max_depth"),
                 F.round(F.sum("depth") / F.count("*").cast("double"), 6)
                 .alias("avg_depth"),
                 F.round(F.sum(F.when(F.col("depth") == 1, 1)
                               .otherwise(0))
                         / F.count("*").cast("double"), 6)
                 .alias("share_depth1"))
            .select("layout", "n_files", "max_depth", "avg_depth",
                    "share_depth1"))


# ---------------------------------------------------------------------------
# Simplified silhouette per k-means cluster — the clustering-quality
# readout of the embedding family: for each vector, a = distance to
# its OWN final centroid (the kmeans assignment distance), b = min
# distance to any OTHER final centroid, s = (b - a) / max(a, b)
# (Rousseeuw 1987's silhouette in its centroid-simplified form —
# O(n*k) instead of O(n^2), the form that survives corpus scale).
#
# Composed FROM operators/ml.kmeans (same init / fold spelling /
# 6-dp centroid rounding as the registered kmeans_embeddings), with
# one extra centroid update from the FINAL assignment.  Per-point s
# rounds to 6 dp and sums as DECIMAL(18,6), so the per-cluster mean
# is order-free exact; min/negative-share are order-free too.
# ---------------------------------------------------------------------------


def _sil_oracle() -> str:
    from travel_data_pipeline_spark.queries_ml import (
        _DIM,
        _ITERS,
        _K,
        _kmeans_ctes,
    )

    ctes, final = _kmeans_ctes(_K, _ITERS, _DIM)
    dist = (f"sqrt(list_reduce(list_transform(generate_series(1, {_DIM}), "
            "i -> (s.v[i] - c.v[i]) * (s.v[i] - c.v[i])), "
            "(x, y) -> x + y))")
    s_expr = ("CASE WHEN GREATEST(a, b) = 0.0 THEN 0.0 "
              "ELSE (b - a) / GREATEST(a, b) END")
    return f"""
WITH {ctes},
cfin AS (
    SELECT cid, list(val ORDER BY i) AS v FROM (
        SELECT s.cid, i.i AS i, round(avg(s.v[i.i]), 6) AS val
        FROM {final} s CROSS JOIN generate_series(1, {_DIM}) i(i)
        GROUP BY s.cid, i.i) GROUP BY cid
),
ab AS (
    SELECT s.vec_id, s.cid, s.d AS a, MIN({dist}) AS b
    FROM {final} s JOIN cfin c ON c.cid <> s.cid
    GROUP BY s.vec_id, s.cid, s.d
),
sil AS (
    SELECT cid, CAST({round_sql(s_expr)} AS DECIMAL(18,6)) AS s
    FROM ab
)
SELECT CAST(cid AS INT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
       {round_sql('CAST(SUM(s) AS DOUBLE) / COUNT(*)')}
           AS mean_silhouette,
       CAST(MIN(s) AS DOUBLE) + 0.0 AS min_silhouette,
       {round_sql('SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END)'
                  ' / CAST(COUNT(*) AS DOUBLE)')} AS share_negative
FROM sil GROUP BY cid
"""


@register("silhouette_by_cluster", _sil_oracle)
def silhouette_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the registered k-means
    assignment (a = own-centroid distance, b = nearest other
    centroid)."""
    from travel_data_pipeline_spark.operators.ml import (
        kmeans,
        kmeans_update,
        squared_l2,
    )
    from travel_data_pipeline_spark.queries_ml import _ITERS, _K

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    assigned = kmeans(emb, k=_K, iterations=_ITERS)
    cfin = kmeans_update(assigned)
    carr = cfin.agg(F.collect_list(F.struct("cid", "cv")).alias("cs"))
    b = F.array_min(F.transform(
        F.filter(F.col("cs"), lambda c: c["cid"] != F.col("cid")),
        lambda c: F.sqrt(squared_l2(F.col("v"), c["cv"]))))
    ab = (assigned.crossJoin(F.broadcast(carr))
          .select("vec_id", "cid", F.col("d").alias("a"), b.alias("b")))
    s = (F.when(F.greatest("a", "b") == 0.0, F.lit(0.0))
         .otherwise((F.col("b") - F.col("a")) / F.greatest("a", "b")))
    sil = ab.select("cid", F.round(s, 6).cast("decimal(18,6)").alias("s"))
    return (sil.groupBy("cid")
            .agg(F.count("*").alias("n"),
                 F.sum("s").alias("ssum"),
                 F.min("s").alias("smin"),
                 F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("neg"))
            .select(F.col("cid").cast("int").alias("cluster"),
                    F.col("n").cast("long").alias("n"),
                    F.round(F.col("ssum").cast("double") / F.col("n"), 6)
                    .alias("mean_silhouette"),
                    (F.col("smin").cast("double") + F.lit(0.0))
                    .alias("min_silhouette"),
                    F.round(F.col("neg") / F.col("n").cast("double"), 6)
                    .alias("share_negative")))


# ---------------------------------------------------------------------------
# Exact Shapley channel attribution — the game-theoretic sibling of
# markov_removal_attribution / attribution_multi_touch: channels are
# the 4 non-purchase event types, a user's coalition is the SET of
# channels they touched before (first) purchase — non-converters
# contribute their full touched set — and the coalition value v(S)
# is the conversion rate among users whose touched set is a SUBSET
# of S.  With n = 4 channels the 2^4 subsets enumerate exactly, so
# the Shapley value
#
#   phi_i = sum_{S not containing i} |S|!(n-|S|-1)!/n! * (v(S+i)-v(S))
#
# is a finite sum with RATIONAL literal weights (Shapley 1953,
# public; the subset-coalition MTA form of Dalessandro et al. 2012).
#
# Exactness: user/conversion counts are integers; each v is one
# ratio; weights are python-fraction literals rendered exactly;
# every v() and phi shares its expression tree across engines.
# Scale shape: one user-grain pass -> 16-row subset table -> all
# remaining algebra on broadcast 16-row relations.
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ("click", "error", "signup", "view")  # sorted


def _shap_weights() -> dict[int, float]:
    """|S| -> |S|!(n-|S|-1)!/n! for n = 4 (exact in binary floats:
    1/4, 1/12, 1/12, 1/4)."""
    import math as _m

    n = len(_SHAP_CHANNELS)
    return {s: _m.factorial(s) * _m.factorial(n - s - 1) / _m.factorial(n)
            for s in range(n)}


def _shap_oracle() -> str:
    n = len(_SHAP_CHANNELS)
    chans = _SHAP_CHANNELS
    bit = {c: 1 << i for i, c in enumerate(chans)}
    touched_bits = " + ".join(
        f"MAX(CASE WHEN event_type = '{c}' AND (first_p IS NULL "
        f"OR ts < first_p) THEN {bit[c]} ELSE 0 END)" for c in chans)
    # v(S) per coalition mask: rate over users whose mask is a subset
    subsets = list(range(1 << n))
    w = _shap_weights()
    phi_terms = []
    for i, c in enumerate(chans):
        terms = []
        for m in subsets:
            if m & (1 << i):
                continue
            terms.append(f"{w[bin(m).count('1')]!r} * "
                         f"(v{m | (1 << i)}.rate - v{m}.rate)")
        phi_terms.append((c, " + ".join(terms)))
    v_ctes = ",\n".join(
        f"v{m} AS (SELECT CASE WHEN COUNT(*) = 0 THEN 0.0 "
        f"ELSE SUM(conv) / CAST(COUNT(*) AS DOUBLE) END AS rate "
        f"FROM umask WHERE (mask & ~{m}) = 0)" for m in subsets)
    v_cross = " CROSS JOIN ".join(f"v{m}" for m in subsets)
    phi_sql = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS channel, {round_sql(expr)} AS shapley "
        f"FROM {v_cross}" for c, expr in phi_terms)
    # umask is referenced by all 16 v-CTEs -> AS MATERIALIZED, or
    # DuckDB inlines and recomputes the events pass 16x (repo rule)
    return f"""
WITH fp AS MATERIALIZED (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_p
    FROM events GROUP BY user_id
),
umask AS MATERIALIZED (
    SELECT e.user_id,
           {touched_bits} AS mask,
           MAX(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
    FROM events e JOIN fp ON fp.user_id = e.user_id
    GROUP BY e.user_id
),
{v_ctes}
{phi_sql}
"""


@register("shapley_channel_attribution", _shap_oracle)
def shapley_channel_attribution(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Exact 4-channel Shapley attribution over subset-coalition
    conversion rates (16 enumerated coalitions, rational literal
    weights)."""
    ev = load_table(spark, sf_dir, "events")
    chans = _SHAP_CHANNELS
    n = len(chans)
    bit = {c: 1 << i for i, c in enumerate(chans)}
    fp = (ev.groupBy("user_id")
          .agg(F.min(F.when(F.col("event_type") == "purchase",
                            F.col("ts"))).alias("first_p")))
    touched = sum(
        (F.max(F.when((F.col("event_type") == c)
                      & (F.col("first_p").isNull()
                         | (F.col("ts") < F.col("first_p"))),
                      bit[c]).otherwise(0))
         for c in chans), F.lit(0))
    umask = (ev.join(fp, "user_id")
             .groupBy("user_id")
             .agg(touched.alias("mask"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("conv")))
    # 16-row mask histogram, then all coalition algebra is broadcast
    hist = (umask.groupBy("mask")
            .agg(F.count("*").alias("n_u"), F.sum("conv").alias("n_c"))
            .persist())
    grid = local_relation(spark, [(m,) for m in range(1 << n)],
                          "coal int")
    rates = (F.broadcast(grid)
             .join(F.broadcast(hist),
                   F.col("mask").bitwiseAND(F.col("coal"))
                   == F.col("mask"),
                   "left")
             .groupBy("coal")
             .agg(F.coalesce(F.sum("n_u"), F.lit(0)).alias("nu"),
                  F.coalesce(F.sum("n_c"), F.lit(0)).alias("nc"))
             .select("coal",
                     F.when(F.col("nu") == 0, F.lit(0.0))
                     .otherwise(F.col("nc")
                                / F.col("nu").cast("double"))
                     .alias("rate")))
    w = _shap_weights()
    pair_rows = []
    for i, c in enumerate(chans):
        for m in range(1 << n):
            if m & (1 << i):
                continue
            pair_rows.append((c, m, m | (1 << i),
                              w[bin(m).count("1")]))
    pairs = local_relation(
        spark, pair_rows,
        "channel string, s_without int, s_with int, w double")
    r_wo = rates.select(F.col("coal").alias("s_without"),
                        F.col("rate").alias("r0"))
    r_wi = rates.select(F.col("coal").alias("s_with"),
                        F.col("rate").alias("r1"))
    contrib = (F.broadcast(pairs)
               .join(F.broadcast(r_wo), "s_without")
               .join(F.broadcast(r_wi), "s_with")
               .select("channel", "s_without",
                       (F.col("w") * (F.col("r1") - F.col("r0")))
                       .alias("t")))
    # pinned fold over the bounded 8-term list per channel so the
    # double sum order matches the oracle's literal left-to-right sum
    return (contrib.groupBy("channel")
            .agg(ordered_sum("t", "s_without").alias("phi"))
            .select("channel", F.round("phi", 6).alias("shapley")))


# ---------------------------------------------------------------------------
# Qini uplift deciles — the uplift-model evaluation curve (Radcliffe
# 2007, public): rank users by a deterministic engagement score
# (pre-purchase click count), split into 10 score deciles, and at
# each cumulative decile compare treated conversions against the
# treatment-size-scaled control conversions:
#
#   qini(k) = convT(k) - convC(k) * nT(k) / nC(k)
#
# Exactness: score/rank/decile/counts are all integers (two-phase
# global rank; no approximate percentile), the cumulative window
# runs over the bounded 10-row decile relation, and qini is one
# shared double tree with an explicit nC = 0 guard.
#
# Scale shape: user grain -> two-phase rank -> 10-row rollup; the
# tie-heavy integer score gets a user-id fractional term in
# bucket_on (the prefix_code discipline) so quantile boundaries can
# split ties.
# ---------------------------------------------------------------------------

_QINI_BINS = 10


def _qini_oracle() -> str:
    hashed = md5_long_sql("'exp:' || CAST(e.user_id AS VARCHAR)")
    return f"""
WITH fp AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_p
    FROM events GROUP BY user_id
),
users AS (
    SELECT e.user_id,
           ({hashed} % 2) AS treated,
           SUM(CASE WHEN e.event_type = 'click' AND (fp.first_p IS NULL
                    OR e.ts < fp.first_p) THEN 1 ELSE 0 END) AS score,
           MAX(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
    FROM events e JOIN fp ON fp.user_id = e.user_id
    GROUP BY e.user_id
),
ranked AS (
    SELECT treated, score, conv,
           row_number() OVER (ORDER BY score DESC, user_id) AS rk,
           COUNT(*) OVER () AS n
    FROM users
),
dec AS (
    SELECT CAST(((rk - 1) * {_QINI_BINS}) // n AS INT) AS decile,
           COUNT(*) AS n_users,
           SUM(treated) AS n_t,
           SUM(CASE WHEN treated = 1 THEN conv ELSE 0 END) AS c_t,
           SUM(CASE WHEN treated = 0 THEN conv ELSE 0 END) AS c_c
    FROM ranked GROUP BY decile
),
cum AS (
    SELECT decile,
           SUM(n_users) OVER w AS cum_n,
           SUM(n_t) OVER w AS cum_nt,
           SUM(n_users - n_t) OVER w AS cum_nc,
           SUM(c_t) OVER w AS cum_ct,
           SUM(c_c) OVER w AS cum_cc
    FROM dec
    WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
)
SELECT CAST(decile AS INT) AS decile,
       CAST(cum_nt AS BIGINT) AS cum_n_treat,
       CAST(cum_nc AS BIGINT) AS cum_n_ctrl,
       CAST(cum_ct AS BIGINT) AS cum_conv_treat,
       CAST(cum_cc AS BIGINT) AS cum_conv_ctrl,
       CASE WHEN cum_nc = 0 THEN NULL
            ELSE {round_sql(
                'cum_ct - CAST(cum_cc AS DOUBLE) * cum_nt / cum_nc')}
                 + 0.0
       END AS qini
FROM cum
"""


@register("qini_uplift_deciles", _qini_oracle)
def qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative Qini curve over 10 engagement-score deciles of the
    md5 treatment split."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    fp = (ev.groupBy("user_id")
          .agg(F.min(F.when(F.col("event_type") == "purchase",
                            F.col("ts"))).alias("first_p")))
    treated = (md5_long(F.concat(F.lit("exp:"),
                                 F.col("user_id").cast("string"))) % 2)
    users = (ev.join(fp, "user_id")
             .groupBy("user_id")
             .agg(F.sum(F.when((F.col("event_type") == "click")
                               & (F.col("first_p").isNull()
                                  | (F.col("ts") < F.col("first_p"))), 1)
                        .otherwise(0)).alias("score"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("conv"))
             .select("user_id", treated.alias("treated"), "score", "conv"))
    n_agg = users.agg(F.count("*").alias("n"))
    # bucket_on: -score + user_id fraction keeps the head monotone
    # along (score DESC, user_id ASC) while giving approxQuantile
    # spread through the tie-heavy integer scores
    ranked = two_phase_ordered(
        users, [F.col("score").desc(), F.col("user_id").asc()],
        bucket_on=-F.col("score")
        + F.col("user_id").cast("double") / 1e12,
        rank_col="rk")
    dec = (ranked.crossJoin(F.broadcast(n_agg))
           .groupBy((((F.col("rk") - 1) * _QINI_BINS) / F.col("n"))
                    .cast("int").alias("decile"))
           .agg(F.count("*").alias("n_users"),
                F.sum("treated").alias("n_t"),
                F.sum(F.when(F.col("treated") == 1,
                             F.col("conv")).otherwise(0)).alias("c_t"),
                F.sum(F.when(F.col("treated") == 0,
                             F.col("conv")).otherwise(0)).alias("c_c")))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = dec.select(
        "decile",
        F.sum("n_t").over(w).alias("cum_nt"),
        F.sum(F.col("n_users") - F.col("n_t")).over(w).alias("cum_nc"),
        F.sum("c_t").over(w).alias("cum_ct"),
        F.sum("c_c").over(w).alias("cum_cc"))
    qini = (F.col("cum_ct")
            - F.col("cum_cc").cast("double") * F.col("cum_nt")
            / F.col("cum_nc"))
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("cum_nt").cast("long").alias("cum_n_treat"),
        F.col("cum_nc").cast("long").alias("cum_n_ctrl"),
        F.col("cum_ct").cast("long").alias("cum_conv_treat"),
        F.col("cum_cc").cast("long").alias("cum_conv_ctrl"),
        F.when(F.col("cum_nc") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(qini, 6) + F.lit(0.0)).alias("qini"))
