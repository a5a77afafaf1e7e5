"""Corpus-cleaning operators: line-level boilerplate removal and
n-gram language-model scoring (north-star family, SURVEY.md §2.10).

These are the two classic web-corpus cleanup passes the dedup family
does not cover:

- C4/RefinedWeb-style BOILERPLATE REMOVAL — drop the *lines* (here:
  fixed 3-token segments, since the synthetic corpus has no newlines)
  that repeat across many documents (nav bars, cookie banners,
  footers), keeping each document's residual text.
- KenLM-style PERPLEXITY FILTERING — score every document under an
  add-one-smoothed bigram model trained on the corpus itself; high
  perplexity flags gibberish, low flags degenerate repetition
  (CCNet uses exactly this signal for quality bucketing).

Both are pure expression pipelines with exact DuckDB twins; no UDFs,
no driver collects, no corpus self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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

# ---------------------------------------------------------------------------
# Boilerplate line removal.
#
# "Line" = aligned non-overlapping 3-token segment of the normalized
# text (the corpus is single-line word soup; with real web text the
# split would be on '\n' and the rest of the pipeline is unchanged).
# A line is boilerplate when it appears in >= DF_DROP distinct docs.
#
# Scale shape (100 TB): the line-frequency aggregation shuffles 60-bit
# hashes (not line text); the drop set (df >= DF_DROP) is a tiny
# fraction of distinct lines -> broadcast to flag rows, so the corpus
# is read once, shuffled once for the frequency count and once for the
# per-doc reassembly. No self-join anywhere.
# ---------------------------------------------------------------------------

LINE_TOKENS = 3
DF_DROP = 3

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_LINE_HASH = md5_long_sql("'line:' || line")


@register("boilerplate_line_removal", f"""
WITH normed AS (
    SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents
),
chunked AS (
    SELECT n.doc_id, i.i AS idx,
           array_to_string(
             n.words[(i.i*{LINE_TOKENS}+1):(i.i*{LINE_TOKENS}+{LINE_TOKENS})],
             ' ') AS line
    FROM normed n,
         unnest(generate_series(
             0, CAST(ceil(len(n.words) / {LINE_TOKENS}.0) AS INT) - 1)) AS i(i)
),
hashed AS (SELECT doc_id, idx, line, {_LINE_HASH} AS lh FROM chunked),
dropped AS (
    SELECT lh FROM hashed GROUP BY lh
    HAVING COUNT(DISTINCT doc_id) >= {DF_DROP}
),
flagged AS (
    SELECT h.doc_id, h.idx, h.line, (d.lh IS NOT NULL) AS is_drop
    FROM hashed h LEFT JOIN dropped d ON h.lh = d.lh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_drop THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       COALESCE(string_agg(CASE WHEN NOT is_drop THEN line END,
                           ' ' ORDER BY idx), '') AS clean_text,
       CAST(COALESCE(SUM(CASE WHEN NOT is_drop
                          THEN len(string_split(line, ' ')) END), 0)
            AS BIGINT) AS n_tokens_clean
FROM flagged
GROUP BY doc_id
""")
def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop cross-document repeated lines, keep per-doc residual text.

    Reference has no corpus ops (its filters are row-level,
    google_trends_processor.py:60-88); this is the north-star family.
    """
    # Pre-partition on doc_id: the doc parquet arrives in O(1) splits,
    # and the chunk explode + md5 are interpreted higher-order-function
    # work that must spread across cores (same rationale as
    # dedup.shingle_sets). The downstream per-doc groupBy reuses it.
    docs = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    words = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(LINE_TOKENS))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(words, i * LINE_TOKENS + 1, LINE_TOKENS), " "))
    hashed = (docs.select("doc_id", F.posexplode(chunks).alias("idx", "line"))
              .withColumn("lh", md5_long(F.concat(F.lit("line:"),
                                                  F.col("line")))))
    dropped = (hashed.groupBy("lh")
               .agg(F.countDistinct("doc_id").alias("df"))
               .filter(F.col("df") >= DF_DROP)
               .select("lh", F.lit(True).alias("is_drop")))
    flagged = (hashed.join(F.broadcast(dropped), "lh", "left")
               .withColumn("is_drop",
                           F.coalesce(F.col("is_drop"), F.lit(False))))
    kept_struct = F.when(~F.col("is_drop"), F.struct("idx", "line"))
    return (flagged.groupBy("doc_id")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(F.col("is_drop").cast("long")).alias("n_dropped"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(kept_struct)),
                         lambda s: s["line"]), " ").alias("clean_text"),
                 F.coalesce(
                     F.sum(F.when(~F.col("is_drop"),
                                  F.size(F.split(F.col("line"), " ")))),
                     F.lit(0)).cast("long").alias("n_tokens_clean")))


# ---------------------------------------------------------------------------
# Bigram language-model perplexity.
#
# Model: p(w2 | w1) = (c(w1 w2) + 1) / (ctx(w1) + V)   (add-one
# smoothing; V = corpus vocabulary size). Document score =
# exp(mean over its bigrams of -ln p)  — standard per-token perplexity.
#
# Float determinism: each -ln p is a per-row IEEE op on exact integer
# inputs; the per-doc sum is an ORDER-PINNED array fold (position-
# sorted collect_list -> aggregate vs list(... ORDER BY) ->
# list_reduce with a prepended 0.0), so both engines add in the same
# order; final round(6).
#
# Scale shape: the bigram/context/vocab model tables are vocabulary-
# sized (tiny vs corpus) — the occurrence->model join broadcasts the
# model at any corpus scale; one shuffle for the model build, one for
# the per-doc fold.
# ---------------------------------------------------------------------------

_BIGRAM_SQL = f"""
    SELECT doc_id, i.i AS pos,
           words[i.i] || ' ' || words[i.i+1] AS bg,
           words[i.i] AS w1
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words
          FROM documents) t,
         unnest(generate_series(1, len(words) - 1)) AS i(i)
"""


@register("bigram_lm_perplexity", f"""
WITH occ AS ({_BIGRAM_SQL}),
bg_counts AS (SELECT bg, COUNT(*) AS c FROM occ GROUP BY bg),
ctx_counts AS (SELECT w1, COUNT(*) AS ctx FROM occ GROUP BY w1),
vocab AS (
    SELECT COUNT(DISTINCT w) AS v
    FROM (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents)
),
scored AS (
    SELECT o.doc_id, o.pos,
           -ln((b.c + 1) / CAST(x.ctx + vocab.v AS DOUBLE)) AS nll
    FROM occ o
    JOIN bg_counts b ON o.bg = b.bg
    JOIN ctx_counts x ON o.w1 = x.w1
    CROSS JOIN vocab
),
folded AS (
    SELECT doc_id, COUNT(*) AS n_bigrams,
           {ordered_sum_sql("nll", "pos")} AS total
    FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(round(CAST(format('{{}}', exp(total / n_bigrams)) AS DECIMAL(38,18)), 6) AS DOUBLE) AS ppl
FROM folded
""")
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained smoothed bigram
    LM — the CCNet quality signal, as three hash aggregations and one
    model-broadcast join."""
    docs = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    words = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    toks = docs.select("doc_id", words.alias("words"))
    # size >= 2 guard: F.sequence(1, size-1) is DESCENDING [1, 0] for
    # empty/one-word docs and element_at(words, 0) throws under ANSI,
    # while the oracle's generate_series(1, 0) is empty (ADVICE r09).
    # vocab below intentionally stays UNGUARDED — the oracle counts
    # one-word docs' tokens in V.
    occ = (toks.filter(F.size("words") >= 2).select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("words") - 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat(F.element_at("words", i), F.lit(" "),
                         F.element_at("words", i + 1)).alias("bg"),
                F.element_at("words", i).alias("w1")))).alias("o"))
        .select("doc_id", "o.pos", "o.bg", "o.w1"))
    bg_counts = occ.groupBy("bg").agg(F.count("*").alias("c"))
    ctx_counts = occ.groupBy("w1").agg(F.count("*").alias("ctx"))
    vocab = (toks.select(F.explode("words").alias("w"))
             .agg(F.countDistinct("w").alias("v")))
    scored = (occ
              .join(F.broadcast(bg_counts), "bg")
              .join(F.broadcast(ctx_counts), "w1")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id", "pos",
                      (-F.log((F.col("c") + 1)
                              / (F.col("ctx") + F.col("v"))
                              .cast("double"))).alias("nll")))
    folded = (scored.groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   ordered_sum("nll", "pos").alias("total")))
    return folded.select(
        "doc_id", "n_bigrams",
        F.round(F.exp(F.col("total") / F.col("n_bigrams")), 6).alias("ppl"))


# ---------------------------------------------------------------------------
# Linear quality classifier — the fasttext/DCLM-style learned filter
# shape: a fixed-weight logistic model over cheap text features, with
# a keep/drop decision at p >= 0.5. (Weights are frozen literals —
# training happens offline; serving the model IS the engine's job, and
# a linear scorer lowers to a pure projection: zero shuffle at any
# corpus size.)
# ---------------------------------------------------------------------------

# (bias, alpha_ratio, punct_ratio, mean_word_len, log10(n_chars+1))
_QC_W = ("-2.0", "3.5", "-6.0", "0.08", "0.9")


@register("quality_classifier_logistic", f"""
WITH feats AS (
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           length(text) - length(regexp_replace(text,
               '[.,;:!?''"()\\[\\]{{}}]', '', 'g')) AS punct_chars,
           len(list_filter(string_split({_NORM}, ' '), x -> x <> ''))
               AS n_tokens
    FROM documents
),
x AS (
    SELECT doc_id,
           {round_sql("alpha_chars / GREATEST(n_chars, 1)")} AS alpha_ratio,
           {round_sql("punct_chars / GREATEST(n_chars, 1)")} AS punct_ratio,
           {round_sql("alpha_chars / GREATEST(n_tokens, 1)")}
               AS mean_word_len,
           {round_sql("log10(CAST(n_chars AS DOUBLE) + 1.0)")} AS log_len
    FROM feats
),
z AS (
    SELECT doc_id, alpha_ratio, punct_ratio, mean_word_len, log_len,
           {round_sql(f"{_QC_W[0]} + {_QC_W[1]} * alpha_ratio"
                      f" + {_QC_W[2]} * punct_ratio"
                      f" + {_QC_W[3]} * mean_word_len"
                      f" + {_QC_W[4]} * log_len")} AS logit
    FROM x
)
SELECT doc_id, alpha_ratio, punct_ratio, mean_word_len, log_len,
       logit + 0.0 AS logit,
       {round_sql("1.0 / (1.0 + exp(-logit))", 4)} AS p_keep,
       logit >= 0.0 AS keep
FROM z
""")
def quality_classifier_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality filter over cheap per-doc features.

    Determinism: features and the logit are rounded to 6 dp before the
    sigmoid, the probability to 4 dp (libm exp may differ in the last
    ulp across engines), and the keep decision tests the exact rounded
    logit — so the filter bit is ulp-proof."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = F.filter(F.split(norm, " "), lambda x: x != "")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    punct = n_chars - F.length(
        F.regexp_replace("text", r"""[.,;:!?'"()\[\]{}]""", ""))
    feats = docs.select(
        "doc_id",
        F.round(alpha / F.greatest(n_chars, F.lit(1)), 6).alias("alpha_ratio"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(alpha / F.greatest(F.size(toks), F.lit(1)), 6)
         .alias("mean_word_len"),
        F.round(F.log10(n_chars.cast("double") + F.lit(1.0)), 6)
         .alias("log_len"))
    b, w1, w2, w3, w4 = (float(w) for w in _QC_W)
    logit = F.round(F.lit(b)
                    + F.lit(w1) * F.col("alpha_ratio")
                    + F.lit(w2) * F.col("punct_ratio")
                    + F.lit(w3) * F.col("mean_word_len")
                    + F.lit(w4) * F.col("log_len"), 6)
    return (feats.withColumn("logit", logit + F.lit(0.0))
            .withColumn("p_keep",
                        F.round(F.lit(1.0)
                                / (F.lit(1.0) + F.exp(-F.col("logit"))), 4))
            .withColumn("keep", F.col("logit") >= 0.0))


# ---------------------------------------------------------------------------
# WITHIN-document repeated-segment removal — the intra-doc complement
# of the cross-doc boilerplate pass above: keep the FIRST occurrence of
# each aligned 3-token segment inside a document, drop later repeats,
# and reassemble the residual text in original order. (Scraped pages
# repeat nav blocks within one page, not just across pages.)
#
# The corpus is augmented with a re-appended first segment for
# doc_id < 5 (same planting convention as the dedup family) so the
# removal path is observable at every SF; 3 natural repeats exist too.
#
# Scale shape: explode to (doc, seg_idx, seg) -> ONE groupBy(doc, seg)
# keeps min idx -> ONE groupBy(doc) reassembles via a sorted collect.
# Per-doc state is that document's own segments — bounded like
# sessionization, never corpus-sized.
# ---------------------------------------------------------------------------

_SEG_W = 3


@register("intradoc_segment_dedup", f"""
WITH aug AS (
    SELECT doc_id, text FROM documents WHERE doc_id >= 5
    UNION ALL
    SELECT doc_id,
           text || ' ' || array_to_string(
             list_filter(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' '), t -> t <> '')[1:{_SEG_W}], ' ')
    FROM documents WHERE doc_id < 5
),
toked AS (
    SELECT doc_id,
           list_filter(string_split(trim(regexp_replace(lower(text),
               '\\s+', ' ', 'g')), ' '), t -> t <> '') AS toks
    FROM aug
),
segs AS (
    SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
           array_to_string(toks[(i*{_SEG_W}+1):(i*{_SEG_W}+{_SEG_W})], ' ')
             AS seg
    FROM toked,
         UNNEST(range(0, CAST(floor(len(toks) / {_SEG_W}) AS BIGINT)))
           AS t(i)
),
firsts AS (
    SELECT doc_id, seg, min(seg_idx) AS k
    FROM segs GROUP BY doc_id, seg
),
rebuilt AS (
    SELECT doc_id, count(*) AS n_kept,
           md5(array_to_string(list(seg ORDER BY k), ' ')) AS clean_hash
    FROM firsts GROUP BY doc_id
),
totals AS (
    SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id
)
SELECT t.doc_id, t.n_segs, r.n_kept, r.clean_hash
FROM totals t JOIN rebuilt r ON t.doc_id = r.doc_id
""")
def intradoc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop repeated 3-token segments within each document, keeping the
    first occurrence; emit per-doc segment counts and the md5 of the
    reassembled residual text (order-preserving proof)."""
    from travel_data_pipeline_spark.operators.text import token_array

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first_seg = F.array_join(
        F.slice(token_array(F.col("text")), 1, _SEG_W), " ")
    aug = (docs.filter(F.col("doc_id") >= 5)
           .unionByName(docs.filter(F.col("doc_id") < 5)
                        .select("doc_id",
                                F.concat("text", F.lit(" "), first_seg)
                                .alias("text"))))
    toked = aug.select("doc_id", token_array(F.col("text")).alias("toks"))
    n_seg = F.floor(F.size("toks") / _SEG_W).cast("long")
    segs = (toked
            .select("doc_id", "toks",
                    F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("i"))
            .select("doc_id", F.col("i").cast("long").alias("seg_idx"),
                    F.array_join(
                        F.slice("toks",
                                (F.col("i") * _SEG_W + 1).cast("int"),
                                _SEG_W), " ").alias("seg")))
    firsts = (segs.groupBy("doc_id", "seg")
              .agg(F.min("seg_idx").alias("k")))
    rebuilt = (firsts.groupBy("doc_id")
               .agg(F.count("*").alias("n_kept"),
                    F.md5(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("k", "seg"))),
                            lambda x: x["seg"]), " ")).alias("clean_hash")))
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_segs"))
    return totals.join(rebuilt, "doc_id").select(
        "doc_id", "n_segs", "n_kept", "clean_hash")


# ---------------------------------------------------------------------------
# Classifier evaluation — precision/recall/F1 of the logistic quality
# filter against the heuristic curation gate, on a corpus augmented
# with three planted degenerate-document classes (symbol soup, too
# short, extreme word length) so both negatives and positives exist at
# every SF. The filters and the planted texts are spelled identically
# in both engines; every confusion cell is an exact count and the
# three metrics are single double divisions.
# ---------------------------------------------------------------------------

_EVAL_OFFSET = 9_000_000
# planted texts, chosen to trip (respectively) the symbol-ratio /
# too-short / word-length gates in BOTH filters
_EVAL_PLANTS = (
    "@#$% &*()! @#$% &*()! @#$% &*()! @#$% &*()! @#$% &*()! @#$% &*()!",
    "tiny doc",
    "supercalifragilisticexpialidociousxx " * 8,
)
_EVAL_PLANTS_SQL = "CASE doc_id % 3 " + " ".join(
    f"WHEN {i} THEN '{t.strip()}'" for i, t in enumerate(_EVAL_PLANTS)
) + " END"


@register("classifier_eval_metrics", f"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_EVAL_OFFSET}, {_EVAL_PLANTS_SQL}
    FROM documents WHERE doc_id < 12
),
feats AS (
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           len(list_filter(string_split({_NORM}, ' '), x -> x <> ''))
               AS n_tokens
    FROM aug
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
    SELECT doc_id,
           ({round_sql(f"{_QC_W[0]} + {_QC_W[1]} * alpha_ratio"
                       f" + {_QC_W[2]} * (1.0 - alpha_ratio)"
                       f" + {_QC_W[3]} * mean_word_len"
                       f" + {_QC_W[4]} * log_len")}) >= 0.0 AS pred_keep,
           (n_tokens >= 10 AND mean_word_len <= 12.0
            AND sym_ratio <= 0.35) AS true_keep
    FROM x
),
cells AS (
    SELECT
      CAST(SUM(CASE WHEN pred_keep AND true_keep THEN 1 ELSE 0 END)
           AS BIGINT) AS tp,
      CAST(SUM(CASE WHEN pred_keep AND NOT true_keep THEN 1 ELSE 0 END)
           AS BIGINT) AS fp,
      CAST(SUM(CASE WHEN NOT pred_keep AND true_keep THEN 1 ELSE 0 END)
           AS BIGINT) AS fn,
      CAST(SUM(CASE WHEN NOT pred_keep AND NOT true_keep THEN 1 ELSE 0 END)
           AS BIGINT) AS tn
    FROM judged
)
SELECT tp, fp, fn, tn,
       round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
       round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
       round(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
FROM cells
""")
def classifier_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of the logistic filter vs the heuristic gate
    on the plant-augmented corpus. Exact confusion counts from one
    grouped pass; a variant of the registered classifier reusing the
    same weights/feature spellings (the sym-ratio term replaces the
    punct term so the symbol-soup plant is separable)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plant_txt = (F.when(F.col("doc_id") % 3 == 0,
                        _EVAL_PLANTS[0].strip())
                 .when(F.col("doc_id") % 3 == 1, _EVAL_PLANTS[1].strip())
                 .otherwise(_EVAL_PLANTS[2].strip()))
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") < 12)
        .select((F.col("doc_id") + _EVAL_OFFSET).alias("doc_id"),
                plant_txt.alias("text")))
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = F.filter(F.split(norm, " "), lambda x: x != "")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    x = aug.select(
        "doc_id",
        F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)
         .alias("alpha_ratio"),
        F.round((n_chars - alpha) / F.greatest(n_chars, F.lit(1)), 6)
         .alias("sym_ratio"),
        F.round(alpha / F.greatest(F.size(toks), F.lit(1)), 6)
         .alias("mean_word_len"),
        F.round(F.log10(n_chars.cast("double") + F.lit(1.0)), 6)
         .alias("log_len"),
        F.size(toks).alias("n_tokens"))
    b, w1, w2, w3, w4 = (float(w) for w in _QC_W)
    logit = F.round(F.lit(b)
                    + F.lit(w1) * F.col("alpha_ratio")
                    + F.lit(w2) * (F.lit(1.0) - F.col("alpha_ratio"))
                    + F.lit(w3) * F.col("mean_word_len")
                    + F.lit(w4) * F.col("log_len"), 6)
    judged = x.select(
        (logit >= 0.0).alias("pred_keep"),
        ((F.col("n_tokens") >= 10) & (F.col("mean_word_len") <= 12.0)
         & (F.col("sym_ratio") <= 0.35)).alias("true_keep"))
    cells = judged.agg(
        F.sum(F.when(F.col("pred_keep") & F.col("true_keep"), 1)
              .otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("pred_keep") & ~F.col("true_keep"), 1)
              .otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~F.col("pred_keep") & F.col("true_keep"), 1)
              .otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~F.col("pred_keep") & ~F.col("true_keep"), 1)
              .otherwise(0)).cast("long").alias("tn"))
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    return cells.select(
        "tp", "fp", "fn", "tn",
        F.round(tp / (tp + fp), 6).alias("precision"),
        F.round(tp / (tp + fn), 6).alias("recall"),
        F.round(F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn), 6)
         .alias("f1"))


# ---------------------------------------------------------------------------
# Classifier AUC — the Mann-Whitney rank formulation with average-rank
# ties over the same plant-augmented corpus as classifier_eval_metrics:
#   AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)
# Ranks come from exact integer counts per distinct (rounded) logit
# value (cum-less + (eq+1)/2), so the statistic is a ratio of exact
# rationals evaluated once in double.
# ---------------------------------------------------------------------------

@register("classifier_auc_rank", f"""
WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_EVAL_OFFSET}, {_EVAL_PLANTS_SQL}
    FROM documents WHERE doc_id < 12
),
feats AS (
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
           len(list_filter(string_split({_NORM}, ' '), x -> x <> ''))
               AS n_tokens
    FROM aug
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
    SELECT {round_sql(f"{_QC_W[0]} + {_QC_W[1]} * alpha_ratio"
                      f" + {_QC_W[2]} * (1.0 - alpha_ratio)"
                      f" + {_QC_W[3]} * mean_word_len"
                      f" + {_QC_W[4]} * log_len")} + 0.0 AS score,
           (n_tokens >= 10 AND mean_word_len <= 12.0
            AND sym_ratio <= 0.35) AS truth
    FROM x
),
grp AS (
    SELECT score,
           CAST(count(*) AS BIGINT) AS eq,
           CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS pos
    FROM judged GROUP BY score
),
ranked AS (
    SELECT score, eq, pos,
           COALESCE(CAST(SUM(eq) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS less
    FROM grp
),
sums AS (
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(eq - pos) AS BIGINT) AS n_neg,
           CAST(SUM(CAST(pos AS DOUBLE)
                    * (CAST(less AS DOUBLE)
                       + (CAST(eq AS DOUBLE) + 1.0) / 2.0)) AS DOUBLE)
             AS r_pos
    FROM ranked
)
SELECT n_pos, n_neg,
       round((r_pos - CAST(n_pos AS DOUBLE)
              * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
             / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
         AS auc
FROM sums
""")
def classifier_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC of the logistic score against the heuristic gate via the
    tie-aware Mann-Whitney rank sum.

    The cumulative below-count is TWO-PHASE (two_phase_ordered,
    VERDICT r05 #2): score is a computed double, so the distinct-score
    relation grows ~linearly with docs — a partitionless cumulative
    window would single-partition-sort it at 100 TB. The grouped
    relation's scores are distinct by construction, so ORDER BY score
    alone is total; ``less`` (strictly-below count) is the inclusive
    two-phase cumsum minus the row's own ``eq``."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plant_txt = (F.when(F.col("doc_id") % 3 == 0, _EVAL_PLANTS[0].strip())
                 .when(F.col("doc_id") % 3 == 1, _EVAL_PLANTS[1].strip())
                 .otherwise(_EVAL_PLANTS[2].strip()))
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") < 12)
        .select((F.col("doc_id") + _EVAL_OFFSET).alias("doc_id"),
                plant_txt.alias("text")))
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = F.filter(F.split(norm, " "), lambda x: x != "")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    x = aug.select(
        F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)
         .alias("alpha_ratio"),
        F.round((n_chars - alpha) / F.greatest(n_chars, F.lit(1)), 6)
         .alias("sym_ratio"),
        F.round(alpha / F.greatest(F.size(toks), F.lit(1)), 6)
         .alias("mean_word_len"),
        F.round(F.log10(n_chars.cast("double") + F.lit(1.0)), 6)
         .alias("log_len"),
        F.size(toks).alias("n_tokens"))
    b, w1, w2, w3, w4 = (float(w) for w in _QC_W)
    score = (F.round(F.lit(b)
                     + F.lit(w1) * F.col("alpha_ratio")
                     + F.lit(w2) * (F.lit(1.0) - F.col("alpha_ratio"))
                     + F.lit(w3) * F.col("mean_word_len")
                     + F.lit(w4) * F.col("log_len"), 6) + 0.0)
    judged = x.select(
        score.alias("score"),
        ((F.col("n_tokens") >= 10) & (F.col("mean_word_len") <= 12.0)
         & (F.col("sym_ratio") <= 0.35)).alias("truth"))
    grp = (judged.groupBy("score")
           .agg(F.count("*").cast("long").alias("eq"),
                F.sum(F.when(F.col("truth"), 1).otherwise(0))
                 .cast("long").alias("pos")))
    ranked = (two_phase_ordered(grp, [F.col("score").asc()],
                                F.col("score"),
                                cumsum_cols={"eq": "_cum_eq"})
              .withColumn("less",
                          (F.col("_cum_eq") - F.col("eq")).cast("long")))
    sums = ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("eq") - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.col("pos").cast("double")
              * (F.col("less").cast("double")
                 + (F.col("eq").cast("double") + 1.0) / 2.0))
         .cast("double").alias("r_pos"))
    np, nn = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    return sums.select(
        "n_pos", "n_neg",
        F.round((F.col("r_pos") - np * (np + 1.0) / 2.0) / (np * nn), 6)
         .alias("auc"))
