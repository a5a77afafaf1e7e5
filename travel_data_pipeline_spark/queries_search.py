"""Retrieval operators — BM25 lexical scoring and hybrid
(lexical + vector) search with reciprocal-rank fusion.

The search side of a training-data platform: BM25 powers corpus
probes ("which docs match this benchmark query"), and RRF is the
standard zero-tuning fusion of a lexical ranking with an
embedding-cosine ranking.

Determinism: tf/df/dl are exact integers; avgdl is one double
division; each per-(doc, term) BM25 term is a deterministic per-row
expression; the per-doc total folds over a SORTED (term, score) array
so the summation order is pinned. Rankings sort on values rounded to
6 dp with id tie-breaks, so ranks are stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions.parity import (
    ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.operators.similarity import as_double, cosine
from travel_data_pipeline_spark.operators.text import token_array
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

_K1, _B = 1.2, 0.75
_QUERY_TERMS = ("vector", "stream", "window", "dup", "fast")
_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

_TOKS = ("list_filter(string_split(trim(regexp_replace(lower(text), "
         "'\\s+', ' ', 'g')), ' '), t -> t <> '')")

# per-(doc, term) BM25 contribution — identical spelling both engines:
#   idf = ln((N - df + 0.5) / (df + 0.5) + 1.0)
#   tfn = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
_BM25_SQL = (f"ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0) * "
             f"(tf * ({_K1} + 1.0) / "
             f"(tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl)))")


@register("bm25_scores", f"""
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
folded AS (
    SELECT doc_id, COUNT(*) AS n_terms,
           {ordered_sum_sql("s", "term")} AS s
    FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(n_terms AS INT) AS n_terms, {round_sql("s")} AS bm25
FROM folded
""")
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) of a fixed 5-term query against every
    document. One explode builds (doc, term) tokens; doc lengths and
    the corpus avgdl come from the same relation (avgdl broadcasts as
    a 1-row aggregate); the query-term filter lands INSIDE the explode
    pipeline so only matching tokens survive to the shuffle. Per-doc
    totals fold a sorted (term, score) array — order-pinned double
    summation over at most |query| elements."""
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
    folded = (scored.groupBy("doc_id")
              .agg(F.count("*").alias("n_terms"),
                   ordered_sum("s", "term").alias("s")))
    return folded.select(
        "doc_id", F.col("n_terms").cast("int").alias("n_terms"),
        F.round("s", 6).alias("bm25"))


@register("hybrid_search_rrf", f"""
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
    FROM tf JOIN dfreq USING (term) JOIN dls USING (doc_id)
    CROSS JOIN stats
),
bm AS (
    SELECT doc_id, {round_sql(ordered_sum_sql("s", "term"))} AS bm25
    FROM scored GROUP BY doc_id
),
lex_rank AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rk
    FROM bm
),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       WHERE vec_id = 0),
cos AS (
    SELECT e.vec_id AS doc_id,
           ROUND(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) /
                 (sqrt(list_dot_product(q.qv, q.qv)) *
                  sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))), 6)
               AS cos_sim
    FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 0
),
vec_rank AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS vec_rk
    FROM cos
)
SELECT l.doc_id, CAST(l.lex_rk AS INT) AS lex_rk,
       CAST(v.vec_rk AS INT) AS vec_rk,
       CAST(round(CAST(format('{{}}', 1.0 / (60 + l.lex_rk) + 1.0 / (60 + v.vec_rk)) AS DECIMAL(38,18)), 9) AS DOUBLE) AS rrf
FROM lex_rank l JOIN vec_rank v USING (doc_id)
WHERE l.lex_rk <= 50 AND v.vec_rk <= 50
""")
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 ranking with an embedding-cosine
    ranking (query = vector 0; vec_id keys the same corpus ids here)
    via reciprocal-rank fusion, rrf = sum 1/(60+rank). Both rankings
    sort on 6-dp-rounded scores with id tie-breaks, so ranks — and
    therefore the fused score, a pure function of two integers — are
    engine-stable. Docs must sit in both top-50 lists.

    Scale note: the global row_number is bounded by a top-50 cut on
    each side — at cluster scale both rankings become TakeOrderedAnd-
    Project (top-k pushdown) before the single-partition rank, so the
    global window never sees more than k rows per side."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_scores(spark, sf_dir).select("doc_id", "bm25")
    lex_rank = bm.select(
        "doc_id", F.row_number().over(
            Window.orderBy(F.desc("bm25"), F.asc("doc_id"))).alias("lex_rk"))
    qv = (emb.filter(F.col("vec_id") == 0)
          .select(as_double(F.col("embedding")).alias("qv")))
    cos = (emb.filter(F.col("vec_id") != 0)
           .crossJoin(F.broadcast(qv))
           .select(F.col("vec_id").alias("doc_id"),
                   F.round(cosine(F.col("qv"),
                                  as_double(F.col("embedding"))), 6)
                   .alias("cos_sim")))
    vec_rank = cos.select(
        "doc_id", F.row_number().over(
            Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))).alias("vec_rk"))
    return (lex_rank.join(vec_rank, "doc_id")
            .filter((F.col("lex_rk") <= 50) & (F.col("vec_rk") <= 50))
            .select("doc_id",
                    F.col("lex_rk").cast("int").alias("lex_rk"),
                    F.col("vec_rk").cast("int").alias("vec_rk"),
                    F.round(1.0 / (60 + F.col("lex_rk"))
                            + 1.0 / (60 + F.col("vec_rk")), 9).alias("rrf")))


# ---------------------------------------------------------------------------
# MMR — maximal-marginal-relevance diversification of a cosine top-k
# (Carbonell & Goldstein 1998): greedily pick the candidate maximizing
# lam*rel - (1-lam)*max_sim_to_already_picked. The k greedy steps are
# inherently sequential, so they unroll into the plan exactly like the
# kmeans iterations (tiny relations: the candidate pool is bounded).
# ---------------------------------------------------------------------------

_MMR_K = 5          # picks
_MMR_POOL = 20      # candidate pool (the heavy part is the ANN top-k)
_MMR_LAM = "0.7"    # literal strings so both engines parse identical doubles
_MMR_PEN = "0.3"

_MMR_COS = ("round(list_dot_product({a}, {b}) / "
            "(sqrt(list_dot_product({a}, {a})) * "
            "sqrt(list_dot_product({b}, {b}))), 6)")


def _mmr_oracle() -> str:
    ctes = [
        ("q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv "
         "FROM embeddings WHERE vec_id = 0)"),
        ("base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
         "FROM embeddings WHERE vec_id <> 0)"),
        (f"scored0 AS (SELECT vec_id, v, "
         f"{_MMR_COS.format(a='v', b='qv')} AS rel "
         "FROM base CROSS JOIN q)"),
        (f"cand AS (SELECT * FROM scored0 "
         f"ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL})"),
        ("sel1 AS (SELECT vec_id, v, rel, 1 AS pick_rank, rel AS mmr "
         "FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"),
    ]
    pair = _MMR_COS.format(a="r.v", b="s.v")
    for k in range(2, _MMR_K + 1):
        p = k - 1
        ctes.append(
            f"rem{k} AS (SELECT c.* FROM cand c "
            f"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{p}))")
        ctes.append(
            f"pen{k} AS (SELECT r.vec_id, r.v, r.rel, "
            f"MAX({pair}) AS max_sim "
            f"FROM rem{k} r CROSS JOIN sel{p} s "
            f"GROUP BY r.vec_id, r.v, r.rel)")
        ctes.append(
            f"pick{k} AS (SELECT vec_id, v, rel, {k} AS pick_rank, "
            f"round({_MMR_LAM} * rel - {_MMR_PEN} * max_sim, 6) AS mmr "
            f"FROM pen{k} ORDER BY mmr DESC, vec_id LIMIT 1)")
        ctes.append(
            f"sel{k} AS (SELECT * FROM sel{p} "
            f"UNION ALL SELECT * FROM pick{k})")
    return ("WITH " + ",\n".join(ctes) +
            f"\nSELECT vec_id, CAST(pick_rank AS INT) AS pick_rank, "
            f"rel + 0.0 AS rel, mmr + 0.0 AS mmr FROM sel{_MMR_K}")


@register("mmr_diversified_topk", _mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranking of the cosine top-20 for query vec_id=0 into 5
    diverse picks.

    Scale shape: candidate generation is the existing ANN/brute top-k
    (corpus-sized, one pass); the greedy MMR loop then runs on a
    POOL-sized relation (20 rows) — each unrolled step is an anti-join
    + a pool x picked cross join, all broadcast-tiny regardless of
    corpus size. Determinism: every cosine and every mmr score is
    rounded to 6 dp before comparison, ties break on vec_id.
    """
    lam, pen = float(_MMR_LAM), float(_MMR_PEN)
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(as_double(F.col("embedding")).alias("qv")))
    base = (emb.filter(F.col("vec_id") != 0)
            .select("vec_id", as_double(F.col("embedding")).alias("v")))
    scored = (base.crossJoin(F.broadcast(q))
              .select("vec_id", "v",
                      F.round(cosine(F.col("v"), F.col("qv")), 6)
                       .alias("rel")))
    # EAGER checkpoint: the greedy loop references cand in every step
    # (directly and through the accumulated selected set); lazily each
    # reference would replay the corpus scan + top-k sort — the plan
    # audit showed 160 shuffle exchanges. Materializing the 20-row
    # pool once makes every later step corpus-independent.
    cand = (scored.orderBy(F.col("rel").desc(), F.col("vec_id"))
            .limit(_MMR_POOL).localCheckpoint(eager=True))

    selected = (cand.orderBy(F.col("rel").desc(), F.col("vec_id")).limit(1)
                .select("vec_id", "v", "rel",
                        F.lit(1).alias("pick_rank"),
                        F.col("rel").alias("mmr")))
    for k in range(2, _MMR_K + 1):
        rem = cand.join(selected.select("vec_id"), "vec_id", "anti")
        pen_df = (rem.crossJoin(F.broadcast(
                      selected.select(F.col("v").alias("sv"))))
                  .select("vec_id", "rel",
                          F.round(cosine(F.col("v"), F.col("sv")), 6)
                           .alias("sim"))
                  .groupBy("vec_id", "rel")
                  .agg(F.max("sim").alias("max_sim")))
        pick = (pen_df
                .select("vec_id", "rel",
                        F.round(F.lit(lam) * F.col("rel")
                                - F.lit(pen) * F.col("max_sim"), 6)
                         .alias("mmr"))
                .orderBy(F.col("mmr").desc(), F.col("vec_id")).limit(1)
                .join(cand.select("vec_id", "v"), "vec_id")
                .select("vec_id", "v", "rel",
                        F.lit(k).alias("pick_rank"), "mmr"))
        # checkpoint the accumulated picks: each is <= _MMR_K rows and
        # every later step references the whole set — without this the
        # per-step lineage compounds (plan audit: 160 -> ~10 exchanges)
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "vec_id", "pick_rank",
        (F.col("rel") + F.lit(0.0)).alias("rel"),      # +0.0 kills -0.0
        (F.col("mmr") + F.lit(0.0)).alias("mmr"))


# ---------------------------------------------------------------------------
# Inverted-index build: capped per-term posting lists.
#
# The physical artifact behind the BM25/hybrid queries above — term ->
# (document frequency, first-K sorted posting list). A training-data
# platform materializes exactly this for corpus probes and benchmark-
# contamination lookups (cf. contamination_ngram_overlap).
#
# Scale shape: tokenize -> per-doc DISTINCT terms (map-side dedup, no
# positions kept) -> ONE groupBy(term) shuffle carrying (term, doc_id)
# pairs. The posting array is capped at _POST_K inside the aggregation
# (sort + slice of a bounded collect per term is safe because df is
# bounded by the cap's band filter below; the full array exists only
# per-term, never per-partition). Postings serialize as a CSV string so
# the driver's value-hash sees identical renderings from both engines.
# ---------------------------------------------------------------------------

_POST_K = 20
_DF_MIN = 5


@register("inverted_index_postings", f"""
WITH td AS (
    SELECT DISTINCT term, doc_id
    FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
),
idx AS (
    SELECT term, count(*) AS dfreq,
           array_to_string(
             list_transform(list_sort(list(doc_id))[1:{_POST_K}],
                            x -> CAST(x AS VARCHAR)), ',') AS postings
    FROM td GROUP BY term
)
SELECT term, dfreq, postings FROM idx WHERE dfreq >= {_DF_MIN}
""")
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build capped posting lists per term over the documents corpus.

    One explode + distinct + groupBy(term): the only shuffle carries
    (term, doc_id) pairs. The per-term doc list is sorted and sliced to
    the first _POST_K ids so hot terms (df ~= corpus size) still emit a
    bounded row."""
    docs = load_table(spark, sf_dir, "documents")
    td = (docs.select("doc_id",
                      F.explode(token_array(F.col("text"))).alias("term"))
          .distinct())
    idx = (td.groupBy("term")
           .agg(F.count("*").alias("dfreq"),
                F.array_join(
                    F.transform(
                        F.slice(F.array_sort(F.collect_list("doc_id")),
                                1, _POST_K),
                        lambda x: x.cast("string")), ",").alias("postings")))
    return idx.filter(F.col("dfreq") >= _DF_MIN)
