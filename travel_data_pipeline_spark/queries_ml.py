"""ML-adjacent corpus analytics — k-means clustering, int8 vector
quantization, TF-IDF, PMI co-occurrence, context-window chunking,
token-entropy quality, robust (MAD) outlier detection, fixed-size
deterministic sampling.

These extend the north-star training-data mandate (SURVEY.md §2.10):
everything a curation pipeline runs after dedup — clustering for
topic balance, quantization for embedding storage, TF-IDF/PMI for
corpus statistics, chunking for context-window packing, entropy and
robust outliers for quality gates.

All queries are expression-level with exact DuckDB twins. Floating
determinism follows the registry rules: sequential per-row folds
(`aggregate`/`list_reduce` match bit-for-bit), order-dependent
aggregations rounded on both sides before further use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_pipeline_spark.fixtures import local_relation
from travel_data_pipeline_spark.functions.hashing import md5_long, md5_long_sql
from travel_data_pipeline_spark.functions.parity import (
    ordered_fold, ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.operators import ml
from travel_data_pipeline_spark.operators.text import token_array
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

_DIM = 64
_K = 8
_ITERS = 3

# DuckDB twin of the normalized-token relation (operators/text.py
# token_array): lower + collapse whitespace + split + drop empties.
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = (f"list_filter(string_split({_NORM}, ' '), t -> t <> '')")


# ---------------------------------------------------------------------------
# K-means over embeddings — Lloyd's, unrolled declarative DAG.
# ---------------------------------------------------------------------------

def _kmeans_ctes(k: int, iters: int, dim: int) -> tuple[str, str]:
    """Unrolled Lloyd's as DuckDB CTEs mirroring operators/ml.kmeans:
    same deterministic init (k smallest ids), same sequential-fold
    distance, same (dist, cid) tie-break, same 6-dp centroid round.
    Returns (cte_block, final_assignment_relation) so other oracles —
    e.g. semantic_dedup — can build on the assignment."""
    dist = (f"sqrt(list_reduce(list_transform(generate_series(1, {dim}), "
            "i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])), (x, y) -> x + y))")
    ctes = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        ("c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 "
         "AS cid, v FROM (SELECT vec_id, v FROM emb ORDER BY vec_id "
         f"LIMIT {k}))"),
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"a{i} AS (SELECT e.vec_id, e.v, c.cid, {dist} AS d, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid) "
            f"AS rn FROM emb e CROSS JOIN c{i - 1} c)")
        ctes.append(
            f"s{i} AS (SELECT vec_id, v, cid, d FROM a{i} WHERE rn = 1)")
        if i < iters:
            ctes.append(
                f"c{i} AS (SELECT cid, list(val ORDER BY i) AS v FROM ("
                f"SELECT s.cid, i.i AS i, round(avg(s.v[i.i]), 6) AS val "
                f"FROM s{i} s CROSS JOIN generate_series(1, {dim}) i(i) "
                f"GROUP BY s.cid, i.i) GROUP BY cid)")
    return ",\n".join(ctes), f"s{iters}"


def _kmeans_oracle(k: int, iters: int, dim: int) -> str:
    ctes, final = _kmeans_ctes(k, iters, dim)
    return (f"WITH {ctes}\n"
            f"SELECT vec_id, cid AS cluster, round(d, 6) AS dist FROM {final}")


@register("kmeans_embeddings", _kmeans_oracle(_K, _ITERS, _DIM))
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means topic/balance clustering of the embedding corpus.

    Scale shape (operators/ml.py): per iteration one broadcast of k
    centroids + one corpus pass + one (k x dim)-row shuffle for the
    update — never a point-to-point join, never a driver collect.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", ml.as_double_vec(F.col("embedding")).alias("v"))
    assigned = ml.kmeans(emb, k=_K, iterations=_ITERS)
    return assigned.select(
        "vec_id", F.col("cid").alias("cluster"),
        F.round("d", 6).alias("dist"))


# ---------------------------------------------------------------------------
# Int8 symmetric quantization — embedding storage for the scale path.
# ---------------------------------------------------------------------------

@register("embedding_quantize_int8", """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (
    SELECT vec_id, v,
           CASE WHEN list_max(list_transform(v, x -> abs(x))) / 127.0 = 0.0
                THEN 1.0
                ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
           END AS scale
    FROM emb
),
enc AS (
    SELECT vec_id, v, scale,
           list_transform(v, x -> CAST(greatest(-127.0,
               least(127.0, round(x / scale, 0))) AS INT)) AS qv,
           len(list_filter(v, x -> abs(round(x / scale, 0)) > 127.0))
               AS n_clipped
    FROM q
)
SELECT vec_id,
       round(scale, 9) AS scale,
       array_to_string(qv, ',') AS q_str,
       CAST(n_clipped AS INT) AS n_clipped,
       round(list_reduce(list_transform(generate_series(1, 64),
             i -> abs(v[i] - CAST(qv[i] AS DOUBLE) * scale)),
             (x, y) -> x + y) / len(v), 9) AS mean_abs_err
FROM enc
""")
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization + reconstruction error.

    Pure projection — zero shuffle at any scale; the int8 payload is
    4x smaller on the wire and in the ANN index."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", ml.as_double_vec(F.col("embedding")).alias("v"))
    scale, q, n_clipped, err = ml.quantize_int8(F.col("v"))
    return emb.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),
        F.array_join(q.cast("array<string>"), ",").alias("q_str"),
        n_clipped.alias("n_clipped"),
        F.round(err, 9).alias("mean_abs_err"))


# ---------------------------------------------------------------------------
# TF-IDF top terms per document.
# ---------------------------------------------------------------------------

@register("tfidf_top_terms", f"""
WITH tok AS (
    SELECT doc_id, t AS term
    FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
    WHERE length(t) >= 3
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf,
           CAST(round(CAST(format('{{}}', tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.dfreq)) + 1.0)) AS DECIMAL(38,18)), 6) AS DOUBLE)
               AS score
    FROM tf CROSS JOIN n JOIN dfreq USING (term)
),
ranked AS (
    SELECT doc_id, term, tf, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rank
    FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (sklearn-style smoothed idf).

    Scale: tf is one explode + map-side-combined agg keyed on
    (doc_id, term); document frequency reuses the tf relation (already
    distinct per doc-term). The per-doc top-k window partitions by
    doc_id — no global sort. The corpus count joins in as a broadcast
    1-row aggregate (the scalar-subquery pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("term"))
    tok = tok.filter(F.length("term") >= 3)
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(dfreq, "term").crossJoin(F.broadcast(n))
              .select("doc_id", "term", "tf",
                      F.round(F.col("tf") * (F.log((1.0 + F.col("n_docs"))
                                                   / (1.0 + F.col("dfreq")))
                                             + 1.0), 6).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("doc_id", "term", "tf", "score", "rank"))


# ---------------------------------------------------------------------------
# PMI co-occurrence pairs over a df-banded vocabulary.
# ---------------------------------------------------------------------------

@register("pmi_term_pairs", f"""
WITH tok AS (
    SELECT doc_id, t AS term
    FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
    WHERE length(t) >= 3
),
dt AS (SELECT DISTINCT doc_id, term FROM tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
vocab AS (
    SELECT term, COUNT(*) AS dfreq FROM dt
    GROUP BY term
    HAVING COUNT(*) * 10 <= (SELECT 9 * n_docs FROM n)
       AND COUNT(*) * 50 >= (SELECT n_docs FROM n)
),
vdt AS (SELECT dt.doc_id, dt.term, v.dfreq FROM dt JOIN vocab v USING (term)),
pairs AS (
    SELECT a.term AS term_a, b.term AS term_b,
           any_value(a.dfreq) AS df_a, any_value(b.dfreq) AS df_b,
           COUNT(*) AS n_ab
    FROM vdt a JOIN vdt b
      ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY a.term, b.term
)
SELECT term_a, term_b, n_ab,
       round(ln(n_ab * n.n_docs / (1.0 * df_a * df_b)), 6) AS pmi
FROM pairs CROSS JOIN n
WHERE n_ab >= 5
""")
def pmi_term_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of co-occurring vocabulary terms.

    The quadratic step (terms x terms within a doc) is bounded by the
    vocabulary band: only terms whose document frequency is between 2%
    and 90% of the corpus participate (integer arithmetic, so the band
    is exact on both engines and scale-relative). The df ceiling is
    the blow-up knob — the same role max_bucket plays in the LSH
    paths: ubiquitous boilerplate terms can't explode the per-doc pair
    count. The equi-join key is doc_id, so pair expansion is
    co-partitioned, never a global cross join."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("term"))
    dt = tok.filter(F.length("term") >= 3).distinct()
    n = docs.agg(F.count("*").alias("n_docs"))
    vocab = (dt.groupBy("term").agg(F.count("*").alias("dfreq"))
             .crossJoin(F.broadcast(n))
             .filter((F.col("dfreq") * 10 <= 9 * F.col("n_docs"))
                     & (F.col("dfreq") * 50 >= F.col("n_docs")))
             .select("term", "dfreq"))
    vdt = dt.join(F.broadcast(vocab), "term")
    a = vdt.select(F.col("doc_id"), F.col("term").alias("term_a"),
                   F.col("dfreq").alias("df_a"))
    b = vdt.select(F.col("doc_id"), F.col("term").alias("term_b"),
                   F.col("dfreq").alias("df_b"))
    pairs = (a.join(b, ["doc_id"])
             .filter(F.col("term_a") < F.col("term_b"))
             .groupBy("term_a", "term_b")
             .agg(F.any_value("df_a").alias("df_a"),
                  F.any_value("df_b").alias("df_b"),
                  F.count("*").alias("n_ab"))
             .filter(F.col("n_ab") >= 5))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (pairs.crossJoin(F.broadcast(n))
            .select("term_a", "term_b", "n_ab",
                    F.round(F.log(F.col("n_ab") * F.col("n_docs")
                                  / (1.0 * F.col("df_a") * F.col("df_b"))), 6)
                    .alias("pmi")))


# ---------------------------------------------------------------------------
# Context-window chunking — pack docs into overlapping token windows.
# ---------------------------------------------------------------------------

_CHUNK_W = 40
_CHUNK_S = 30


@register("doc_chunks_overlap", f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS words, len({_TOKS}) AS n
    FROM documents
),
chunks AS (
    SELECT t.doc_id, s.s AS start, t.words[s.s : s.s + {_CHUNK_W - 1}] AS chunk
    FROM toks t, unnest(generate_series(1, t.n, {_CHUNK_S})) s(s)
    WHERE t.n >= 1
)
SELECT doc_id,
       CAST((start - 1) // {_CHUNK_S} AS INT) AS chunk_idx,
       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM chunks
""")
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunks (window 40, stride 30) — the
    packing step before training-sequence assembly. Pure per-row
    explode: no shuffle; chunk payloads here hash to md5 so the
    correctness check stays compact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", token_array(F.col("text")).alias("words"))
    toks = toks.withColumn("n", F.size("words")).filter(F.col("n") >= 1)
    chunks = toks.select(
        "doc_id", "words",
        F.explode(F.sequence(F.lit(1), F.col("n"),
                             F.lit(_CHUNK_S))).alias("start"))
    chunk = F.slice(F.col("words"), F.col("start"), _CHUNK_W)
    return chunks.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {_CHUNK_S} AS INT)").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"))


# ---------------------------------------------------------------------------
# Token-entropy quality signal.
# ---------------------------------------------------------------------------

@register("token_entropy_quality", f"""
WITH tok AS (
    SELECT doc_id, t AS term
    FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
agg AS (
    SELECT doc_id,
           SUM(tf) AS n_tokens,
           COUNT(*) AS n_terms,
           SUM(tf * ln(tf)) AS s
    FROM tf GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_terms AS BIGINT) AS n_terms,
       round(ln(n_tokens) - s / n_tokens, 6) AS entropy,
       round(1.0 * n_terms / n_tokens, 6) AS ttr
FROM agg WHERE n_tokens >= 1
""")
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each doc's token distribution + type-token
    ratio — low entropy flags repetitive/boilerplate docs (a Gopher-
    style quality gate). H = ln(n) - sum(tf*ln(tf))/n, computed from
    the same (doc, term, tf) relation TF-IDF uses; one explode + two
    hash aggs, both map-side combined."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    agg = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count("*").alias("n_terms"),
        F.sum(F.col("tf") * F.log("tf")).alias("s"))
    return (agg.filter(F.col("n_tokens") >= 1)
            .select("doc_id", "n_tokens", "n_terms",
                    F.round(F.log("n_tokens") - F.col("s") / F.col("n_tokens"),
                            6).alias("entropy"),
                    F.round(1.0 * F.col("n_terms") / F.col("n_tokens"), 6)
                    .alias("ttr")))


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier detection per event type.
# ---------------------------------------------------------------------------

@register("mad_outliers_events", """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_id, e.event_type, e.value, e.value - m.med AS dev
    FROM events e JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, quantile_cont(abs(dev), 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       round(d.dev / (1.4826 * m.mad), 4) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE abs(d.dev) > 3 * 1.4826 * m.mad
""")
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers per event type (|dev| > 3 sigma-hat,
    sigma-hat = 1.4826 * MAD). Two grouped exact percentiles over the
    handful of event types, joined back as broadcasts — the fact table
    is scanned twice but never shuffled on a wide key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("dev", F.col("value") - F.col("med")))
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("dev")), F.lit(0.5)).alias("mad"))
    return (dev.join(F.broadcast(mad), "event_type")
            .filter(F.abs(F.col("dev")) > 3 * 1.4826 * F.col("mad"))
            .select("event_id", "event_type", "value",
                    F.round(F.col("dev") / (1.4826 * F.col("mad")), 4)
                    .alias("robust_z")))


# ---------------------------------------------------------------------------
# Fixed-size deterministic per-group sample (reservoir analogue).
# ---------------------------------------------------------------------------

_rsv_hash = md5_long_sql("'rsv:' || CAST(doc_id AS VARCHAR)")


@register("reservoir_sample_per_lang", f"""
SELECT doc_id, lang, CAST(rk AS INT) AS rk
FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
                              ORDER BY {_rsv_hash}, doc_id) AS rk
    FROM documents
)
WHERE rk <= 5
""")
def reservoir_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (k=5) uniform sample per language — the reservoir-
    sampling contract (exactly k per group, uniform, rerun-stable) via
    hash-rank instead of stateful reservoirs: deterministic across
    reruns, partitionings, and engines. One shuffle keyed on lang; at
    scale swap the full sort for a per-partition top-k (Spark's window
    TopK pushdown already does this via WindowGroupLimit)."""
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (docs.select("doc_id", "lang",
                        F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 5))


def _pca_oracle() -> str:
    """LAZY oracle: eigendecomposition is not SQL-expressible, so the
    ground truth is computed here with an INDEPENDENT numpy pass
    straight off the oracle-SF parquet (np.cov + np.linalg.eigh, same
    largest-|coord|-positive sign convention as operators/ml) and
    rendered as a VALUES literal at oracle_sql() access time. Lazy
    because the driver REGENERATES testdata between rounds — a pinned
    literal would silently go stale (the r02->r03 events.ts dtype flip
    proved regeneration happens).

    Rounding mirrors Spark exactly: F.round on doubles is
    BigDecimal.valueOf(d).setScale(6, HALF_UP), i.e. HALF_UP on the
    SHORTEST decimal rendering — Decimal(repr(x)) reproduces that.
    component_head is integer micro-units, so no float-to-string
    rendering is compared across engines.
    """
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

    def r6(x: float) -> float:
        return float(Decimal(repr(float(x)))
                     .quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def micro(x: float) -> int:
        return int(Decimal(repr(float(x)))
                   .quantize(Decimal("1"), ROUND_HALF_UP))

    con = duckdb.connect()
    rows = con.execute(
        "SELECT label, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    by_label: dict[int, list] = {}
    for lab, vec in rows:
        by_label.setdefault(int(lab), []).append(vec)
    values = []
    for lab in sorted(by_label):
        x = np.array(by_label[lab], dtype=np.float64)
        c = np.cov(x, rowvar=False, bias=False)
        vals, vecs = np.linalg.eigh(c)
        top, comp = float(vals[-1]), vecs[:, -1]
        if comp[np.argmax(np.abs(comp))] < 0:
            comp = -comp
        head = ",".join(str(micro(v * 1e6)) for v in comp[:8])
        values.append(
            f"  ({lab}, CAST({x.shape[0]} AS BIGINT), "
            f"CAST({r6(top)!r} AS DOUBLE), "
            f"CAST({r6(top / float(vals.sum()))!r} AS DOUBLE), '{head}')")
    return ("SELECT * FROM (VALUES\n" + ",\n".join(values) +
            "\n) AS t(label, n_vecs, top_eigenvalue, explained_ratio, "
            "component_head)")


@register("pca_embeddings_by_label", _pca_oracle)
def pca_embeddings_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component per embedding label via grouped
    applyInPandas (operators/ml.pca_top_component_by_label) — the
    variance-structure probe a curation pipeline runs before choosing
    cluster counts or projection dims. The oracle is a lazily-rendered
    literal independently computed with numpy (see _pca_oracle);
    tests/test_ml.py additionally asserts values against numpy at
    runtime, so the literal and the live check cross-validate.
    component_head is emitted as integer micro-units (round(x*1e6)) so
    the cross-engine comparison never depends on double->string
    rendering."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", ml.as_double_vec(F.col("embedding")).alias("v"))
    out = ml.pca_top_component_by_label(emb, dim=_DIM)
    return out.select(
        "label", "n_vecs",
        F.round("top_eigenvalue", 6).alias("top_eigenvalue"),
        F.round("explained_ratio", 6).alias("explained_ratio"),
        F.array_join(F.transform("component_head",
                                 lambda x: F.round(x * 1e6)
                                            .cast("long").cast("string")),
                     ",").alias("component_head"))


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via cluster-then-compare (Abbas et al. 2023
# shape): k-means buckets the corpus, exact cosine pairs are generated
# ONLY within clusters, and each vector with an earlier (smaller-id)
# similar neighbor in its cluster is dropped.
# ---------------------------------------------------------------------------

_SEM_TAU = 0.35  # synthetic embeddings are near-orthogonal; real corpora ~0.95

_SEM_CTES, _SEM_FINAL = _kmeans_ctes(_K, _ITERS, _DIM)

_SEM_COS = ("round(list_dot_product(a.v, b.v) / "
            "(sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(b.v, b.v))), 6)")


@register("semantic_dedup", f"""
WITH {_SEM_CTES},
pairs AS (
    SELECT a.vec_id AS keep_id, b.vec_id AS drop_id, {_SEM_COS} AS cos
    FROM {_SEM_FINAL} a JOIN {_SEM_FINAL} b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE {_SEM_COS} >= {_SEM_TAU}
),
dropped AS (
    SELECT drop_id, MIN(keep_id) AS keeper, MAX(cos) AS max_cos
    FROM pairs GROUP BY drop_id
)
SELECT s.vec_id, s.cid AS cluster,
       d.drop_id IS NULL AS kept,
       d.keeper, d.max_cos
FROM {_SEM_FINAL} s LEFT JOIN dropped d ON d.drop_id = s.vec_id
""")
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: drop vectors that have an earlier similar neighbor in
    their k-means cluster (cosine >= tau on 6-dp rounded values, both
    engines).

    Scale shape: the within-cluster self-join is the whole point — at
    corpus scale k grows with n so cluster size stays bounded (SemDeDup
    uses k ~ n/1000), making pair generation O(n * cluster_size)
    instead of O(n^2); the cluster id is the equi-join key, so Spark
    shuffles each side once on cid and never broadcasts the corpus.
    """
    from travel_data_pipeline_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", ml.as_double_vec(F.col("embedding")).alias("v"))
    # the assignment feeds BOTH pair-join sides and the final output
    # join — materialize it once or the whole unrolled Lloyd's DAG
    # replays three times (plan audit: 30 -> ~10 shuffle exchanges)
    assigned = (ml.kmeans(emb, k=_K, iterations=_ITERS)
                .localCheckpoint(eager=True))

    a = assigned.select(F.col("vec_id").alias("keep_id"),
                        F.col("cid"), F.col("v").alias("av"))
    b = assigned.select(F.col("vec_id").alias("drop_id"),
                        F.col("cid"), F.col("v").alias("bv"))
    pairs = (a.join(b, ["cid"])
             .filter(F.col("keep_id") < F.col("drop_id"))
             .select("keep_id", "drop_id",
                     F.round(cosine(F.col("av"), F.col("bv")), 6)
                      .alias("cos"))
             .filter(F.col("cos") >= _SEM_TAU))
    dropped = pairs.groupBy("drop_id").agg(
        F.min("keep_id").alias("keeper"), F.max("cos").alias("max_cos"))
    return (assigned
            .join(dropped, assigned.vec_id == dropped.drop_id, "left")
            .select(assigned.vec_id, F.col("cid").alias("cluster"),
                    F.col("drop_id").isNull().alias("kept"),
                    "keeper", "max_cos"))


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection — 64-dim embeddings down to
# 8 dims via a fixed seeded plane matrix (the cheap-ANN / clustering
# preprocessing step: distances are approximately preserved, storage
# and every downstream distance computation shrink 8x).
# ---------------------------------------------------------------------------

_JL_OUT = 8
_JL_PLANES = None  # filled lazily to avoid import cycle


def _jl_planes() -> list[list[float]]:
    global _JL_PLANES
    if _JL_PLANES is None:
        from travel_data_pipeline_spark.operators.similarity import (
            random_planes,
        )
        _JL_PLANES = random_planes(_JL_OUT, _DIM, seed=29)
    return _JL_PLANES


def _jl_oracle() -> str:
    cols = []
    for j, plane in enumerate(_jl_planes()):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        dot = (f"list_reduce(list_transform(generate_series(1, {_DIM}), "
               f"i -> v[i] * ({lit})[i]), (x, y) -> x + y)")
        cols.append(
            f"       CAST(round(CAST(format('{{}}', {dot}) "
            f"AS DECIMAL(38,18)), 6) AS DOUBLE) + 0.0 AS p{j}")
    return ("WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings)\nSELECT vec_id,\n" + ",\n".join(cols) +
            "\nFROM emb")


@register("embedding_random_projection", _jl_oracle)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection to 8 dims: each output coordinate is a sequential
    dot-product fold against a literal seeded plane (bit-identical in
    both engines — the sign-LSH discipline), parity-rounded with the
    -0.0 guard. Pure projection: zero shuffle at any corpus size."""
    from travel_data_pipeline_spark.operators.similarity import _dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", ml.as_double_vec(F.col("embedding")).alias("v"))
    cols = []
    for j, plane in enumerate(_jl_planes()):
        lit = F.array(*[F.lit(x) for x in plane])
        cols.append((F.round(_dot(F.col("v"), lit), 6)
                     + F.lit(0.0)).alias(f"p{j}"))
    return emb.select("vec_id", *cols)


# ---------------------------------------------------------------------------
# Leave-one-out target encoding — the standard high-cardinality
# categorical encoder for tabular models: each row's category value is
# replaced by the mean target of the OTHER rows in its category
# (leakage-free spelling of mean-target encoding). Exact decimal sums
# per category broadcast back onto the fact; the per-row encode is one
# deterministic double expression shared with the oracle.
# ---------------------------------------------------------------------------

@register("target_encode_loo_segment", """
WITH fact AS (
    SELECT o.o_orderkey, c.c_mktsegment AS segment, o.o_totalprice
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
stats AS (
    SELECT segment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
           COUNT(*) AS n
    FROM fact GROUP BY segment
)
SELECT f.o_orderkey, f.segment,
       CASE WHEN st.n > 1 THEN
         round((st.s - f.o_totalprice) / (CAST(st.n AS DOUBLE) - 1.0), 6)
       END AS loo_encoding
FROM fact f JOIN stats st ON f.segment = st.segment
""")
def target_encode_loo_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean-target encoding of the customer market
    segment against order value.

    One broadcast dim join + one grouped pass for the category stats
    (decimal sums — exact and order-independent), broadcast back; the
    encode itself never shuffles the fact a second time."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    fact = (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey)
            .select("o_orderkey",
                    F.col("c_mktsegment").alias("segment"),
                    "o_totalprice"))
    stats = (fact.groupBy("segment")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("s"),
                  F.count("*").alias("n")))
    return (fact.join(F.broadcast(stats), "segment")
            .select("o_orderkey", "segment",
                    F.when(F.col("n") > 1,
                           F.round((F.col("s") - F.col("o_totalprice"))
                                   / (F.col("n").cast("double") - 1.0), 6))
                    .alias("loo_encoding")))


# ---------------------------------------------------------------------------
# Per-label embedding centroids — the cluster-health readout for a
# labeled embedding corpus (label drift / centroid monitoring). The
# per-(label, dim) mean folds over a vec_id-SORTED value list so the
# float summation order is pinned (same recipe as chi2/PSI); the
# float32 -> double widening is exact in both engines.
# ---------------------------------------------------------------------------

@register("embedding_label_centroids", f"""
WITH vals AS (
    -- range bound derives from each row's actual embedding length
    -- (ADVICE r04: a hardcoded dim would silently desynchronize the
    -- engines if the fixture dimension ever changed)
    SELECT label, CAST(t.i AS INT) AS dim_idx, vec_id,
           CAST(embedding AS DOUBLE[])[t.i + 1] AS v
    FROM embeddings,
         UNNEST(range(0, len(CAST(embedding AS DOUBLE[])))) AS t(i)
),
folded AS (
    SELECT label, dim_idx, count(*) AS n,
           {ordered_sum_sql("v", "vec_id")} AS s
    FROM vals GROUP BY label, dim_idx
)
SELECT label, dim_idx, CAST(n AS BIGINT) AS n,
       round(s / CAST(n AS DOUBLE), 6) + 0.0 AS centroid
FROM folded
""")
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per (label, dimension) with order-pinned float
    summation.

    One posexplode + one groupBy((label, dim)) shuffle carrying
    (vec_id, value) pairs; per-group state is that label's values for
    one dimension — bounded by label size, never corpus x dims."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label", "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>"))
         .alias("dim_idx", "v"))
    folded = (vals.groupBy("label", "dim_idx")
              .agg(F.count("*").alias("n"),
                   ordered_sum("v", "vec_id").alias("s")))
    return folded.select(
        "label", "dim_idx", "n",
        (F.round(F.col("s") / F.col("n").cast("double"), 6) + 0.0)
         .alias("centroid"))


# ---------------------------------------------------------------------------
# Zipf slope of the corpus vocabulary — fit ln(freq) ~ ln(rank) by OLS
# over the full term-frequency table; natural text sits near slope -1,
# so the fit is a one-number corpus-health check (degenerate/generated
# corpora drift off). Term counts are exact integers; each of the four
# OLS sums folds over a rank-SORTED array so the double summation
# order is pinned (chi2/PSI recipe), and the final slope/intercept are
# single expressions with the parity rounding spelling in the oracle.
# ---------------------------------------------------------------------------

@register("zipf_slope_vocab", f"""
WITH tf AS (
    SELECT t AS term, count(*) AS freq
    FROM (SELECT unnest(list_filter(string_split(trim(regexp_replace(
              lower(text), '\\s+', ' ', 'g')), ' '), x -> x <> '')) AS t
          FROM documents)
    GROUP BY t
),
ranked AS (
    SELECT term, freq,
           row_number() OVER (ORDER BY freq DESC, term) AS rk
    FROM tf
),
folded AS (
    SELECT count(*) AS n,
           {ordered_sum_sql('ln(CAST(rk AS DOUBLE))', 'rk')} AS sx,
           {ordered_sum_sql('ln(CAST(freq AS DOUBLE))', 'rk')} AS sy,
           {ordered_sum_sql('ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))',
                            'rk')} AS sxx,
           {ordered_sum_sql('ln(CAST(rk AS DOUBLE)) * ln(CAST(freq AS DOUBLE))',
                            'rk')} AS sxy
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0.0 THEN NULL
            ELSE {round_sql('(CAST(n AS DOUBLE) * sxy - sx * sy)'
                            ' / (CAST(n AS DOUBLE) * sxx - sx * sx)')} + 0.0
       END AS zipf_slope,
       CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0.0 THEN NULL
            ELSE {round_sql('(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)'
                            ' / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)'
                            ' / CAST(n AS DOUBLE)')} + 0.0
       END AS intercept
FROM folded
""")
def zipf_slope_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(freq) against ln(rank) over the vocabulary.

    One explode + one groupBy(term) shuffle builds the tf table; the
    regression runs on the vocabulary relation with rank-sorted array
    folds for all four sums. Vocabulary growth is sublinear (Heaps)
    but unbounded, so the global rank is TWO-PHASE
    (two_phase_ordered): -freq quantile buckets with a prefix_code
    tie-break term (the freq=1 long tail would otherwise land in one
    bucket), bucket-local row_number, broadcast offsets."""
    from travel_data_pipeline_spark.operators.windows import (
        prefix_code, two_phase_ordered)

    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select(F.explode(token_array(F.col("text"))).alias("term"))
          .groupBy("term").agg(F.count("*").alias("freq")))
    ranked = (two_phase_ordered(
                  tf, [F.col("freq").desc(), F.col("term").asc()],
                  -F.col("freq") + prefix_code(F.col("term"), 4),
                  rank_col="rk")
              .select("rk",
                      F.log(F.col("rk").cast("double")).alias("lx"),
                      F.log(F.col("freq").cast("double")).alias("ly")))

    lx, ly = F.col("lx"), F.col("ly")
    folded = ranked.agg(
        F.count("*").alias("n"),
        ordered_sum(lx, "rk").alias("sx"),
        ordered_sum(ly, "rk").alias("sy"),
        ordered_sum(lx * lx, "rk").alias("sxx"),
        ordered_sum(lx * ly, "rk").alias("sxy"))
    n = F.col("n").cast("double")
    # degenerate guard (ADVICE-r04 discipline): a single-term
    # vocabulary has zero ln(rank) variance -> NULL in both engines
    degen = n * F.col("sxx") - F.col("sx") * F.col("sx") <= 0.0
    slope = ((n * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (n * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return folded.select(
        F.col("n").alias("n_terms"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6) + 0.0).alias("zipf_slope"),
        F.when(degen, F.lit(None).cast("double"))
        .otherwise(F.round(intercept, 6) + 0.0).alias("intercept"))


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010) — corpus-level: split
# token streams into candidate phrases at stopword boundaries, score
# words by degree/frequency over all phrases, score a phrase as the
# sum of its word scores, report the top-20 phrases.
#
# Determinism: phrase segmentation is a cumulative stopword count
# (window over integer positions); word freq/degree are exact integer
# counts; word scores are single double divisions; each phrase score
# folds its word scores in POSITION order (the chi2/PSI recipe); the
# top-20 ranks on (score rounded to 6dp, phrase) so ordering is stable
# across engines.
# ---------------------------------------------------------------------------

_RAKE_STOPS = ("the", "a", "and", "of", "to", "in", "is", "it", "that",
               "for")
_RAKE_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in _RAKE_STOPS) + "]"
_RAKE_TOPK = 20


@register("rake_keyword_extraction", f"""
WITH toked AS (
    SELECT doc_id, t.i AS pos, toks[t.i + 1] AS token
    FROM (SELECT doc_id,
                 list_filter(string_split(trim(regexp_replace(lower(text),
                     '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          FROM documents),
         UNNEST(range(0, len(toks))) AS t(i)
),
marked AS (
    SELECT doc_id, pos, token,
           CASE WHEN list_contains({_RAKE_STOPS_SQL}, token)
                THEN 1 ELSE 0 END AS is_stop
    FROM toked
),
pids AS (
    SELECT doc_id, pos, token, is_stop,
           SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
    FROM marked
),
pw AS (
    SELECT doc_id, pid, pos, token FROM pids WHERE is_stop = 0
),
plens AS (
    SELECT doc_id, pid, count(*) AS plen FROM pw GROUP BY doc_id, pid
),
wstats AS (
    SELECT token,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS deg
    FROM pw JOIN plens USING (doc_id, pid)
    GROUP BY token
),
scored_words AS (
    SELECT pw.doc_id, pw.pid, pw.pos, pw.token,
           CAST(w.deg AS DOUBLE) / CAST(w.freq AS DOUBLE) AS wscore
    FROM pw JOIN wstats w ON w.token = pw.token
),
phrases AS (
    SELECT doc_id, pid,
           array_to_string(list(token ORDER BY pos), ' ') AS phrase,
           {ordered_sum_sql("wscore", "pos")} AS pscore
    FROM scored_words GROUP BY doc_id, pid
),
agg AS (
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur,
           round(min(pscore), 6) + 0.0 AS score
    FROM phrases GROUP BY phrase
),
ranked AS (
    SELECT phrase, n_occur, score,
           row_number() OVER (ORDER BY score DESC, phrase) AS rk
    FROM agg
)
SELECT phrase, n_occur, score, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_RAKE_TOPK}
""")
def rake_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 RAKE phrases over the corpus.

    Three shuffles total: the (doc, phrase) grouping, the corpus word
    stats (map-side combinable integer counts broadcast back), and the
    phrase aggregation; the final rank runs on the small distinct-
    phrase relation."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.posexplode(token_array(F.col("text")))
        .alias("pos", "token"))
    marked = toked.withColumn(
        "is_stop",
        F.when(F.col("token").isin(*_RAKE_STOPS), 1).otherwise(0))
    wp = (Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, 0))
    pw = (marked.withColumn("pid", F.sum("is_stop").over(wp))
          .filter(F.col("is_stop") == 0)
          .select("doc_id", "pid", "pos", "token"))
    plens = pw.groupBy("doc_id", "pid").agg(F.count("*").alias("plen"))
    wstats = (pw.join(plens, ["doc_id", "pid"])
              .groupBy("token")
              .agg(F.count("*").cast("long").alias("freq"),
                   F.sum("plen").cast("long").alias("deg")))
    scored = (pw.join(F.broadcast(wstats), "token")
              .select("doc_id", "pid", "pos", "token",
                      (F.col("deg").cast("double")
                       / F.col("freq").cast("double")).alias("wscore")))
    folded = (scored.groupBy("doc_id", "pid")
              .agg(F.array_sort(F.collect_list(
                  F.struct("pos", "token", "wscore"))).alias("ws")))
    phrase = F.array_join(
        F.transform("ws", lambda s: s["token"]), " ")
    pscore = ordered_fold("ws", "wscore")
    phrases = folded.select(phrase.alias("phrase"),
                            pscore.alias("pscore"))
    agg = (phrases.groupBy("phrase")
           .agg(F.count("*").cast("long").alias("n_occur"),
                (F.round(F.min("pscore"), 6) + 0.0).alias("score")))
    w = Window.orderBy(F.col("score").desc(), "phrase")
    return (agg.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _RAKE_TOPK)
            .withColumn("rk", F.col("rk").cast("int")))


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth — distinct vocabulary size after the
# first k documents, for a ladder of prefix sizes: the standard
# corpus-scaling diagnostic (V ~ k^beta). Each term contributes its
# FIRST document id (one grouped min); every ladder point is then a
# count over that tiny (term, first_doc) relation — the corpus is
# scanned exactly once no matter how many steps.
# ---------------------------------------------------------------------------

_HEAPS_STEPS = (25, 50, 100, 200, 400)


@register("heaps_law_vocab_growth", f"""
WITH firsts AS (
    SELECT t AS term, min(doc_id) AS first_doc
    FROM (SELECT doc_id,
                 unnest(list_filter(string_split(trim(regexp_replace(
                     lower(text), '\\s+', ' ', 'g')), ' '), x -> x <> ''))
                   AS t
          FROM documents)
    GROUP BY t
),
steps AS (SELECT unnest(ARRAY{list(_HEAPS_STEPS)}) AS k),
tok_prefix AS (
    SELECT doc_id FROM documents
)
SELECT s.k,
       CAST((SELECT count(*) FROM tok_prefix WHERE doc_id < s.k)
            AS BIGINT) AS n_docs,
       CAST(count(f.term) AS BIGINT) AS vocab_size
FROM steps s LEFT JOIN firsts f ON f.first_doc < s.k
GROUP BY s.k
""")
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size after the first k documents for a fixed ladder
    of k. One tokenize + one grouped min(doc_id) per term; the ladder
    join runs over the vocabulary relation only."""
    docs = load_table(spark, sf_dir, "documents")
    firsts = (docs.select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("term"))
        .groupBy("term").agg(F.min("doc_id").alias("first_doc")))
    steps = local_relation(spark, [(k,) for k in _HEAPS_STEPS], "k int")
    ndocs = (docs.select("doc_id").crossJoin(F.broadcast(steps))
             .filter(F.col("doc_id") < F.col("k"))
             .groupBy("k").agg(F.count("*").cast("long").alias("n_docs")))
    vocab = (firsts.crossJoin(F.broadcast(steps))
             .filter(F.col("first_doc") < F.col("k"))
             .groupBy("k").agg(F.count("*").cast("long").alias("vocab_size")))
    return (steps.join(ndocs, "k", "left").join(vocab, "k", "left")
            .select("k",
                    F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                    F.coalesce("vocab_size", F.lit(0)).alias("vocab_size")))
