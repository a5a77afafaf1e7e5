"""Round-8 candidate queries (written in round 7) — measurement and
platform gaps per VERDICT r06:

- ivf_recall_at_k: the promised-but-missing ANN recall audit
  (operators/similarity.py docstring) — recall@k of the IVF pruned
  scan AND the int8-rerank path against brute-force ground truth,
  over a k x n_probe grid. The IVF sibling of the MinHash
  estimate-vs-exact calibration: the single number a 100 TB user
  needs before trusting a pruned scan.
- bpe_apply_learned: closes the BPE loop — applies the merge table
  learned by bpe_train_merges to a held-out slice and reports
  fertility / OOV vs the whitespace baseline.
- further batch entries follow (quantile sketch merge, incremental
  recompute planning, cross-source contamination matrix, ...), each
  section carrying its own scale-shape note.

Same discipline as every other module: exact integer/decimal moments,
order-pinned folds for float sums, shared per-row double spellings,
Spark-parity rounding (functions/parity.round_sql) on rounded oracle
doubles, broadcast for every dimension/query-sized side.
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
    ordered_fold, ordered_sum, ordered_sum_sql, round_sql,
)
from travel_data_pipeline_spark.functions.oracle_fragments import (
    INT_DOT as _INT_DOT,
    Q8_CTE as _Q8_CTE,
)
from travel_data_pipeline_spark.operators import similarity
from travel_data_pipeline_spark.registry import register
from travel_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# ANN recall@k audit — IVF (exact scoring) and int8-rerank paths vs
# brute-force ground truth.
#
# Scale shape: ground truth is a broadcast of the 5-query set against
# the corpus (the one full scan — the thing IVF avoids, run here ONCE
# as the measurement baseline); every audited path reuses a single
# candidate relation (probed-cluster members with probe_rnk <= 4,
# exact cosine AND int8 approx dot computed side by side), exploded
# against the literal (k, n_probe) grid — a bounded 9x multiplier on a
# per-query candidate relation, never on the corpus. All windows are
# per-(grid cell, query); nothing global. At 100 TB the audit costs
# one brute-force pass over a FIXED query sample plus the pruned scans
# it certifies.
#
# Grid: k in {1,5,10} x n_probe in {1,2,4}; the rerank path keeps the
# registered rerank_keep=20 from ivf_quantized_rerank.
# ---------------------------------------------------------------------------

_RECALL_KS = (1, 5, 10)
_RECALL_PROBES = (1, 2, 4)

_COS = ("ROUND(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b}))), 6)")


@register("ivf_recall_at_k", f"""
WITH cent AS (
    SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings WHERE vec_id % 50 = 0
),
{_Q8_CTE.strip()},
q AS (SELECT vec_id AS query_id, v AS qv_full, qv, scale AS scale_a
      FROM quant WHERE vec_id < 5),
nq AS (SELECT COUNT(*) AS nq FROM q),
truth AS (
    SELECT query_id, neighbor_id, rnk AS truth_rnk FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   {_COS.format(a='q.qv_full', b='n.v')} DESC,
                   n.vec_id ASC) AS rnk
        FROM quant n CROSS JOIN q WHERE q.query_id <> n.vec_id
    ) WHERE rnk <= {max(_RECALL_KS)}
),
assigned AS (
    SELECT vec_id, centroid_id FROM (
        SELECT b.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                   {_COS.format(a='c.cv', b='b.v')} DESC,
                   c.centroid_id ASC) AS rnk
        FROM quant b CROSS JOIN cent c
    ) WHERE rnk = 1
),
probes AS (
    SELECT query_id, centroid_id, rnk AS probe_rnk FROM (
        SELECT q.query_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   {_COS.format(a='q.qv_full', b='c.cv')} DESC,
                   c.centroid_id ASC) AS rnk
        FROM q CROSS JOIN cent c
    ) WHERE rnk <= {max(_RECALL_PROBES)}
),
scored AS (
    SELECT a.query_id, b.vec_id AS neighbor_id, p.probe_rnk,
           {_COS.format(a='a.qv_full', b='b.v')} AS cosine_sim,
           ROUND(CAST({_INT_DOT} AS DOUBLE) * a.scale_a * b.scale, 6)
               AS approx_dot
    FROM probes p
    JOIN assigned x ON x.centroid_id = p.centroid_id
    JOIN quant b ON b.vec_id = x.vec_id
    JOIN q a ON a.query_id = p.query_id
    WHERE b.vec_id <> p.query_id
),
grid AS (
    SELECT k, n_probe
    FROM (VALUES {', '.join(f'({k})' for k in _RECALL_KS)}) ks(k)
    CROSS JOIN (VALUES {', '.join(f'({p})' for p in _RECALL_PROBES)})
         ps(n_probe)
),
ivf_topk AS (
    SELECT k, n_probe, query_id, neighbor_id FROM (
        SELECT g.k, g.n_probe, s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY g.k, g.n_probe, s.query_id
                   ORDER BY s.cosine_sim DESC, s.neighbor_id ASC) AS rnk
        FROM scored s CROSS JOIN grid g
        WHERE s.probe_rnk <= g.n_probe
    ) WHERE rnk <= k
),
kept AS (
    SELECT n_probe, query_id, neighbor_id, cosine_sim FROM (
        SELECT p.n_probe, s.query_id, s.neighbor_id, s.cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY p.n_probe, s.query_id
                   ORDER BY s.approx_dot DESC, s.neighbor_id ASC) AS rnk1
        FROM scored s
        CROSS JOIN (VALUES {', '.join(f'({p})' for p in _RECALL_PROBES)})
             p(n_probe)
        WHERE s.probe_rnk <= p.n_probe
    ) WHERE rnk1 <= 20
),
rr_topk AS (
    SELECT k, n_probe, query_id, neighbor_id FROM (
        SELECT ks.k, kp.n_probe, kp.query_id, kp.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY ks.k, kp.n_probe, kp.query_id
                   ORDER BY kp.cosine_sim DESC, kp.neighbor_id ASC) AS rnk
        FROM kept kp
        CROSS JOIN (VALUES {', '.join(f'({k})' for k in _RECALL_KS)}) ks(k)
    ) WHERE rnk <= k
),
ivf_hits AS (
    SELECT i.k, i.n_probe, COUNT(*) AS n_hits
    FROM ivf_topk i JOIN truth t
      ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
     AND t.truth_rnk <= i.k
    GROUP BY i.k, i.n_probe
),
rr_hits AS (
    SELECT r.k, r.n_probe, COUNT(*) AS n_hits
    FROM rr_topk r JOIN truth t
      ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
     AND t.truth_rnk <= r.k
    GROUP BY r.k, r.n_probe
),
unioned AS (
    SELECT 'ivf_exact' AS path, g.k, g.n_probe,
           COALESCE(h.n_hits, 0) AS n_hits
    FROM grid g LEFT JOIN ivf_hits h USING (k, n_probe)
    UNION ALL
    SELECT 'int8_rerank' AS path, g.k, g.n_probe,
           COALESCE(h.n_hits, 0) AS n_hits
    FROM grid g LEFT JOIN rr_hits h USING (k, n_probe)
)
SELECT path, CAST(k AS INT) AS k, CAST(n_probe AS INT) AS n_probe,
       CAST(n_hits AS BIGINT) AS n_hits,
       ROUND(CAST(n_hits AS DOUBLE) / (k * (SELECT nq FROM nq)), 6)
           AS recall_at_k
FROM unioned
""")
def ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF pruned scan vs brute-force ground truth.

    Two audited paths share ONE candidate relation (members of the 4
    nearest clusters per query, exact cosine and int8 approx-dot both
    computed): 'ivf_exact' ranks candidates with probe_rnk <= n_probe
    by exact cosine; 'int8_rerank' first keeps the top-20 by the
    quantized dot (the ivf_quantized_rerank configuration), then ranks
    those by exact cosine. recall@k = |top-k ∩ brute top-k| / (k ×
    n_queries). Recall is monotone in n_probe (pytest-pinned): more
    probed clusters only add candidates.

    Division denominators (k × nq ∈ {{5,25,50}}) render in <= 6
    decimal digits, so plain ROUND is parity-safe."""
    from travel_data_pipeline_spark.operators import ml

    emb = load_table(spark, sf_dir, "embeddings")
    v = ml.as_double_vec(F.col("embedding"))
    scale_c, q_c, _, _ = ml.quantize_int8(v)
    quant = emb.select("vec_id", v.alias("v"), scale_c.alias("scale"),
                       q_c.alias("qv"))
    cent = (emb.filter(F.col("vec_id") % 50 == 0)
            .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    # r14: bounded (n_queries x k) relation consumed by BOTH recall
    # branches — persist() so the brute-force corpus pass runs once,
    # not once per branch. Measured against the alternatives in an
    # alternating same-box A/B (build+exec mins of 3 process runs):
    # persist 2.28 s total vs lazy localCheckpoint 3.86 (even a LAZY
    # checkpoint pays physical planning + RDD construction at build),
    # eager checkpoint 3.09 (two serial jobs lose to the single-action
    # overlap), no reuse 2.73 (per-branch re-derivation).
    truth = (similarity.brute_force_topk(emb, queries, k=max(_RECALL_KS))
             .select("query_id", "neighbor_id",
                     F.col("rnk").alias("truth_rnk"))
             .persist())

    assigned = similarity.assign_clusters(emb, cent)
    qv = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q_vec"),
        F.col("qv").alias("qa"), F.col("scale").alias("scale_a"))
    cq = cent.select("centroid_id",
                     ml.as_double_vec(F.col("embedding")).alias("c_vec"))
    probes = (qv.crossJoin(F.broadcast(cq))
              .select("query_id", "centroid_id",
                      F.round(similarity.cosine(F.col("q_vec"),
                                                F.col("c_vec")), 6)
                      .alias("sim")))
    wp = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                                F.asc("centroid_id"))
    probed = (probes.withColumn("probe_rnk", F.row_number().over(wp))
              .filter(F.col("probe_rnk") <= max(_RECALL_PROBES))
              .select("query_id", "centroid_id", "probe_rnk"))

    indexed = quant.join(assigned.select("vec_id", "centroid_id"), "vec_id")
    cand = (indexed.join(probed.hint("broadcast"), "centroid_id")
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "probe_rnk", F.col("v").alias("n_vec"),
                    F.col("qv").alias("qb"), F.col("scale").alias("scale_b")))
    int_dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: (x.cast("long") * y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (cand.join(F.broadcast(qv), "query_id")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", "probe_rnk",
                      F.round(similarity.cosine(F.col("q_vec"),
                                                F.col("n_vec")), 6)
                      .alias("cosine_sim"),
                      F.round(int_dot.cast("double")
                              * F.col("scale_a") * F.col("scale_b"), 6)
                      .alias("approx_dot"))
              # r14: ONE candidate relation feeds three rank passes
              # (ivf_rows + kept -> rr_rows); without materialization
              # the quantize/assign/probe chain re-derived per consumer
              # (plan audit: 36 parquet scans -> 4). persist(), not
              # localCheckpoint — see the truth comment above for the
              # measured ranking of the four variants.
              .persist())

    combos = (spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(k).alias("k"), F.lit(p).alias("n_probe"))
        for k in _RECALL_KS for p in _RECALL_PROBES])).alias("c"))
        .select("c.k", "c.n_probe"))
    pgrid = spark.range(1).select(F.explode(F.array(
        *[F.lit(p) for p in _RECALL_PROBES])).alias("n_probe"))
    kgrid = spark.range(1).select(F.explode(F.array(
        *[F.lit(k) for k in _RECALL_KS])).alias("k"))

    wg = Window.partitionBy("k", "n_probe", "query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    ivf_rows = (scored.crossJoin(F.broadcast(combos))
                .filter(F.col("probe_rnk") <= F.col("n_probe"))
                .withColumn("rnk", F.row_number().over(wg))
                .filter(F.col("rnk") <= F.col("k")))

    w1 = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id"))
    kept = (scored.crossJoin(F.broadcast(pgrid))
            .filter(F.col("probe_rnk") <= F.col("n_probe"))
            .withColumn("rnk1", F.row_number().over(w1))
            .filter(F.col("rnk1") <= 20))
    rr_rows = (kept.crossJoin(F.broadcast(kgrid))
               .withColumn("rnk", F.row_number().over(wg))
               .filter(F.col("rnk") <= F.col("k")))

    nq = qv.agg(F.count("*").alias("nq"))

    def recall(rows: DataFrame, path: str) -> DataFrame:
        hits = (rows.join(truth, ["query_id", "neighbor_id"])
                .filter(F.col("truth_rnk") <= F.col("k"))
                .groupBy("k", "n_probe").agg(F.count("*").alias("n_hits")))
        return (combos.join(hits, ["k", "n_probe"], "left")
                .crossJoin(F.broadcast(nq))
                .select(F.lit(path).alias("path"),
                        F.col("k").cast("int").alias("k"),
                        F.col("n_probe").cast("int").alias("n_probe"),
                        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                        .alias("n_hits"),
                        F.round(F.coalesce(F.col("n_hits"), F.lit(0))
                                .cast("double")
                                / (F.col("k") * F.col("nq")), 6)
                        .alias("recall_at_k")))

    return recall(ivf_rows, "ivf_exact").unionAll(recall(rr_rows,
                                                         "int8_rerank"))


# ---------------------------------------------------------------------------
# BPE induction -> application: tokenize a HELD-OUT slice with the
# merge table learned on the training slice, closing the
# bpe_train_merges loop (VERDICT r06 #4 — nothing consumed the learned
# merges).
#
# Split: doc_id % 10 == 7 is held out; training runs the exact
# bpe_train_merges loop on the other 90%. Application replays the
# merges IN RANK ORDER over the held-out token arrays (the same
# leftmost-greedy JVM fold/flatten the trainer uses — no UDF); the
# per-rank application count is the token-count drop at that step, so
# every output number is an exact integer (no float parity surface).
# The 5 per-step actions mirror the training loop's lag-1 persist
# discipline; each step is one linear pass over the 10% slice.
# ---------------------------------------------------------------------------

def _bpe_apply_oracle() -> str:
    """LAZY oracle: independent pure-python train-on-90 / apply-on-10
    off the oracle-SF parquet, rendered as VALUES. Same normalize /
    tokenize / tie-break spellings as _bpe_train_oracle."""
    import os
    import re
    from collections import Counter

    import duckdb

    from travel_data_pipeline_spark.queries_round7 import (
        _BPE_SEP,
        _BPE_TRAIN_MERGES,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')").fetchall()
    con.close()

    def toks(t: str) -> list[str]:
        return [x for x in
                re.sub(r"\s+", " ", t.lower()).strip().split(" ") if x]

    train = [toks(t) for d, t in rows if d % 10 != 7]
    train = [t for t in train if len(t) >= 2]
    held = [toks(t) for d, t in rows if d % 10 == 7]
    held = [t for t in held if len(t) >= 1]

    def apply_merge(docs: list[list[str]], a: str, b: str) -> list[list[str]]:
        m = a + _BPE_SEP + b
        nxt = []
        for tk in docs:
            out: list[str] = []
            for t in tk:
                if out and out[-1] == a and t == b:
                    out[-1] = m
                else:
                    out.append(t)
            nxt.append(out)
        return nxt

    total = sum(len(t) for t in held)
    values = []
    for rank in range(1, _BPE_TRAIN_MERGES + 1):
        c: Counter = Counter()
        for tk in train:
            c.update(zip(tk, tk[1:]))
        if not c:
            break
        (a, b), n = min(c.items(),
                        key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        train = apply_merge(train, a, b)
        held = apply_merge(held, a, b)
        new_total = sum(len(t) for t in held)
        values.append((rank, (a + " " + b).replace("'", "''"), n,
                       total - new_total, new_total))
        total = new_total
    if not values:
        return ("SELECT CAST(0 AS BIGINT) AS merge_rank, '' AS pair, "
                "CAST(0 AS BIGINT) AS n_train_pairs, "
                "CAST(0 AS BIGINT) AS n_applied_heldout, "
                "CAST(0 AS BIGINT) AS heldout_tokens_after WHERE 1 = 0")
    body = ",\n".join(
        f"(CAST({r} AS BIGINT), '{p}', CAST({n} AS BIGINT), "
        f"CAST({ap} AS BIGINT), CAST({tot} AS BIGINT))"
        for r, p, n, ap, tot in values)
    return (f"SELECT * FROM (VALUES\n{body}\n) AS t(merge_rank, pair, "
            "n_train_pairs, n_applied_heldout, heldout_tokens_after)")


@register("bpe_apply_learned", _bpe_apply_oracle)
def bpe_apply_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply merges learned on 90% of the corpus to the held-out 10%.

    Output per merge rank: the training-time pair count and the
    held-out application count + running held-out token total — the
    fertility-improvement curve of the induced tokenizer on unseen
    text (rank-0 baseline = the whitespace token count,
    reconstructable as heldout_tokens_after + cumulative applied)."""
    from travel_data_pipeline_spark.operators import text as _text
    from travel_data_pipeline_spark.queries_round7 import (
        _bpe_train,
        _merge_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    train_toks = (docs.filter(F.col("doc_id") % 10 != 7)
                  .select(_text.token_array(F.col("text")).alias("t"))
                  .filter(F.size("t") >= 2))
    merges = _bpe_train(train_toks)

    cur = (docs.filter(F.col("doc_id") % 10 == 7)
           .select(_text.token_array(F.col("text")).alias("t"))
           .filter(F.size("t") >= 1).persist())
    prev = None
    rows: list[tuple] = []
    try:
        total = int(cur.select(F.coalesce(F.sum(F.size("t")), F.lit(0)))
                    .first()[0])
        for rank, pair, n_train in merges:
            a, b = pair.split(" ")
            prev, cur = cur, (cur.select(_merge_tokens(F.col("t"), a, b)
                                         .alias("t")).persist())
            new_total = int(cur.select(
                F.coalesce(F.sum(F.size("t")), F.lit(0))).first()[0])
            prev.unpersist()
            prev = None
            rows.append((rank, pair, n_train, total - new_total, new_total))
            total = new_total
    finally:
        cur.unpersist()
        if prev is not None:
            prev.unpersist()
    return local_relation(
        spark, rows, "merge_rank long, pair string, n_train_pairs long, "
                     "n_applied_heldout long, heldout_tokens_after long")


# ---------------------------------------------------------------------------
# Mergeable quantile sketch — the distributed-percentile mechanics a
# 100 TB engine actually runs: every partition (order month here)
# builds a fixed 128-bin equi-width histogram (a sketch that merges by
# ADDITION — associative, commutative, constant size), the merged
# histogram answers quantiles at bin-edge resolution, and the audit
# reports the estimate against the EXACT rank statistic (two-phase
# global rank, never a single-partition sort). Error is bounded by one
# bin width by construction — the number this audit certifies.
# ---------------------------------------------------------------------------

_QSK_WIDTH = 4000.0          # bin width; prices live in [1e3, 5e5]
_QSK_BINS = 128
_QSK_QS = ("0.25", "0.5", "0.75", "0.9")


@register("quantile_sketch_merge", f"""
WITH o AS (
    SELECT o_orderkey AS k, o_totalprice AS price,
           CAST(date_part('year', o_orderdate) * 12
                + date_part('month', o_orderdate) AS INT) AS part
    FROM orders
),
sketch AS (   -- per-partition mergeable histogram
    SELECT part, LEAST(CAST(floor(price / {_QSK_WIDTH}) AS INT),
                       {_QSK_BINS - 1}) AS bin, count(*) AS cnt
    FROM o GROUP BY part, bin
),
merged AS (   -- merge = sum per bin
    SELECT bin, SUM(cnt) AS cnt FROM sketch GROUP BY bin
),
cdf AS (
    SELECT bin, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
           AS cum
    FROM merged
),
n AS (SELECT count(*) AS n FROM o),
grid AS (SELECT unnest([{', '.join(_QSK_QS)}]) AS q),
est AS (
    SELECT g.q, MIN(c.bin) AS est_bin
    FROM grid g CROSS JOIN n JOIN cdf c
      ON c.cum >= CAST(ceil(g.q * n.n) AS BIGINT)
    GROUP BY g.q
),
ranked AS (
    SELECT price, row_number() OVER (ORDER BY price, k) AS rn FROM o
),
exact AS (
    SELECT g.q, r.price AS exact_value
    FROM grid g CROSS JOIN n
    JOIN ranked r ON r.rn = CAST(ceil(g.q * n.n) AS BIGINT)
)
SELECT e.q, CAST(n.n AS BIGINT) AS n,
       (est_bin + 1) * {_QSK_WIDTH} AS est_upper_edge,
       x.exact_value,
       round((est_bin + 1) * {_QSK_WIDTH} - x.exact_value, 6) + 0.0
           AS abs_err
FROM est e JOIN exact x ON x.q = e.q CROSS JOIN n
""")
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a merged per-partition histogram sketch, audited
    against the exact rank statistic.

    Scale shape: the sketch build is one map-side-combinable groupBy
    over (partition, bin) with <= months x 128 groups; the merge is a
    <= 128-group sum; the CDF window runs over <= 128 rows (bounded,
    like two_phase_ordered's offsets). Only the AUDIT side touches a
    global rank, and it rides two_phase_ordered."""
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_ordered,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("int").alias("part"))
    bin_c = F.least(F.floor(F.col("price") / _QSK_WIDTH).cast("int"),
                    F.lit(_QSK_BINS - 1))
    sketch = (o.groupBy("part", bin_c.alias("bin"))
              .agg(F.count("*").alias("cnt")))
    merged = sketch.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    w_cdf = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cdf = merged.select("bin", F.sum("cnt").over(w_cdf).alias("cum"))
    n = o.agg(F.count("*").alias("n"))
    grid = local_relation(spark, [(float(q),) for q in _QSK_QS], "q double")
    target = F.ceil(F.col("q") * F.col("n")).cast("long")
    est = (cdf.crossJoin(F.broadcast(grid)).crossJoin(F.broadcast(n))
           .filter(F.col("cum") >= target)
           .groupBy("q").agg(F.min("bin").alias("est_bin")))
    ranked = two_phase_ordered(o, ["price", "k"], F.col("price"),
                               rank_col="rn")
    exact = (ranked.crossJoin(F.broadcast(grid)).crossJoin(F.broadcast(n))
             .filter(F.col("rn") == target)
             .select("q", F.col("price").alias("exact_value")))
    return (est.join(exact, "q").crossJoin(F.broadcast(n))
            .select("q", F.col("n").cast("long").alias("n"),
                    ((F.col("est_bin") + 1) * F.lit(_QSK_WIDTH))
                    .alias("est_upper_edge"),
                    "exact_value",
                    (F.round((F.col("est_bin") + 1) * F.lit(_QSK_WIDTH)
                             - F.col("exact_value"), 6) + 0.0)
                    .alias("abs_err")))


# ---------------------------------------------------------------------------
# Incremental recompute planning — the compaction-planner sibling of
# dataset_snapshot_diff (VERDICT r06 #6): given yesterday's snapshot
# (simulated as orders minus the o_orderkey % 97 == 0 rows) and
# today's, fingerprint each partition (order month) with an
# order-independent bit_xor of row hashes, and emit per partition the
# minimal recompute decision a mart scheduler needs: unchanged
# partitions skip, changed/new ones recompute with their current row
# counts. Only (month, fingerprint) projections ever shuffle — never
# rows — exactly the dataset_snapshot_diff discipline.
# ---------------------------------------------------------------------------

@register("incremental_recompute_plan", f"""
WITH cur AS (
    SELECT CAST(date_part('year', o_orderdate) * 12
                + date_part('month', o_orderdate) AS INT) AS part,
           {md5_long_sql("o_orderkey || ':' || CAST(o_totalprice AS VARCHAR)"
                         " || ':' || o_orderstatus")} AS h
    FROM orders
),
prev AS (SELECT * FROM cur WHERE h % 97 <> 0),
curfp AS (SELECT part, bit_xor(h) AS fp, count(*) AS n_rows
          FROM cur GROUP BY part),
prevfp AS (SELECT part, bit_xor(h) AS fp FROM prev GROUP BY part)
SELECT COALESCE(c.part, p.part) AS part,
       CASE WHEN p.part IS NULL THEN 'new'
            WHEN c.part IS NULL THEN 'deleted'
            WHEN c.fp = p.fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       CAST(COALESCE(c.n_rows, 0) AS BIGINT) AS n_rows,
       CAST(CASE WHEN p.part IS NULL OR c.part IS NULL OR c.fp <> p.fp
                 THEN COALESCE(c.n_rows, 0) ELSE 0 END AS BIGINT)
           AS rows_to_recompute
FROM curfp c FULL OUTER JOIN prevfp p ON c.part = p.part
""")
def incremental_recompute_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal per-partition recompute set between two snapshots.

    The 'previous' snapshot drops rows whose row-hash % 97 == 0
    (deterministic at any SF), so most months differ and a few are
    unchanged — the plan marks exactly which months a downstream mart
    must rebuild. Fingerprint = bit_xor of 60-bit md5 row hashes:
    order-independent, mergeable, and 8 bytes per partition."""
    o = load_table(spark, sf_dir, "orders")
    part = (F.year("o_orderdate") * 12
            + F.month("o_orderdate")).cast("int").alias("part")
    h = md5_long(F.concat_ws(":", F.col("o_orderkey").cast("string"),
                             F.col("o_totalprice").cast("string"),
                             F.col("o_orderstatus")))
    cur = o.select(part, h.alias("h"))
    prev = cur.filter(F.col("h") % 97 != 0)
    curfp = cur.groupBy("part").agg(
        F.bit_xor("h").alias("fp"), F.count("*").alias("n_rows"))
    prevfp = prev.groupBy("part").agg(F.bit_xor("h").alias("fp"))
    c, p = curfp.alias("c"), prevfp.alias("p")
    changed = (F.col("p.part").isNull() | F.col("c.part").isNull()
               | (F.col("c.fp") != F.col("p.fp")))
    return (c.join(p, F.col("c.part") == F.col("p.part"), "full_outer")
            .select(
                F.coalesce(F.col("c.part"), F.col("p.part")).alias("part"),
                F.when(F.col("p.part").isNull(), "new")
                 .when(F.col("c.part").isNull(), "deleted")
                 .when(F.col("c.fp") == F.col("p.fp"), "unchanged")
                 .otherwise("changed").alias("status"),
                F.coalesce(F.col("c.n_rows"), F.lit(0)).cast("long")
                 .alias("n_rows"),
                F.when(changed, F.coalesce(F.col("c.n_rows"), F.lit(0)))
                 .otherwise(0).cast("long").alias("rows_to_recompute")))


# ---------------------------------------------------------------------------
# Cross-source contamination matrix — which eval suite leaks into
# which training source (VERDICT r06 #6): eval suites are the per-lang
# held-out slices (doc_id % 10 == 3), training is everything else
# keyed by source. A (source, suite) cell reports how many of the
# suite's distinct 5-gram shingles appear anywhere in that source —
# the matrix view of contamination_ngram_overlap. Scale shape: both
# sides reduce to DISTINCT (key, shingle) projections; the suite side
# is eval-sized (broadcast), the train side aggregates per shingle
# BEFORE the join so the corpus never re-shuffles per suite.
# ---------------------------------------------------------------------------

@register("contamination_source_matrix", f"""
WITH normed AS (
    SELECT doc_id, source, lang,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
grams AS (
    SELECT w.doc_id, w.source, w.lang,
           array_to_string(w.words[i.i:i.i+4], ' ') AS g
    FROM (SELECT doc_id, source, lang, string_split(norm, ' ') AS words
          FROM normed) w,
         unnest(generate_series(1, greatest(len(w.words) - 4, 0))) AS i(i)
),
eval_grams AS (
    SELECT DISTINCT lang AS suite, g FROM grams WHERE doc_id % 10 = 3
),
suite_sizes AS (
    SELECT suite, count(*) AS n_suite_grams FROM eval_grams GROUP BY suite
),
train_grams AS (
    SELECT DISTINCT source, g FROM grams WHERE doc_id % 10 <> 3
),
cells AS (
    SELECT t.source, e.suite, count(*) AS n_hit
    FROM train_grams t JOIN eval_grams e ON e.g = t.g
    GROUP BY t.source, e.suite
)
SELECT s.suite, c.source, CAST(c.n_hit AS BIGINT) AS n_hit,
       CAST(s.n_suite_grams AS BIGINT) AS n_suite_grams,
       {round_sql("c.n_hit / CAST(s.n_suite_grams AS DOUBLE)")}
           AS leak_share
FROM cells c JOIN suite_sizes s ON s.suite = c.suite
""")
def contamination_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(training source x eval suite) 5-gram leakage matrix; only
    cells with at least one hit are emitted."""
    from travel_data_pipeline_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("doc_id", "source", "lang",
                        F.explode(dedup.word_shingles(F.col("text"), 5))
                        .alias("g"))
    eval_grams = (grams.filter(F.col("doc_id") % 10 == 3)
                  .select(F.col("lang").alias("suite"), "g").distinct())
    suite_sizes = eval_grams.groupBy("suite").agg(
        F.count("*").alias("n_suite_grams"))
    train_grams = (grams.filter(F.col("doc_id") % 10 != 3)
                   .select("source", "g").distinct())
    cells = (train_grams.join(F.broadcast(eval_grams), "g")
             .groupBy("source", "suite").agg(F.count("*").alias("n_hit")))
    return (cells.join(F.broadcast(suite_sizes), "suite")
            .select("suite", "source",
                    F.col("n_hit").cast("long").alias("n_hit"),
                    F.col("n_suite_grams").cast("long")
                    .alias("n_suite_grams"),
                    F.round(F.col("n_hit")
                            / F.col("n_suite_grams").cast("double"), 6)
                    .alias("leak_share")))


# ---------------------------------------------------------------------------
# Stratified group-integral split — train/val/test assignment where
# the unit is the USER (all of a user's events land in one split, so
# no behavioral leakage across splits) and the assignment is a pure
# md5 threshold (rerun-stable, cluster-size invariant, no shuffle to
# assign). The audit reports the per-(split, event_type) composition a
# dataset card needs. 80/10/10 by construction.
# ---------------------------------------------------------------------------

_SPLIT_SQL = f"""CASE WHEN {md5_long_sql("'sp:' || CAST(user_id AS VARCHAR)")}
    % 10 < 8 THEN 'train'
    WHEN {md5_long_sql("'sp:' || CAST(user_id AS VARCHAR)")} % 10 = 8
    THEN 'val' ELSE 'test' END"""


@register("stratified_group_split", f"""
WITH assigned AS (
    SELECT user_id, event_type, {_SPLIT_SQL} AS split FROM events
),
cells AS (
    SELECT split, event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM assigned GROUP BY split, event_type
),
t AS (SELECT event_type, SUM(n_events) AS tot FROM cells
      GROUP BY event_type)
SELECT c.split, c.event_type, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_users AS BIGINT) AS n_users,
       {round_sql("n_events / CAST(tot AS DOUBLE)")} AS type_share
FROM cells c JOIN t ON t.event_type = c.event_type
""")
def stratified_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split audit: every user's events share one split
    (hash-of-user assignment), and each (split, event_type) cell
    reports its event/user counts and within-type share."""
    ev = load_table(spark, sf_dir, "events")
    hash10 = md5_long(
        F.concat(F.lit("sp:"), F.col("user_id").cast("string"))) % 10
    split = (F.when(hash10 < 8, "train")
             .when(hash10 == 8, "val").otherwise("test"))
    cells = (ev.select(split.alias("split"), "event_type", "user_id")
             .groupBy("split", "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.countDistinct("user_id").alias("n_users")))
    t = cells.groupBy("event_type").agg(F.sum("n_events").alias("tot"))
    return (cells.join(F.broadcast(t), "event_type")
            .select("split", "event_type",
                    F.col("n_events").cast("long").alias("n_events"),
                    F.col("n_users").cast("long").alias("n_users"),
                    F.round(F.col("n_events")
                            / F.col("tot").cast("double"), 6)
                    .alias("type_share")))


# ---------------------------------------------------------------------------
# N-gram novelty curve — how much genuinely NEW text each tranche of
# the corpus contributes: a distinct 3-gram is credited to the FIRST
# doc (min doc_id) containing it; per 25-doc tranche the novelty share
# is new grams / distinct gram slots. The saturation readout that
# tells a crawl when marginal data stops adding content (Heaps-law's
# per-tranche sibling). Scale shape: one distinct (doc, gram)
# projection, one gram-keyed min, one doc-keyed count — never a
# corpus self-join.
# ---------------------------------------------------------------------------

@register("ngram_novelty_curve", """
WITH normed AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
grams AS (
    SELECT DISTINCT w.doc_id, array_to_string(w.words[i.i:i.i+2], ' ') AS g
    FROM (SELECT doc_id, string_split(norm, ' ') AS words FROM normed) w,
         unnest(generate_series(1, greatest(len(w.words) - 2, 0))) AS i(i)
),
firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
new_per_doc AS (
    SELECT first_doc AS doc_id, count(*) AS n_new FROM firsts
    GROUP BY first_doc
),
tot_per_doc AS (
    SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
)
SELECT CAST(t.doc_id // 25 AS BIGINT) AS tranche,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_grams) AS BIGINT) AS n_grams,
       CAST(SUM(COALESCE(n.n_new, 0)) AS BIGINT) AS n_new,
       ROUND(SUM(COALESCE(n.n_new, 0)) / CAST(SUM(t.n_grams) AS DOUBLE),
             6) AS novelty
FROM tot_per_doc t LEFT JOIN new_per_doc n ON n.doc_id = t.doc_id
GROUP BY tranche
""")
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-25-doc-tranche share of 3-grams never seen in any earlier
    doc. Docs with fewer than 3 words carry no gram slots and drop
    out of the curve (same on both sides)."""
    from travel_data_pipeline_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    grams = (docs.select("doc_id",
                         F.explode(dedup.word_shingles(F.col("text"), 3))
                         .alias("g"))
             .distinct())
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = (firsts.groupBy(F.col("first_doc").alias("doc_id"))
                   .agg(F.count("*").alias("n_new")))
    tot_per_doc = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"))
    joined = tot_per_doc.join(new_per_doc, "doc_id", "left")
    return (joined.groupBy((F.col("doc_id") / 25).cast("long")
                           .alias("tranche"))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_grams").cast("long").alias("n_grams"),
                 F.sum(F.coalesce("n_new", F.lit(0))).cast("long")
                 .alias("n_new"))
            .select("tranche", "n_docs", "n_grams", "n_new",
                    F.round(F.col("n_new")
                            / F.col("n_grams").cast("double"), 6)
                    .alias("novelty")))


# ---------------------------------------------------------------------------
# Calibration reliability bins — is the frozen quality scorer's
# confidence honest? The raw logit is min-max scaled to [0, 1] over
# the corpus (a sigmoid squash would use exp(), which differs in the
# last ulp across libm implementations — min-max is plain IEEE ops on
# exact extrema and, unlike the squash, actually spreads this
# corpus's narrow logit band across all 10 bins), binned into 10
# equal-width probability bins, and each bin reports mean predicted p
# vs empirical positive rate plus its weighted ECE contribution.
# Exactness: p is 6-dp rounded, so per-bin sums ride DECIMAL(18,6)
# (order-independent); every derived double is one shared expression.
# One corpus scan, a <= 10-group aggregate.
# ---------------------------------------------------------------------------

_CAL_SCORE = ("-2.0 + 3.5 * alpha_ratio - 6.0 * (1.0 - alpha_ratio)"
              " + 0.08 * mean_word_len + 0.9 * log_len")

# the feats -> x -> judged -> mnmx -> probs chain, shared verbatim by
# cdf_calibration_bins and isotonic_calibration_bins (queries_round15)
# so both engines/queries bin the IDENTICAL (p, truth) relation
CAL_PROBS_SQL = f"""feats AS (
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
cal_binned AS (
    SELECT LEAST(CAST(floor(p * 10) AS INT), 9) AS bin,
           count(*) AS n,
           SUM(CAST(p AS DECIMAL(18,6))) AS sum_p,
           SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS n_pos
    FROM probs GROUP BY bin
)"""


def calibration_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, n, sum_p DECIMAL, n_pos) — the reliability-bin relation
    of the frozen quality scorer (one corpus scan, <= 10 groups);
    shared by cdf_calibration_bins and isotonic_calibration_bins."""
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
    return (probs.groupBy(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9))
        .alias("bin"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col("p").cast("decimal(18,6)")).alias("sum_p"),
             F.sum(F.when(F.col("truth"), 1).otherwise(0)).alias("n_pos")))


@register("cdf_calibration_bins", f"""
WITH {CAL_PROBS_SQL},
tot AS (SELECT SUM(n) AS total FROM cal_binned)
SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n,
       {round_sql("CAST(sum_p AS DOUBLE) / n")} AS mean_p,
       {round_sql("n_pos / CAST(n AS DOUBLE)")} AS pos_rate,
       {round_sql("abs(CAST(sum_p AS DOUBLE) / n"
                  " - n_pos / CAST(n AS DOUBLE))"
                  " * (n / CAST(total AS DOUBLE))")} AS ece_term
FROM cal_binned CROSS JOIN tot
""")
def cdf_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins + per-bin ECE contribution for the
    frozen quality scorer (same score/truth spelling as
    classifier_threshold_sweep; bin relation shared with
    isotonic_calibration_bins via calibration_binned)."""
    binned = calibration_binned(spark, sf_dir)
    tot = binned.agg(F.sum("n").alias("total"))
    mean_p = F.col("sum_p").cast("double") / F.col("n")
    pos_rate = F.col("n_pos") / F.col("n").cast("double")
    return (binned.crossJoin(F.broadcast(tot))
            .select(F.col("bin").cast("int").alias("bin"),
                    F.col("n").cast("long").alias("n"),
                    F.round(mean_p, 6).alias("mean_p"),
                    F.round(pos_rate, 6).alias("pos_rate"),
                    F.round(F.abs(mean_p - pos_rate)
                            * (F.col("n")
                               / F.col("total").cast("double")), 6)
                    .alias("ece_term")))


# ---------------------------------------------------------------------------
# HyperLogLog union audit — the mergeable distinct-count sketch from
# first principles (md5-derived so both engines agree bit-for-bit):
# per event_type, 64 registers hold max(rho) of each bucket's hashes;
# the UNION across event types is the register-wise max — the property
# that makes HLL the right distinct-user structure for a 1000-executor
# fleet (registers merge like the histogram sketch's bins add). The
# audit reports each type's estimate and the merged estimate against
# exact distinct counts. Floats: 2^-M terms are exact dyadic doubles
# but their SUM spans > 53 bits, so both engines fold over the
# bucket-ORDERED list (the order-pinned-fold rule).
# ---------------------------------------------------------------------------

_HLL_M = 64
_HLL_ALPHA = 0.709   # standard alpha for m = 64


def _hll_fold_sql(key: str, src: str) -> str:
    """Shared oracle spelling of the register fold + small-range
    correction: ``src`` must expose (key..., bucket, m) over the FULL
    {_HLL_M}-bucket grid. Yields two CTE bodies joined by the caller:
    folded(key, harm_est, z) and est(key, raw_est)."""
    return f"""
folded AS (
    SELECT {key},
           {_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / {ordered_sum_sql(
               "1.0 / CAST(CAST(1 AS BIGINT) << m AS DOUBLE)", "bucket")}
               AS harm_est,
           SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS z
    FROM {src} GROUP BY {key}
),
est AS (     -- small-range correction: linear counting below 2.5m
    SELECT {key},
           CASE WHEN harm_est <= {2.5 * _HLL_M} AND z > 0
                THEN {_HLL_M} * ln({_HLL_M} / CAST(z AS DOUBLE))
                ELSE harm_est END AS raw_est
    FROM folded
)"""


def user_hll_registers(df: DataFrame,
                       keys: tuple[str, ...] = ()) -> DataFrame:
    """(keys..., bucket, m) MAX-rho registers of md5('hll:'||user_id)
    — the one register builder shared by the union audit, the running
    curve, and the streaming register twin
    (streaming/jobs.hll_register_stream). rho is derived portably:
    55 - len(bin(h div 64)) over the 60-bit md5 hash (bin() strips
    leading zeros in both engines); h div 64 is INTEGER division (a
    double floor would round through 53 bits and corrupt high
    hashes). Buckets a key never hashed into are ABSENT (callers fill
    the grid with 0)."""
    h = md5_long(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    w_high = F.expr(f"h div {_HLL_M}")
    rho = (df.select(*keys, h.alias("h"))
           .select(*keys,
                   (F.col("h") % _HLL_M).cast("int").alias("bucket"),
                   F.when(w_high == 0, 55)
                   .otherwise(55 - F.length(F.bin(w_high))).alias("r")))
    return (rho.groupBy(*keys, "bucket").agg(F.max("r").alias("m")))


def _hll_fold_spark(full_regs: DataFrame, key: str) -> DataFrame:
    """Spark twin of ``_hll_fold_sql``: (key, bucket, m) full grid ->
    (key, raw_est). Order-pinned fold (bucket-sorted structs); 2^-m
    via an exact long shift; linear counting below 2.5m."""
    term = F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), s.m) "
                  "AS DOUBLE)")
    folded = (full_regs.alias("s")
              .select(f"s.{key}", F.col("s.m").alias("m"),
                      F.col("s.bucket").alias("bucket"), term.alias("t"))
              .groupBy(key)
              .agg(ordered_sum("t", "bucket").alias("denom"),
                   F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
                   .alias("z")))
    harm_est = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("denom")
    return folded.select(
        key,
        F.when((harm_est <= 2.5 * _HLL_M) & (F.col("z") > 0),
               F.lit(float(_HLL_M))
               * F.log(F.lit(float(_HLL_M)) / F.col("z").cast("double")))
        .otherwise(harm_est).alias("raw_est"))


@register("hyperloglog_union_audit", f"""
WITH hashed AS (
    SELECT event_type,
           {md5_long_sql("'hll:' || CAST(user_id AS VARCHAR)")} AS h
    FROM events
),
rho AS (
    SELECT event_type, CAST(h % {_HLL_M} AS INT) AS bucket,
           CASE WHEN h // {_HLL_M} = 0 THEN 55
                ELSE 55 - length(bin(h // {_HLL_M})) END AS r
    FROM hashed
),
regs AS (
    SELECT event_type, bucket, MAX(r) AS m
    FROM rho GROUP BY event_type, bucket
),
keys AS (SELECT DISTINCT event_type FROM events
         UNION ALL SELECT 'ALL'),
merged AS (      -- union across types = register-wise max
    SELECT 'ALL' AS event_type, bucket, MAX(m) AS m
    FROM regs GROUP BY bucket
),
allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
full_regs AS (   -- absent buckets carry register value 0
    SELECT k.event_type, b.bucket, COALESCE(a.m, 0) AS m
    FROM keys k
    CROSS JOIN (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket) b
    LEFT JOIN allregs a
      ON a.event_type = k.event_type AND a.bucket = b.bucket
),
{_hll_fold_sql("event_type", "full_regs")},
exact AS (
    SELECT event_type, count(DISTINCT user_id) AS exact_n FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'ALL', count(DISTINCT user_id) FROM events
)
SELECT e.event_type,
       CAST(x.exact_n AS BIGINT) AS exact_n,
       {round_sql("e.raw_est")} AS hll_estimate,
       {round_sql("(e.raw_est - x.exact_n) / CAST(x.exact_n AS DOUBLE)")}
           AS rel_err
FROM est e JOIN exact x ON x.event_type = e.event_type
""")
def hyperloglog_union_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL(m=64) distinct-user estimates, the merged
    union estimate, and relative error vs exact distincts. rho is
    derived portably: 55 - len(bin(h div 64)) over the 60-bit md5
    hash (bin() strips leading zeros in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    regs = user_hll_registers(ev.select("event_type", "user_id"),
                              keys=("event_type",))
    merged = (regs.groupBy("bucket").agg(F.max("m").alias("m"))
              .select(F.lit("ALL").alias("event_type"), "bucket", "m"))
    allregs = regs.unionByName(merged)
    keys = (ev.select("event_type").distinct()
            .unionByName(
                ev.sparkSession.range(1)
                .select(F.lit("ALL").alias("event_type"))))
    buckets = ev.sparkSession.range(_HLL_M).select(
        F.col("id").cast("int").alias("bucket"))
    full_regs = (keys.crossJoin(F.broadcast(buckets))
                 .join(allregs, ["event_type", "bucket"], "left")
                 .na.fill({"m": 0}))
    est = _hll_fold_spark(full_regs, "event_type")
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_n"))
             .unionByName(ev.agg(
                 F.countDistinct("user_id").alias("exact_n"))
                 .select(F.lit("ALL").alias("event_type"), "exact_n")))
    return (est.join(exact, "event_type")
            .select("event_type",
                    F.col("exact_n").cast("long").alias("exact_n"),
                    F.round(F.col("raw_est"), 6).alias("hll_estimate"),
                    F.round((F.col("raw_est") - F.col("exact_n"))
                            / F.col("exact_n").cast("double"), 6)
                    .alias("rel_err")))


# ---------------------------------------------------------------------------
# Rolling retention matrix — the cohort triangle: users grouped by
# FIRST-active week, each cell = distinct users of that cohort active
# at week offset 0..3, plus the retention share. Two shuffles total
# (first-week per user, then cohort x offset distincts); the triangle
# itself is bounded by weeks^2, never data-scaled.
# ---------------------------------------------------------------------------

@register("rolling_retention_matrix", """
WITH act AS (
    SELECT DISTINCT user_id,
           CAST(date_diff('day', TIMESTAMP '2024-01-01',
                          date_trunc('day', ts)) // 7 AS BIGINT) AS wk
    FROM events
),
firsts AS (SELECT user_id, MIN(wk) AS cohort FROM act GROUP BY user_id),
sizes AS (SELECT cohort, count(*) AS cohort_users FROM firsts
          GROUP BY cohort),
cells AS (
    SELECT f.cohort, a.wk - f.cohort AS offset_wk,
           count(DISTINCT a.user_id) AS active_users
    FROM act a JOIN firsts f ON f.user_id = a.user_id
    GROUP BY f.cohort, a.wk - f.cohort
)
SELECT c.cohort, c.offset_wk,
       CAST(c.active_users AS BIGINT) AS active_users,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       ROUND(c.active_users / CAST(s.cohort_users AS DOUBLE), 6)
           AS retention
FROM cells c JOIN sizes s ON s.cohort = c.cohort
""")
def rolling_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over the events log."""
    ev = load_table(spark, sf_dir, "events")
    # the event log starts 2024-01-01, so the day quotient is
    # non-negative and floor matches DuckDB's // on every row
    act = ev.select("user_id",
                    F.floor(F.datediff(F.date_trunc("day", "ts"),
                                       F.lit("2024-01-01")
                                       .cast("timestamp")) / 7)
                    .cast("long").alias("wk")).distinct()
    firsts = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(
        F.count("*").alias("cohort_users"))
    cells = (act.join(firsts, "user_id")
             .groupBy("cohort", (F.col("wk") - F.col("cohort"))
                      .alias("offset_wk"))
             .agg(F.countDistinct("user_id").alias("active_users")))
    return (cells.join(F.broadcast(sizes), "cohort")
            .select("cohort", "offset_wk",
                    F.col("active_users").cast("long")
                    .alias("active_users"),
                    F.col("cohort_users").cast("long")
                    .alias("cohort_users"),
                    F.round(F.col("active_users")
                            / F.col("cohort_users").cast("double"), 6)
                    .alias("retention")))


# ---------------------------------------------------------------------------
# Log-scaled value histogram — the profiling primitive for skewed
# money columns: power-of-two bins (floor(log2) via the bit length of
# the integer part — exact integer arithmetic, no float log whose
# boundary cases could disagree between engines). One
# map-side-combinable groupBy, <= 64 groups.
# ---------------------------------------------------------------------------

@register("order_value_histogram_log", """
WITH b AS (
    SELECT length(bin(CAST(floor(o_totalprice) AS BIGINT))) - 1
               AS log2_bin,
           o_totalprice AS v
    FROM orders
),
t AS (SELECT count(*) AS total FROM b)
SELECT CAST(log2_bin AS INT) AS log2_bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(v) AS DOUBLE) AS min_value,
       CAST(max(v) AS DOUBLE) AS max_value,
       ROUND(count(*) / CAST(max(total) AS DOUBLE), 6) AS share
FROM b CROSS JOIN t
GROUP BY log2_bin
""")
def order_value_histogram_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of order values: bin = floor(log2(v)),
    computed as bit_length(floor(v)) - 1 (prices are >= 1, so the
    integer part is >= 1 and bin() is never '0')."""
    o = load_table(spark, sf_dir, "orders")
    log2_bin = (F.length(F.bin(F.floor("o_totalprice").cast("long")))
                - 1).cast("int")
    t = o.agg(F.count("*").alias("total"))
    return (o.select(log2_bin.alias("log2_bin"),
                     F.col("o_totalprice").alias("v"))
            .crossJoin(F.broadcast(t))
            .groupBy("log2_bin")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.min("v").cast("double").alias("min_value"),
                 F.max("v").cast("double").alias("max_value"),
                 F.round(F.count("*") / F.max("total").cast("double"), 6)
                 .alias("share")))


# ---------------------------------------------------------------------------
# Cluster-sampling design effect — when the sampling unit is the USER
# (as in stratified_group_split), variance inflates by
# deff = 1 + (m_bar - 1) * ICC. ICC via one-way ANOVA from EXACT
# decimal moments of event `value` clustered by user: per-user
# (n, sum, sum of squares) in DECIMAL — order-independent — then
# between/within mean squares as shared double expressions. The
# number that converts "we sampled 10% of users" into an effective
# sample size.
# ---------------------------------------------------------------------------

@register("sampling_design_effect", f"""
WITH per_user AS (
    SELECT user_id, count(*) AS m,
           SUM(CAST(value AS DECIMAL(18,6))) AS s,
           SUM(CAST(value AS DECIMAL(18,6))
               * CAST(value AS DECIMAL(18,6))) AS ss
    FROM events GROUP BY user_id
),
g AS (
    SELECT count(*) AS k, SUM(m) AS n,
           SUM(s) AS gs, SUM(ss) AS gss,
           SUM(CAST(s AS DECIMAL(38,12)) * CAST(s AS DECIMAL(38,12))
               / m) AS sum_s2_over_m
    FROM per_user
),
msq AS (
    SELECT k, n,
           (CAST(sum_s2_over_m AS DOUBLE)
            - CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE) / n)
               / (k - 1) AS msb,
           (CAST(gss AS DOUBLE) - CAST(sum_s2_over_m AS DOUBLE))
               / (n - k) AS msw,
           CAST(n AS DOUBLE) / k AS m_bar
    FROM g
)
SELECT CAST(k AS BIGINT) AS n_users, CAST(n AS BIGINT) AS n_events,
       {round_sql("m_bar")} AS mean_cluster_size,
       {round_sql("(msb - msw) / (msb + (m_bar - 1) * msw)")} AS icc,
       {round_sql("1.0 + (m_bar - 1) *"
                  " ((msb - msw) / (msb + (m_bar - 1) * msw))")} AS deff
FROM msq
""")
def sampling_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row ANOVA-based ICC + design effect for user-clustered
    sampling of event values. All sums are DECIMAL-exact; the ICC
    uses the ANOVA estimator (msb - msw)/(msb + (m_bar-1) msw) with
    m_bar = n/k (the equal-size approximation, reported alongside)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    per_user = (ev.groupBy("user_id")
                .agg(F.count("*").alias("m"),
                     F.sum(v).alias("s"),
                     F.sum(v * v).alias("ss")))
    g = per_user.agg(
        F.count("*").alias("k"), F.sum("m").alias("n"),
        F.sum("s").alias("gs"), F.sum("ss").alias("gss"),
        F.sum(F.col("s").cast("decimal(38,12)")
              * F.col("s").cast("decimal(38,12)")
              / F.col("m")).alias("sum_s2_over_m"))
    k, n = F.col("k"), F.col("n")
    msb = ((F.col("sum_s2_over_m").cast("double")
            - F.col("gs").cast("double") * F.col("gs").cast("double") / n)
           / (k - 1))
    msw = ((F.col("gss").cast("double")
            - F.col("sum_s2_over_m").cast("double")) / (n - k))
    m_bar = n.cast("double") / k
    icc = (msb - msw) / (msb + (m_bar - 1) * msw)
    return g.select(
        k.cast("long").alias("n_users"),
        n.cast("long").alias("n_events"),
        F.round(m_bar, 6).alias("mean_cluster_size"),
        F.round(icc, 6).alias("icc"),
        F.round(F.lit(1.0) + (m_bar - 1) * icc, 6).alias("deff"))


# ---------------------------------------------------------------------------
# Survivorship merge (golden record) — after exact dedup finds
# clusters of byte-identical text, merge each cluster's metadata into
# ONE canonical record under explicit survivorship rules: canonical id
# = min doc_id, lang = most frequent (ties -> lexicographic), source =
# that of the canonical doc, n_chars = max. The record-linkage
# counterpart of dedup_canonical_map: that picks a WINNER ROW, this
# builds a MERGED row field by field. One text-key shuffle; the mode
# is a bounded per-(cluster, lang) count + deterministic argmax.
# ---------------------------------------------------------------------------

@register("dedup_survivorship_merge", f"""
WITH docs AS (     -- plant metadata-divergent copies of docs 0-4
    SELECT doc_id, source, lang, n_chars, text FROM documents
    UNION ALL
    SELECT doc_id + 600000, 'replant', 'aa', n_chars + 7, text
    FROM documents WHERE doc_id < 5
),
keyed AS (
    SELECT doc_id, source, lang, n_chars,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS text_key
    FROM docs
),
clusters AS (
    SELECT text_key, MIN(doc_id) AS canonical_doc, count(*) AS n_members,
           MAX(n_chars) AS max_chars
    FROM keyed GROUP BY text_key HAVING count(*) > 1
),
lang_counts AS (
    SELECT k.text_key, k.lang, count(*) AS c
    FROM keyed k JOIN clusters c ON c.text_key = k.text_key
    GROUP BY k.text_key, k.lang
),
lang_pick AS (
    SELECT text_key, lang AS merged_lang FROM (
        SELECT text_key, lang,
               row_number() OVER (PARTITION BY text_key
                   ORDER BY c DESC, lang ASC) AS rn
        FROM lang_counts
    ) WHERE rn = 1
)
SELECT c.text_key, CAST(c.canonical_doc AS BIGINT) AS canonical_doc,
       CAST(c.n_members AS BIGINT) AS n_members,
       k.source AS canonical_source,
       l.merged_lang,
       CAST(c.max_chars AS BIGINT) AS merged_n_chars
FROM clusters c
JOIN keyed k ON k.text_key = c.text_key AND k.doc_id = c.canonical_doc
JOIN lang_pick l ON l.text_key = c.text_key
""")
def dedup_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level survivorship merge over exact-duplicate clusters
    (>= 2 members): min-id canonical, mode lang (ties -> lex asc),
    max n_chars. The corpus has no raw byte-dups, so metadata-
    divergent copies of docs 0-4 are planted (the dedup-family
    pattern) — each cluster then exercises every rule: canonical =
    the original, lang a 1-1 tie broken lexicographically, n_chars
    from the planted copy."""
    from travel_data_pipeline_spark.operators import dedup

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text")
    planted = (base.filter(F.col("doc_id") < 5)
               .select((F.col("doc_id") + 600000).alias("doc_id"),
                       F.lit("replant").alias("source"),
                       F.lit("aa").alias("lang"),
                       (F.col("n_chars") + 7).alias("n_chars"),
                       "text"))
    docs = base.unionByName(planted)
    keyed = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.md5(dedup.normalize_text(F.col("text"))).alias("text_key"))
    clusters = (keyed.groupBy("text_key")
                .agg(F.min("doc_id").alias("canonical_doc"),
                     F.count("*").alias("n_members"),
                     F.max("n_chars").alias("max_chars"))
                .filter(F.col("n_members") > 1))
    lang_counts = (keyed.join(clusters.select("text_key"), "text_key")
                   .groupBy("text_key", "lang")
                   .agg(F.count("*").alias("c")))
    w = Window.partitionBy("text_key").orderBy(F.desc("c"), F.asc("lang"))
    lang_pick = (lang_counts.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1)
                 .select("text_key", F.col("lang").alias("merged_lang")))
    canon_src = keyed.select("text_key", "doc_id",
                             F.col("source").alias("canonical_source"))
    return (clusters
            .join(canon_src,
                  (clusters.text_key == canon_src.text_key)
                  & (clusters.canonical_doc == canon_src.doc_id))
            .drop(canon_src.text_key).drop("doc_id")
            .join(lang_pick, "text_key")
            .select("text_key",
                    F.col("canonical_doc").cast("long")
                    .alias("canonical_doc"),
                    F.col("n_members").cast("long").alias("n_members"),
                    "canonical_source", "merged_lang",
                    F.col("max_chars").cast("long")
                    .alias("merged_n_chars")))


# ---------------------------------------------------------------------------
# Skew salting plan — the shuffle-planning audit: for a target
# cluster-side parallelism of 1000 reducer slots over the events
# stream keyed by user, which keys exceed the per-slot row target and
# what salt fan-out does each need? salt = ceil(cnt / target); keys at
# salt 1 aggregate into one summary row so the output stays bounded by
# the skew tail, not the key count. Pure integer planning arithmetic
# off one key-count aggregate.
# ---------------------------------------------------------------------------

_SALT_SLOTS = 1000


@register("skew_key_salting_plan", f"""
WITH counts AS (
    SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
),
t AS (SELECT CAST(ceil(SUM(cnt) / {_SALT_SLOTS}.0) AS BIGINT)
          AS target FROM counts),
salted AS (
    SELECT user_id, cnt,
           CAST(ceil(cnt / CAST(target AS DOUBLE)) AS BIGINT) AS salt
    FROM counts CROSS JOIN t
)
SELECT CAST(user_id AS VARCHAR) AS key, CAST(cnt AS BIGINT) AS n_rows,
       CAST(salt AS BIGINT) AS salt_factor
FROM salted WHERE salt > 1
UNION ALL
SELECT '(unskewed)', CAST(COALESCE(SUM(cnt), 0) AS BIGINT),
       CAST(1 AS BIGINT)
FROM salted WHERE salt <= 1
""")
def skew_key_salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key salt fan-out plan for a {_SALT_SLOTS}-slot shuffle of
    events by user: hot keys (rows > total/{_SALT_SLOTS}) get their
    ceil(cnt/target) factor; the cold tail collapses to one row."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    t = counts.agg(F.ceil(F.sum("cnt") / float(_SALT_SLOTS))
                   .cast("long").alias("target"))
    salted = (counts.crossJoin(F.broadcast(t))
              .select("user_id", "cnt",
                      F.ceil(F.col("cnt")
                             / F.col("target").cast("double"))
                      .cast("long").alias("salt")))
    hot = (salted.filter(F.col("salt") > 1)
           .select(F.col("user_id").cast("string").alias("key"),
                   F.col("cnt").cast("long").alias("n_rows"),
                   F.col("salt").cast("long").alias("salt_factor")))
    cold = (salted.filter(F.col("salt") <= 1)
            .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long")
                 .alias("n_rows"))
            .select(F.lit("(unskewed)").alias("key"), "n_rows",
                    F.lit(1).cast("long").alias("salt_factor")))
    return hot.unionByName(cold)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters — the mergeable FREQUENCY sketch
# sibling of hyperloglog_union_audit: d=4 md5 hash rows x w=256
# counters estimate any key's event count as min over rows of its
# bucket counter (always an OVERestimate — collisions only add). The
# audit scores the top-20 exact heavy hitters against their sketch
# estimates. Scale shape: the sketch is one Expand(x4) + a <=1024-row
# groupBy (map-side combinable, broadcastable); counters from
# different executors/days merge by plain addition — the property a
# 1000-executor frequency monitor needs. Integer-only: no float
# parity surface.
# ---------------------------------------------------------------------------

_CM_D = 4
_CM_W = 256
_CM_TOP = 20


def cm_pairs(k) -> "F.Column":
    """The d (seed, bucket) probes of one string key — shared between
    the batch heavy-hitter query, the probe side, and the streaming
    cell twin (streaming/jobs.count_min_stream), so every consumer
    hashes identically."""
    return F.array(*[
        F.struct(F.lit(s).alias("seed"),
                 (md5_long(F.concat(F.lit(f"cm{s}:"), k)) % _CM_W)
                 .cast("int").alias("bucket"))
        for s in range(_CM_D)])


def user_cm_cells(df: DataFrame) -> DataFrame:
    """d x w count-min cells of a user_id relation: (seed, bucket, c).
    One map-side-combinable aggregation; output bounded by d*w rows.
    Cells are mergeable by per-cell SUM — the property the streaming
    twin folds on."""
    key = F.col("user_id").cast("string")
    return (df.select(F.explode(cm_pairs(key)).alias("p"))
            .groupBy(F.col("p.seed").alias("seed"),
                     F.col("p.bucket").alias("bucket"))
            .agg(F.count("*").alias("c")))



@register("count_min_heavy_hitters", f"""
WITH seeds AS (SELECT unnest(generate_series(0, {_CM_D - 1})) AS seed),
cells AS (
    SELECT s.seed,
           CAST({md5_long_sql("'cm' || CAST(s.seed AS VARCHAR) || ':' "
                              "|| CAST(e.user_id AS VARCHAR)")}
                % {_CM_W} AS INT) AS bucket,
           count(*) AS c
    FROM events e CROSS JOIN seeds s
    GROUP BY 1, 2
),
exact AS (
    SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id
),
top AS (
    SELECT user_id, exact_n,
           row_number() OVER (ORDER BY exact_n DESC, user_id ASC) AS rank
    FROM exact QUALIFY rank <= {_CM_TOP}
),
probes AS (
    SELECT t.user_id, t.exact_n, t.rank, s.seed,
           CAST({md5_long_sql("'cm' || CAST(s.seed AS VARCHAR) || ':' "
                              "|| CAST(t.user_id AS VARCHAR)")}
                % {_CM_W} AS INT) AS bucket
    FROM top t CROSS JOIN seeds s
)
SELECT p.user_id, CAST(p.rank AS INT) AS rank,
       CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(MIN(c.c) AS BIGINT) AS cm_estimate,
       CAST(MIN(c.c) - p.exact_n AS BIGINT) AS overestimate
FROM probes p JOIN cells c ON c.seed = p.seed AND c.bucket = p.bucket
GROUP BY p.user_id, p.rank, p.exact_n
""")
def count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_CM_TOP} exact heavy hitters (events by user) scored
    against a d={_CM_D} x w={_CM_W} count-min sketch. The estimate is
    min over the d rows of the key's bucket counter; overestimate is
    always >= 0 (pytest-pinned)."""
    ev = load_table(spark, sf_dir, "events")

    cells = user_cm_cells(ev)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    w = Window.orderBy(F.desc("exact_n"), F.asc("user_id"))
    top = (exact.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= _CM_TOP))
    probes = (top.select(
        "user_id", "exact_n", "rank",
        F.explode(cm_pairs(F.col("user_id").cast("string"))).alias("p"))
        .select("user_id", "exact_n", "rank",
                F.col("p.seed").alias("seed"),
                F.col("p.bucket").alias("bucket")))
    return (probes.join(F.broadcast(cells), ["seed", "bucket"])
            .groupBy("user_id", "rank", "exact_n")
            .agg(F.min("c").alias("cm"))
            .select("user_id", F.col("rank").cast("int").alias("rank"),
                    F.col("exact_n").cast("long").alias("exact_n"),
                    F.col("cm").cast("long").alias("cm_estimate"),
                    (F.col("cm") - F.col("exact_n")).cast("long")
                    .alias("overestimate")))


# ---------------------------------------------------------------------------
# Join-size estimation audit — the planner readout: for three
# star-schema join edges, the textbook NDV estimate
# |A| * |B| / max(ndv_a, ndv_b) vs the EXACT join cardinality
# sum_k cnt_a(k) * cnt_b(k), with the q-error (max of est/exact,
# exact/est — the standard cardinality-estimation score). Exact side
# is one per-key count join per edge (key-partitioned shuffle);
# everything else is 1-row aggregates. The number that tells a 100 TB
# planner whether uniform-NDV sizing can be trusted per edge.
# ---------------------------------------------------------------------------

def _jse_edge_sql(name: str, tl: str, kl: str, tr: str, kr: str) -> str:
    est = (f"CAST(sl.n AS DOUBLE) * sr.n / "
           f"greatest(sl.ndv, sr.ndv)")
    return f"""
SELECT '{name}' AS edge,
       CAST(sl.n AS BIGINT) AS rows_left,
       CAST(sr.n AS BIGINT) AS rows_right,
       CAST(sl.ndv AS BIGINT) AS ndv_left,
       CAST(sr.ndv AS BIGINT) AS ndv_right,
       {round_sql(est)} AS est_rows,
       CAST(x.exact AS BIGINT) AS exact_rows,
       {round_sql(f"greatest(({est}) / x.exact, x.exact / ({est}))")}
           AS q_error
FROM (SELECT count(*) AS n, count(DISTINCT {kl}) AS ndv FROM {tl}) sl
CROSS JOIN (SELECT count(*) AS n, count(DISTINCT {kr}) AS ndv
            FROM {tr}) sr
CROSS JOIN (
    SELECT SUM(ca.c * cb.c) AS exact FROM
        (SELECT {kl} AS k, count(*) AS c FROM {tl} GROUP BY 1) ca
        JOIN (SELECT {kr} AS k, count(*) AS c FROM {tr} GROUP BY 1) cb
        ON ca.k = cb.k) x
"""


@register("join_size_estimation_audit",
          " UNION ALL ".join([
              _jse_edge_sql("orders_customer", "orders", "o_custkey",
                            "customer", "c_custkey"),
              _jse_edge_sql("lineitem_orders", "lineitem", "l_orderkey",
                            "orders", "o_orderkey"),
              _jse_edge_sql("lineitem_part", "lineitem", "l_partkey",
                            "part", "p_partkey")]))
def join_size_estimation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDV-uniformity join-size estimates vs exact cardinalities and
    q-errors over three star-schema edges."""
    tables = {t: load_table(spark, sf_dir, t)
              for t in ("orders", "customer", "lineitem", "part")}

    def edge(name: str, tl: str, kl: str, tr: str, kr: str) -> DataFrame:
        dfl, dfr = tables[tl], tables[tr]
        sl = dfl.agg(F.count("*").alias("nl"),
                     F.countDistinct(kl).alias("ndvl"))
        sr = dfr.agg(F.count("*").alias("nr"),
                     F.countDistinct(kr).alias("ndvr"))
        ca = dfl.groupBy(F.col(kl).alias("k")).agg(F.count("*").alias("ca"))
        cb = dfr.groupBy(F.col(kr).alias("k")).agg(F.count("*").alias("cb"))
        x = (ca.join(cb, "k")
             .agg(F.sum(F.col("ca") * F.col("cb")).alias("exact")))
        est = (F.col("nl").cast("double") * F.col("nr")
               / F.greatest("ndvl", "ndvr"))
        return (sl.crossJoin(F.broadcast(sr)).crossJoin(F.broadcast(x))
                .select(F.lit(name).alias("edge"),
                        F.col("nl").cast("long").alias("rows_left"),
                        F.col("nr").cast("long").alias("rows_right"),
                        F.col("ndvl").cast("long").alias("ndv_left"),
                        F.col("ndvr").cast("long").alias("ndv_right"),
                        F.round(est, 6).alias("est_rows"),
                        F.col("exact").cast("long").alias("exact_rows"),
                        F.round(F.greatest(
                            est / F.col("exact"),
                            F.col("exact") / est), 6).alias("q_error")))

    return (edge("orders_customer", "orders", "o_custkey",
                 "customer", "c_custkey")
            .unionByName(edge("lineitem_orders", "lineitem", "l_orderkey",
                              "orders", "o_orderkey"))
            .unionByName(edge("lineitem_part", "lineitem", "l_partkey",
                              "part", "p_partkey")))


# ---------------------------------------------------------------------------
# Quality filter funnel — attribution for the curation gate chain:
# each doc is charged to its FIRST failing gate (too_short ->
# low_alpha -> low_stopword -> repetition -> pass), so stage counts
# partition the corpus and the funnel reads as a removal waterfall.
# All four gates are integer comparisons (counts cross-multiplied
# against thresholds — no ratio doubles), one map-side-combinable
# groupBy over <= 5 stages. The first question a curation run answers:
# WHICH filter is eating the data.
# ---------------------------------------------------------------------------

_FNL_TOKS = ("list_filter(string_split(trim(regexp_replace(lower(text), "
             "'\\s+', ' ', 'g')), ' '), t -> t <> '')")
_FNL_STOP = "('the','a','and','of','to','in','is','it','that','for')"


@register("quality_filter_funnel", f"""
WITH feats AS (
    SELECT doc_id,
           len({_FNL_TOKS}) AS toks,
           len(list_distinct({_FNL_TOKS})) AS dtoks,
           len(list_filter({_FNL_TOKS}, t -> t IN {_FNL_STOP}))
               AS stop_hits,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS letters,
           n_chars
    FROM documents
),
staged AS (
    SELECT CASE WHEN toks < 30 THEN '1_too_short'
                WHEN letters * 2 < n_chars THEN '2_low_alpha'
                WHEN stop_hits * 50 < toks THEN '3_low_stopword'
                WHEN dtoks * 2 < toks THEN '4_repetition'
                ELSE '5_pass' END AS stage
    FROM feats
),
t AS (SELECT count(*) AS total FROM staged)
SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
       {round_sql("count(*) / CAST(max(total) AS DOUBLE)")} AS share
FROM staged CROSS JOIN t
GROUP BY stage
""")
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-failing-gate attribution over the 4-gate curation chain;
    stages partition the corpus (pytest-pinned)."""
    from travel_data_pipeline_spark.operators.text import (
        token_array,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks_arr = token_array(F.col("text"))
    feats = docs.select(
        F.size(toks_arr).alias("toks"),
        F.size(F.array_distinct(toks_arr)).alias("dtoks"),
        stopword_hits(F.col("text"), "en").alias("stop_hits"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        .alias("letters"),
        "n_chars")
    stage = (F.when(F.col("toks") < 30, "1_too_short")
             .when(F.col("letters") * 2 < F.col("n_chars"), "2_low_alpha")
             .when(F.col("stop_hits") * 50 < F.col("toks"),
                   "3_low_stopword")
             .when(F.col("dtoks") * 2 < F.col("toks"), "4_repetition")
             .otherwise("5_pass"))
    staged = feats.select(stage.alias("stage"))
    t = staged.agg(F.count("*").alias("total"))
    return (staged.crossJoin(F.broadcast(t))
            .groupBy("stage")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.round(F.count("*") / F.max("total").cast("double"), 6)
                 .alias("share")))


# ---------------------------------------------------------------------------
# Classifier agreement (Cohen's kappa) — how much do two independent
# heuristic quality gates agree beyond chance? Gate A: length
# (>= 30 tokens); gate B: English stopword share (hits*20 >= tokens —
# the 5% line as an integer cross-multiply). kappa = (po - pe) /
# (1 - pe) from one pass of exact integer moments; the double
# expressions are built once and shared. The number that says whether
# a second filter adds signal or just repeats the first.
# ---------------------------------------------------------------------------

_KAP_PO = ("(CAST(n_ab AS DOUBLE) + (n - n_a - n_b + n_ab)) / n")
_KAP_PE = ("(CAST(n_a AS DOUBLE) * n_b + CAST(n - n_a AS DOUBLE)"
           " * (n - n_b)) / (CAST(n AS DOUBLE) * n)")


@register("classifier_agreement_kappa", f"""
WITH gated AS (
    SELECT CASE WHEN len({_FNL_TOKS}) >= 30 THEN 1 ELSE 0 END AS a,
           CASE WHEN len(list_filter({_FNL_TOKS},
                         t -> t IN {_FNL_STOP})) * 20
                     >= len({_FNL_TOKS}) THEN 1 ELSE 0 END AS b
    FROM documents
),
m AS (
    SELECT count(*) AS n, SUM(a) AS n_a, SUM(b) AS n_b,
           SUM(a * b) AS n_ab
    FROM gated
)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(n_a AS BIGINT) AS pos_a,
       CAST(n_b AS BIGINT) AS pos_b, CAST(n_ab AS BIGINT) AS both_pos,
       {round_sql(_KAP_PO)} AS po,
       {round_sql(_KAP_PE)} AS pe,
       CASE WHEN {_KAP_PE} = 1.0 THEN NULL
            ELSE {round_sql(f"(({_KAP_PO}) - ({_KAP_PE}))"
                            f" / (1.0 - ({_KAP_PE}))")} END AS kappa
FROM m
""")
def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the length gate and the stopword-share
    gate, from one exact-integer confusion pass."""
    from travel_data_pipeline_spark.operators.text import (
        token_array,
        stopword_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(token_array(F.col("text")))
    hits = stopword_hits(F.col("text"), "en")
    gated = docs.select(
        F.when(toks >= 30, 1).otherwise(0).alias("a"),
        F.when(hits * 20 >= toks, 1).otherwise(0).alias("b"))
    m = gated.agg(F.count("*").alias("n"), F.sum("a").alias("n_a"),
                  F.sum("b").alias("n_b"),
                  F.sum(F.col("a") * F.col("b")).alias("n_ab"))
    n, n_a = F.col("n"), F.col("n_a")
    n_b, n_ab = F.col("n_b"), F.col("n_ab")
    po = (n_ab.cast("double") + (n - n_a - n_b + n_ab)) / n
    pe = ((n_a.cast("double") * n_b + (n - n_a).cast("double")
           * (n - n_b)) / (n.cast("double") * n))
    return m.select(
        n.cast("long").alias("n_docs"), n_a.cast("long").alias("pos_a"),
        n_b.cast("long").alias("pos_b"),
        n_ab.cast("long").alias("both_pos"),
        F.round(po, 6).alias("po"), F.round(pe, 6).alias("pe"),
        F.when(pe == 1.0, F.lit(None).cast("double"))
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
        .alias("kappa"))


# ---------------------------------------------------------------------------
# Incremental HLL distinct curve — cumulative distinct users per day
# WITHOUT re-scanning history: per-day registers (the daily state a
# streaming job would persist) prefix-merged by a running per-bucket
# max, estimated with the shared fold, audited against the exact
# cumulative curve (first-day per user -> running sum over the bounded
# day grid). The 100 TB pattern: yesterday's 64 registers + today's
# events give today's lifetime-distinct estimate; no growing state,
# no re-scan. Windows: running max partitioned BY BUCKET (64
# partitions x |days| rows), running sum over the |days|-row grid —
# both bounded.
# ---------------------------------------------------------------------------

@register("hll_running_distinct_curve", f"""
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
run_regs AS (   -- prefix merge: register-wise running max per bucket
    SELECT day_idx, bucket,
           MAX(m) OVER (PARTITION BY bucket ORDER BY day_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS m
    FROM grid
),
{_hll_fold_sql("day_idx", "run_regs")},
firsts AS (
    SELECT user_id, MIN(day_idx) AS first_day FROM hashed
    GROUP BY user_id
),
exact AS (
    SELECT d.day_idx,
           SUM(COALESCE(f.c, 0)) OVER (ORDER BY d.day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS exact_cum
    FROM (SELECT DISTINCT day_idx FROM hashed) d
    LEFT JOIN (SELECT first_day, count(*) AS c FROM firsts
               GROUP BY first_day) f
      ON f.first_day = d.day_idx
)
SELECT e.day_idx, CAST(x.exact_cum AS BIGINT) AS exact_cum_users,
       {round_sql("e.raw_est")} AS hll_estimate,
       {round_sql("(e.raw_est - x.exact_cum)"
                  " / CAST(x.exact_cum AS DOUBLE)")} AS rel_err
FROM est e JOIN exact x ON x.day_idx = e.day_idx
""")
def hll_running_distinct_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day lifetime-distinct-user curve from prefix-merged daily
    HLL registers vs the exact first-seen cumulative count."""
    ev = load_table(spark, sf_dir, "events")
    day_idx = F.datediff(
        F.date_trunc("day", "ts"),
        F.lit("2024-01-01").cast("timestamp")).cast("long")
    hashed = ev.select(day_idx.alias("day_idx"), "user_id")
    day_regs = user_hll_registers(hashed, keys=("day_idx",))
    days = hashed.select("day_idx").distinct()
    buckets = ev.sparkSession.range(_HLL_M).select(
        F.col("id").cast("int").alias("bucket"))
    grid = (days.crossJoin(F.broadcast(buckets))
            .join(day_regs, ["day_idx", "bucket"], "left")
            .na.fill({"m": 0}))
    w_run = (Window.partitionBy("bucket").orderBy("day_idx")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run_regs = grid.select("day_idx", "bucket",
                           F.max("m").over(w_run).alias("m"))
    est = _hll_fold_spark(run_regs, "day_idx")
    firsts = hashed.groupBy("user_id").agg(
        F.min("day_idx").alias("first_day"))
    per_day_new = firsts.groupBy("first_day").agg(F.count("*").alias("c"))
    w_cum = (Window.orderBy("day_idx")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    exact = (days.join(per_day_new,
                       days.day_idx == per_day_new.first_day, "left")
             .select("day_idx", F.coalesce("c", F.lit(0)).alias("c"))
             .select("day_idx", F.sum("c").over(w_cum).alias("exact_cum")))
    return (est.join(exact, "day_idx")
            .select("day_idx",
                    F.col("exact_cum").cast("long")
                    .alias("exact_cum_users"),
                    F.round(F.col("raw_est"), 6).alias("hll_estimate"),
                    F.round((F.col("raw_est") - F.col("exact_cum"))
                            / F.col("exact_cum").cast("double"), 6)
                    .alias("rel_err")))


# ---------------------------------------------------------------------------
# Mixture temperature sampling — the LLM data-mixture standard: source
# sampling probability p_i proportional to size^alpha, flattening the
# natural mixture as alpha drops. Alphas are {{1, 0.5, 0.25}} so every
# weight is exact-or-correctly-rounded arithmetic (sqrt is IEEE
# correctly rounded; no pow()). Per (alpha, source): p_i, and the
# effective epochs each source is replayed when the token budget
# equals the corpus size (epochs_i = p_i * total / n_i > 1 means
# upsampling). The per-alpha normalizer folds over the SOURCE-ordered
# weight list (bounded by |sources|).
# ---------------------------------------------------------------------------

@register("mixture_temperature_plan", f"""
WITH src AS (
    SELECT source, count(*) AS n_docs,
           SUM(n_chars) AS sz
    FROM documents GROUP BY source
),
weighted AS (
    SELECT a.alpha, s.source, s.n_docs, s.sz,
           CASE a.alpha WHEN '1.0' THEN CAST(s.sz AS DOUBLE)
                        WHEN '0.5' THEN sqrt(CAST(s.sz AS DOUBLE))
                        ELSE sqrt(sqrt(CAST(s.sz AS DOUBLE))) END AS w
    FROM src s
    CROSS JOIN (SELECT unnest(['1.0', '0.5', '0.25']) AS alpha) a
),
norm AS (
    SELECT alpha,
           {ordered_sum_sql("w", "source")} AS tw,
           SUM(sz) AS total
    FROM weighted GROUP BY alpha
)
SELECT w.alpha, w.source, CAST(w.n_docs AS BIGINT) AS n_docs,
       CAST(w.sz AS BIGINT) AS size_chars,
       {round_sql("w.w / n.tw")} AS p,
       {round_sql("(w.w / n.tw) * n.total / w.sz")} AS epochs
FROM weighted w JOIN norm n ON n.alpha = w.alpha
""")
def mixture_temperature_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture at alpha in {1, .5, .25}:
    sampling shares and effective epochs at a budget equal to the
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count("*").alias("n_docs"),
                                     F.sum("n_chars").alias("sz"))
    alphas = local_relation(
        docs.sparkSession, [("1.0",), ("0.5",), ("0.25",)], "alpha string")
    szd = F.col("sz").cast("double")
    weighted = (src.crossJoin(F.broadcast(alphas))
                .select("alpha", "source", "n_docs", "sz",
                        F.when(F.col("alpha") == "1.0", szd)
                        .when(F.col("alpha") == "0.5", F.sqrt(szd))
                        .otherwise(F.sqrt(F.sqrt(szd))).alias("w")))
    norm = (weighted.groupBy("alpha")
            .agg(ordered_sum("w", "source").alias("tw"),
                 F.sum("sz").alias("total")))
    return (weighted.join(F.broadcast(norm), "alpha")
            .select("alpha", "source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("sz").cast("long").alias("size_chars"),
                    F.round(F.col("w") / F.col("tw"), 6).alias("p"),
                    F.round((F.col("w") / F.col("tw")) * F.col("total")
                            / F.col("sz"), 6).alias("epochs")))


# ---------------------------------------------------------------------------
# Data scaling ladder — nested doubling subsets for learning-curve
# runs: rung r keeps docs with md5 % 16 < 2^r, so each rung CONTAINS
# the previous one (the property that makes per-rung training runs
# comparable) and rung 4 is the full corpus. Per rung: docs, tokens,
# vocabulary, type-token ratio — the empirical Heaps readout on the
# ladder a scaling-law study actually trains on. One token explode,
# one bounded x5 rung expand on the token relation; vocab via
# count(DISTINCT word) per rung.
# ---------------------------------------------------------------------------

_LAD_RUNGS = 5

# the docs -> rungs -> member -> words CTE chain, shared verbatim by
# data_scaling_ladder and scaling_law_loglog_fit (queries_round15) so
# a tokenizer/salt/rung change can never desynchronize the composed
# fit's oracle from the ladder it composes (code-review r10)
LADDER_WORDS_SQL = f"""docs AS (
    SELECT doc_id, {_FNL_TOKS} AS toks,
           {md5_long_sql("'ladder:' || CAST(doc_id AS VARCHAR)")} % 16
               AS h16
    FROM documents
),
rungs AS (SELECT unnest(generate_series(0, {_LAD_RUNGS - 1})) AS rung),
member AS (
    SELECT r.rung, d.doc_id, d.toks
    FROM docs d JOIN rungs r
      ON d.h16 < (CAST(1 AS BIGINT) << r.rung)
),
words AS (
    SELECT rung, doc_id, unnest(toks) AS word FROM member
)"""


@register("data_scaling_ladder", f"""
WITH {LADDER_WORDS_SQL}
SELECT CAST(rung AS INT) AS rung,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT word) AS BIGINT) AS vocab,
       {round_sql("count(DISTINCT word) / CAST(count(*) AS DOUBLE)")}
           AS type_token_ratio
FROM words GROUP BY rung
""")
def data_scaling_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs/tokens/vocab along 5 nested hash-doubling subsets (rung 4
    = full corpus); nesting is pytest-pinned."""
    from travel_data_pipeline_spark.operators.text import token_array

    docs = load_table(spark, sf_dir, "documents")
    h16 = md5_long(F.concat(F.lit("ladder:"),
                            F.col("doc_id").cast("string"))) % 16
    based = docs.select("doc_id", token_array(F.col("text")).alias("toks"),
                        h16.alias("h16"))
    rungs = docs.sparkSession.range(_LAD_RUNGS).select(
        F.col("id").cast("int").alias("rung"))
    member = (based.crossJoin(F.broadcast(rungs))
              .filter(F.col("h16")
                      < F.expr("shiftleft(CAST(1 AS BIGINT), rung)")))
    words = member.select("rung", "doc_id",
                          F.explode("toks").alias("word"))
    return (words.groupBy("rung")
            .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"),
                 F.count("*").cast("long").alias("n_tokens"),
                 F.countDistinct("word").cast("long").alias("vocab"),
                 F.round(F.countDistinct("word")
                         / F.count("*").cast("double"), 6)
                 .alias("type_token_ratio"))
            .select(F.col("rung").cast("int").alias("rung"),
                    "n_docs", "n_tokens", "vocab", "type_token_ratio"))


# ---------------------------------------------------------------------------
# Recency-decay weights — time-weighted corpus accounting with
# EXACT dyadic decay: weight = 2^-age_weeks (halving per week, ages
# capped at 30 weeks so 4^-age stays shiftable), so every per-cell
# product cnt * 2^-age is an exact double and the only float folds run
# over the BOUNDED (type x week) grid, week-ordered. Reports per
# event type the decayed effective count and Kish's effective sample
# size (sum w)^2 / (sum w^2) — the "how much data do we effectively
# have after recency weighting" number.
# ---------------------------------------------------------------------------

@register("recency_decay_weights", f"""
WITH anchor AS (
    SELECT MAX(date_trunc('day', ts)) AS d0 FROM events
),
aged AS (
    SELECT event_type,
           least(CAST(date_diff('day', date_trunc('day', ts), d0)
                      AS BIGINT) // 7, 30) AS wk
    FROM events CROSS JOIN anchor
),
cells AS (
    SELECT event_type, wk, count(*) AS cnt FROM aged
    GROUP BY event_type, wk
),
folded AS (
    SELECT event_type,
           SUM(cnt) AS n_rows,
           {ordered_sum_sql("cnt / CAST(CAST(1 AS BIGINT) << wk AS DOUBLE)",
                            "wk")} AS wsum,
           {ordered_sum_sql(
               "cnt / CAST(CAST(1 AS BIGINT) << (2 * wk) AS DOUBLE)",
               "wk")} AS w2sum
    FROM cells GROUP BY event_type
)
SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
       {round_sql("wsum")} AS weighted_n,
       {round_sql("wsum * wsum / w2sum")} AS effective_n
FROM folded
""")
def recency_decay_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: 2^-weeks decayed count and Kish effective
    sample size, from exact dyadic per-(type, week) cells."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.date_trunc("day", "ts")).alias("d0"))
    aged = (ev.crossJoin(F.broadcast(anchor))
            .select("event_type",
                    F.least(F.floor(
                        F.datediff(F.col("d0"),
                                   F.date_trunc("day", "ts")) / 7)
                        .cast("long"), F.lit(30).cast("long"))
                    .alias("wk")))
    cells = (aged.groupBy("event_type", "wk")
             .agg(F.count("*").alias("cnt")))
    w1 = F.expr("s.cnt / CAST(shiftleft(CAST(1 AS BIGINT), s.wk) "
                "AS DOUBLE)")
    w2 = F.expr("s.cnt / CAST(shiftleft(CAST(1 AS BIGINT), 2 * s.wk) "
                "AS DOUBLE)")
    ww = F.array_sort(F.collect_list("ww"))
    folded = (cells.alias("s")
              .select("s.event_type", F.col("s.cnt").alias("cnt"),
                      F.struct(F.col("s.wk").alias("wk"),
                               w1.alias("w1"), w2.alias("w2"))
                      .alias("ww"))
              .groupBy("event_type")
              .agg(F.sum("cnt").alias("n_rows"),
                   # one sorted list feeds both sums
                   ordered_fold(ww, "w1").alias("wsum"),
                   ordered_fold(ww, "w2").alias("w2sum")))
    return folded.select(
        "event_type", F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("wsum"), 6).alias("weighted_n"),
        F.round(F.col("wsum") * F.col("wsum") / F.col("w2sum"), 6)
        .alias("effective_n"))


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov source drift — the distribution-shape sibling of
# the PSI drift readout: per source, the two-sample KS statistic
# sup |ECDF_source - ECDF_rest| over document length. ECDFs run on the
# (source x distinct-length) grid: lengths are a bounded DOMAIN (like
# the day grid), so the per-source cumulative windows and the one
# value-ordered overall window are bounded relations, not data-scaled.
# MAX of per-value |diff| is order-independent — no fold needed.
# ---------------------------------------------------------------------------

@register("ks_source_drift", f"""
WITH vc AS (
    SELECT source, n_chars, count(*) AS c FROM documents
    GROUP BY source, n_chars
),
grid AS (
    SELECT s.source, v.n_chars, COALESCE(vc.c, 0) AS c
    FROM (SELECT DISTINCT source FROM documents) s
    CROSS JOIN (SELECT DISTINCT n_chars FROM documents) v
    LEFT JOIN vc ON vc.source = s.source AND vc.n_chars = v.n_chars
),
cums AS (
    SELECT source, n_chars,
           SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum_s
    FROM grid
),
tot AS (
    SELECT n_chars,
           SUM(c) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS cum_all
    FROM (SELECT n_chars, SUM(c) AS c FROM grid GROUP BY n_chars)
),
sizes AS (
    SELECT source, count(*) AS n_s FROM documents GROUP BY source
),
n AS (SELECT count(*) AS n_all FROM documents)
SELECT c.source, CAST(z.n_s AS BIGINT) AS n_docs,
       {round_sql("MAX(abs(c.cum_s / CAST(z.n_s AS DOUBLE)"
                  " - (t.cum_all - c.cum_s)"
                  " / CAST(n.n_all - z.n_s AS DOUBLE)))")} AS ks_stat
FROM cums c
JOIN tot t ON t.n_chars = c.n_chars
JOIN sizes z ON z.source = c.source
CROSS JOIN n
GROUP BY c.source, z.n_s
""")
def ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS statistic of doc length vs the rest
    of the corpus, on the bounded (source x length) grid."""
    docs = load_table(spark, sf_dir, "documents")
    vc = docs.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
    grid = (docs.select("source").distinct()
            .crossJoin(docs.select("n_chars").distinct())
            .join(vc, ["source", "n_chars"], "left")
            .na.fill({"c": 0}))
    w_s = (Window.partitionBy("source").orderBy("n_chars")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cums = grid.select("source", "n_chars",
                       F.sum("c").over(w_s).alias("cum_s"))
    w_all = (Window.orderBy("n_chars")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = (grid.groupBy("n_chars").agg(F.sum("c").alias("c"))
           .select("n_chars", F.sum("c").over(w_all).alias("cum_all")))
    sizes = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    n = docs.agg(F.count("*").alias("n_all"))
    diff = F.abs(
        F.col("cum_s") / F.col("n_s").cast("double")
        - (F.col("cum_all") - F.col("cum_s"))
        / (F.col("n_all") - F.col("n_s")).cast("double"))
    return (cums.join(F.broadcast(tot), "n_chars")
            .join(F.broadcast(sizes), "source")
            .crossJoin(F.broadcast(n))
            .groupBy("source", "n_s")
            .agg(F.round(F.max(diff), 6).alias("ks_stat"))
            .select("source", F.col("n_s").cast("long").alias("n_docs"),
                    "ks_stat"))
