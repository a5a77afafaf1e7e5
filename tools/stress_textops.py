"""Text-curation scale stress (VERDICT r12 #6 + textrank stretch):
drive the REGISTERED code paths of the round-12 text-curation family
at a ~5M-doc synthetic corpus through their seams:

- queries_round17.dsir_from_tokens  (the dsir_importance_weights path)
- queries_round17.mtld_from_arrays  (the mtld_lexical_diversity path)
- queries_round17.textrank_from_arrays (the textrank_keywords path)
- queries_round18.trigram_lm_from_arrays (the trigram_lm_perplexity
  path; its c3/c2 corpus joins dominate the other three)

All three are linear by construction — DSIR is one exploded-token
pass onto a 64-bucket grid, MTLD a bounded per-row prefix fold,
TextRank a zip-with-tail pair pass + bounded 50-node iteration. This
harness certifies the constants: wall scales with the token scan,
per-doc state stays bounded, and output shapes hold (top-k exact
sizes, ranks contiguous, bounds sane).

Synthesis is in-engine and deterministic: ~``n_docs`` docs of
``TOKS_PER_DOC`` tokens drawn zipf-ish from a 200-word vocabulary
(quadratic hash spread concentrates mass on a head — the natural-
language shape DSIR/TextRank assume), lang cycles over 5 codes with
'en' as the target, source over 3 feeds.

Run: python tools/stress_textops.py [n_docs]   (default 5_000_000)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TOKS_PER_DOC = 40
VOCAB = 200


def main(n_docs: int = 5_000_000) -> None:
    # local[32] puts all executor threads in ONE JVM; the 200M-token
    # shuffle needs a real heap (8g default dies in GCLocker storms —
    # set SPARK_GRAFT_DRIVER_MEM as for stress_graph; a cluster spreads
    # the same relation)

    from pyspark.sql import functions as F

    from travel_data_pipeline_spark.queries_round17 import (
        dsir_from_tokens,
        mtld_from_arrays,
        textrank_from_arrays,
    )
    from travel_data_pipeline_spark.queries_round18 import (
        trigram_lm_from_arrays,
    )
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("stress-textops")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    def tok(seed):
        h = F.pmod(F.xxhash64(seed), F.lit(1000))
        return F.concat(F.lit("w"), F.pmod(h * h, F.lit(VOCAB)))

    langs = F.array(*[F.lit(c) for c in ("en", "de", "fr", "es", "zh")])
    srcs = F.array(*[F.lit(s) for s in ("web", "wiki", "news")])

    report: dict = {"n_docs": n_docs, "toks_per_doc": TOKS_PER_DOC,
                    "vocab": VOCAB,
                    "n_token_rows": n_docs * TOKS_PER_DOC}

    # --- DSIR: exploded (doc_id, source, lang, token) rows ---------------
    toks = (spark.range(n_docs * TOKS_PER_DOC).repartition(par * 2)
            .select((F.col("id") / TOKS_PER_DOC).cast("long")
                    .alias("doc_id"),
                    F.col("id").alias("tid"))
            .select("doc_id",
                    F.element_at(srcs, (F.col("doc_id") % 3 + 1)
                                 .cast("int")).alias("source"),
                    F.element_at(langs, (F.col("doc_id") % 5 + 1)
                                 .cast("int")).alias("lang"),
                    tok(F.col("tid")).alias("token")))
    t0 = time.perf_counter()
    rows = dsir_from_tokens(spark, toks).collect()
    wall = time.perf_counter() - t0
    report["dsir"] = {
        "out_rows": len(rows),
        "ranks_contiguous": [r.rnk for r in rows]
        == list(range(1, len(rows) + 1)),
        "logw_descending": all(rows[i].logw >= rows[i + 1].logw
                               for i in range(len(rows) - 1)),
        "wall_sec": round(wall, 2),
        "token_rows_per_sec": int(n_docs * TOKS_PER_DOC / wall),
    }

    # --- MTLD + TextRank: per-doc token arrays ----------------------------
    arrs = (spark.range(n_docs).repartition(par * 2)
            .select(F.col("id").alias("doc_id"),
                    F.transform(
                        F.sequence(F.lit(0), F.lit(TOKS_PER_DOC - 1)),
                        lambda i: tok(F.col("id") * TOKS_PER_DOC + i))
                    .alias("toks")))
    t0 = time.perf_counter()
    agg = (mtld_from_arrays(spark, arrs)
           .agg(F.count("*").alias("n"),
                F.count("mtld").alias("n_scored"),
                F.min("n_used").alias("min_used"),
                F.max("n_used").alias("max_used"),
                F.min("mtld").alias("min_mtld"),
                F.max("mtld").alias("max_mtld")).first())
    wall = time.perf_counter() - t0
    report["mtld"] = {
        "docs_scored": agg["n_scored"], "docs_in": agg["n"],
        "all_docs_scored": agg["n_scored"] == n_docs,
        "n_used_bounds": [agg["min_used"], agg["max_used"]],
        "mtld_range": [round(agg["min_mtld"], 3),
                       round(agg["max_mtld"], 3)],
        "wall_sec": round(wall, 2),
        "docs_per_sec": int(n_docs / wall),
    }

    t0 = time.perf_counter()
    tlm = trigram_lm_from_arrays(
        spark, arrs.select("doc_id",
                           F.col("toks").alias("t"))).collect()
    wall = time.perf_counter() - t0
    report["trigram_lm"] = {
        "out_rows": len(tlm),
        "ranks_contiguous": [r.rnk for r in tlm]
        == list(range(1, len(tlm) + 1)),
        "perplexity_descending": all(
            tlm[i].perplexity >= tlm[i + 1].perplexity
            for i in range(len(tlm) - 1)),
        "n_trigrams": n_docs * (TOKS_PER_DOC - 2),
        "wall_sec": round(wall, 2),
        "trigrams_per_sec": int(n_docs * (TOKS_PER_DOC - 2) / wall),
    }

    t0 = time.perf_counter()
    tr = textrank_from_arrays(
        spark, arrs.select(F.col("toks").alias("t"))).collect()
    wall = time.perf_counter() - t0
    report["textrank"] = {
        "out_rows": len(tr),
        "ranks_contiguous": [r.rnk for r in tr]
        == list(range(1, len(tr) + 1)),
        "scores_descending": all(tr[i].score >= tr[i + 1].score
                                 for i in range(len(tr) - 1)),
        "n_pairs_generated": n_docs * (2 * TOKS_PER_DOC - 3),
        "wall_sec": round(wall, 2),
        "pairs_per_sec": int(n_docs * (2 * TOKS_PER_DOC - 3) / wall),
    }

    print(json.dumps(report))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000)
