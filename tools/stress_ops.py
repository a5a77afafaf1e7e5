"""Operational-layer scale stress: amplify inputs far past the driver
SFs and time the round-4 operators end-to-end — inverted-index build,
blocked record linkage, compaction planning over a large file listing,
and prequential anomaly scoring over many series.

Run: python tools/stress_ops.py [amplification]   (default 20)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(amplify: int = 20) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark.operators.text import token_array
    from travel_data_pipeline_spark.session import get_spark
    from travel_data_pipeline_spark.sources.readers import load_table

    spark = get_spark("stress-ops")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # --- inverted index over an amplified corpus -------------------------
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = spark.range(amplify).withColumnRenamed("id", "copy")
    docs = (base.crossJoin(copies)
            .select((F.col("doc_id") + F.col("copy") * 1_000_000)
                    .alias("doc_id"),
                    F.concat("text", F.lit(" c"), F.col("copy"))
                    .alias("text")))
    n_docs = docs.count()

    t0 = time.perf_counter()
    td = (docs.select("doc_id", F.explode(token_array(F.col("text")))
                      .alias("term")).distinct())
    idx = (td.groupBy("term")
           .agg(F.count("*").alias("dfreq"),
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20)
                 .alias("postings")))
    n_terms = idx.count()
    t_idx = time.perf_counter() - t0

    # --- blocked record linkage over an amplified master -----------------
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    master = (cust.crossJoin(copies)
              .select((F.col("c_custkey") + F.col("copy") * 1_000_000)
                      .alias("c_custkey"),
                      F.concat("c_name", F.lit("#"), F.col("copy"))
                      .alias("c_name"),
                      "c_nationkey")
              .withColumn("blk_sfx", F.expr("right(c_name, 2)")))
    # every 30th master row arrives dirty (one mid-char overwritten)
    dirty = (master.filter(F.col("c_custkey") % 30 == 0)
             .select((F.col("c_custkey") + 500_000_000).alias("dirty_id"),
                     F.concat(F.substring("c_name", 1, 10), F.lit("X"),
                              F.expr("substr(c_name, 12)")).alias("d_name"),
                     F.col("c_nationkey").alias("d_nationkey"),
                     F.col("blk_sfx")))
    n_master, n_dirty = master.count(), dirty.count()

    t0 = time.perf_counter()
    cand = (dirty.join(master,
                       (dirty.d_nationkey == master.c_nationkey)
                       & (dirty.blk_sfx == master.blk_sfx))
            .select("dirty_id",
                    F.levenshtein("d_name", "c_name").alias("lev"),
                    "c_custkey")
            .filter(F.col("lev") <= 2))
    w = Window.partitionBy("dirty_id").orderBy("lev", "c_custkey")
    best = (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    n_matched = best.count()
    t_link = time.perf_counter() - t0

    # --- compaction planning over a synthetic 100k-file listing ----------
    n_files = 100_000
    files = (spark.range(n_files)
             .select((F.col("id") % 1000).alias("partition_id"),
                     F.col("id").alias("file_id"),
                     (F.abs(F.hash("id")) % 10_000 + 100).alias("size_kb")))
    t0 = time.perf_counter()
    wf = (Window.partitionBy("partition_id").orderBy("file_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = files.withColumn(
        "bin_id", F.floor((F.sum("size_kb").over(wf) - F.col("size_kb"))
                          .cast("double") / 131_072))
    n_bins = packed.groupBy("partition_id", "bin_id").count().count()
    t_pack = time.perf_counter() - t0

    # --- PPJoin/LSH routed similarity self-join over the corpus ----------
    # This amplified corpus is duplicate-heavy by construction (copies
    # differ only in a suffix token), the exact shape whose candidate
    # count grows with sum(dup-group-size^2): the r04 inline PPJoin
    # measured 44M candidates in 33.5 s here. The routed operator
    # computes the exact candidate bound from the prefix relation and
    # must fall back to banded LSH, keeping the stage bounded.
    from travel_data_pipeline_spark.operators import dedup as _dedup

    t0 = time.perf_counter()
    pairs, ppjoin_strategy = _dedup.ppjoin_routed_pairs(
        docs, threshold=0.8, max_candidates=5_000_000)
    n_ppjoin_pairs = pairs.count()
    t_ppjoin = time.perf_counter() - t0

    # --- prequential anomaly over 100k series x 64 points ----------------
    n_series, n_points = 100_000, 64
    series = (spark.range(n_series)
              .crossJoin(spark.range(n_points).withColumnRenamed("id", "t"))
              .select(F.col("id").alias("series_id"), "t",
                      (F.abs(F.hash("id", "t")) % 100).alias("cnt")))
    t0 = time.perf_counter()
    wp = (Window.partitionBy("series_id").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, -1))
    scored = (series
              .withColumn("n", F.count("*").over(wp))
              .withColumn("s", F.sum("cnt").over(wp))
              .withColumn("ss", F.sum(F.col("cnt") * F.col("cnt")).over(wp))
              .filter(F.col("n") >= 7)
              .withColumn("z", (F.col("cnt") - F.col("s") / F.col("n"))
                          / F.sqrt((F.col("ss")
                                    - F.col("s") * F.col("s") / F.col("n"))
                                   / (F.col("n") - 1))))
    n_anom = scored.filter(F.abs("z") >= 3.0).count()
    t_anom = time.perf_counter() - t0

    # --- interval-union islands over 10M synthetic events ----------------
    # The round-5 interval/island shape at scale: per-key window state
    # is one running max, so the cost is one key shuffle + ordered
    # scan regardless of how many events a key holds.
    n_iv_events, n_iv_users = 10_000_000, 200_000
    # xxhash64, not hash: the 32-bit murmur range (~2.1e9 us = 36 min)
    # would collapse every user's intervals into one trivial island
    iv = (spark.range(n_iv_events)
          .select((F.col("id") % n_iv_users).alias("user_id"),
                  (F.abs(F.xxhash64("id")) % 2_592_000_000_000)
                  .alias("s"))
          .withColumn("e", F.col("s") + 900_000_000))
    from travel_data_pipeline_spark.operators.windows import (
        merge_intervals,
    )

    t0 = time.perf_counter()
    n_islands = merge_intervals(iv, "user_id", "s", "e").count()
    t_iv = time.perf_counter() - t0

    # --- two-phase global rank over 20M rows -----------------------------
    # The round-6 replacement for partitionless Window.orderBy: rank +
    # running sum over a relation 3 orders of magnitude past the
    # registered queries' inputs, with a tie-heavy key. Validates both
    # throughput and exactness (spot-check ranks at the extremes).
    from travel_data_pipeline_spark.operators.windows import (
        two_phase_kth,
        two_phase_ordered,
    )

    n_rank = 20_000_000
    rdf = (spark.range(n_rank)
           .select(F.col("id"),
                   (F.abs(F.xxhash64("id")) % 1_000).alias("v")))
    t0 = time.perf_counter()
    ranked = two_phase_ordered(
        rdf, [F.col("v").asc(), F.col("id").asc()],
        F.col("v") + F.col("id") / 1e9,
        rank_col="rk", cumsum_cols={"v": "cum"}, num_buckets=256)
    agg = ranked.agg(F.count("*").alias("n"), F.min("rk").alias("lo"),
                     F.max("rk").alias("hi"),
                     F.max("cum").alias("total")).first()
    t_rank = time.perf_counter() - t0
    assert (agg["n"], agg["lo"], agg["hi"]) == (n_rank, 1, n_rank), agg

    # --- Theil-Sen median over a multi-year day-pair relation ------------
    # The day-pair relation is O(days^2) in the TIME SPAN: the
    # registered query sees ~30 days (435 pairs), a multi-year log
    # ~2k days (~2M pairs). The median must ride two_phase_kth, as the
    # registered query does, never a single-partition sort; exactness is
    # checked against a sequential numpy median of the same slopes.
    n_days = 2_000
    day = (spark.range(n_days)
           .select(F.col("id").alias("t"),
                   (F.abs(F.xxhash64("id")) % 10_000 + 100).alias("cnt")))
    a = day.select(F.col("t").alias("i"), F.col("cnt").alias("ca"))
    b = day.select(F.col("t").alias("j"), F.col("cnt").alias("cb"))
    t0 = time.perf_counter()
    sl = (a.join(F.broadcast(b), F.col("j") > F.col("i"))
          .select("i", "j",
                  ((F.col("cb").cast("double") - F.col("ca").cast("double"))
                   / (F.col("j").cast("double") - F.col("i").cast("double")))
                  .alias("sl")))
    med = two_phase_kth(sl, ["sl", "i", "j"], bucket_on=F.col("sl"),
                        k=lambda n: (n + 1) // 2, n_col="np").first()
    n_pairs = n_days * (n_days - 1) // 2
    t_ts = time.perf_counter() - t0
    import numpy as _np

    cnts = _np.array([r.cnt for r in day.orderBy("t").collect()],
                     dtype=_np.float64)
    ii, jj = _np.triu_indices(n_days, k=1)
    ref = _np.sort((cnts[jj] - cnts[ii]) / (jj - ii))[(n_pairs + 1) // 2 - 1]
    assert med is not None and med.np == n_pairs, (med, n_pairs)
    assert abs(med.sl - ref) < 1e-12, (med, ref)

    # --- iterative BPE training over the amplified corpus ----------------
    # 5 argmax+merge rounds over amplify x the sf corpus; the fold is
    # per-row JVM work, the count is one shuffle per round. Token
    # throughput = corpus tokens x 5 rounds / wall.
    from travel_data_pipeline_spark.queries_round7 import _bpe_train

    toks_df = (docs.select(token_array(F.col("text")).alias("t"))
               .filter(F.size("t") >= 2))
    n_bpe_tokens = int(toks_df.select(F.sum(F.size("t"))).first()[0])
    t0 = time.perf_counter()
    merges = _bpe_train(toks_df, n_merges=5)
    t_bpe = time.perf_counter() - t0
    assert len(merges) == 5 and all(m[2] > 0 for m in merges), merges

    # --- mergeable sketches over 20M events ------------------------------
    # The round-7 sketch pair at 3 orders of magnitude past the
    # registered inputs: a d=4 x w=256 count-min over a skewed key
    # stream (50 planted hot keys + ~1M cold tail), and 120 days of
    # HLL registers prefix-merged into the running distinct curve via
    # the SAME shared fold the registered queries use. xxhash64 here
    # (no oracle to match); invariants asserted: CM never
    # underestimates the planted keys, the curve is monotone and its
    # final point lands within HLL error of the true ~1M cardinality.
    from travel_data_pipeline_spark.queries_round8 import (
        _HLL_M,
        _hll_fold_spark,
    )

    n_sk = 20_000_000
    skev = (spark.range(n_sk)
            .select(F.col("id"),
                    F.when(F.col("id") % 100 == 0,
                           (F.col("id") / 100).cast("long") % 50)
                    .otherwise(F.abs(F.xxhash64("id")) % 1_000_000 + 1_000)
                    .alias("user_id"),
                    (F.col("id") % 120).alias("day_idx")))
    t0 = time.perf_counter()
    cm_pairs = F.explode(F.array(*[
        F.struct(F.lit(s).alias("seed"),
                 (F.abs(F.xxhash64(F.lit(s), F.col("user_id"))) % 256)
                 .cast("int").alias("bucket"))
        for s in range(4)])).alias("p")
    cm_cells = (skev.select("user_id", cm_pairs)
                .select("user_id", "p.seed", "p.bucket")
                .groupBy("seed", "bucket").agg(F.count("*").alias("c")))
    hot = (skev.filter(F.col("user_id") < 50)
           .groupBy("user_id").agg(F.count("*").alias("exact_n")))
    probes = (hot.select("user_id", "exact_n", cm_pairs)
              .select("user_id", "exact_n", "p.seed", "p.bucket"))
    cm = (probes.join(F.broadcast(cm_cells), ["seed", "bucket"])
          .groupBy("user_id", "exact_n").agg(F.min("c").alias("est")))
    cm_rows = cm.collect()
    t_cm = time.perf_counter() - t0
    assert len(cm_rows) == 50
    assert all(r.est >= r.exact_n for r in cm_rows), cm_rows[:3]

    t0 = time.perf_counter()
    h60 = F.abs(F.xxhash64("user_id")) % (1 << 60)
    w_high = F.expr(f"h div {_HLL_M}")
    rho = (skev.select("day_idx", h60.alias("h"))
           .select("day_idx",
                   (F.col("h") % _HLL_M).cast("int").alias("bucket"),
                   F.when(w_high == 0, 55)
                   .otherwise(55 - F.length(F.bin(w_high))).alias("r")))
    day_regs = rho.groupBy("day_idx", "bucket").agg(F.max("r").alias("m"))
    grid = (skev.select("day_idx").distinct()
            .crossJoin(F.broadcast(
                spark.range(_HLL_M)
                .select(F.col("id").cast("int").alias("bucket"))))
            .join(day_regs, ["day_idx", "bucket"], "left")
            .na.fill({"m": 0}))
    w_run = (Window.partitionBy("bucket").orderBy("day_idx")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run_regs = grid.select("day_idx", "bucket",
                           F.max("m").over(w_run).alias("m"))
    curve = sorted(_hll_fold_spark(run_regs, "day_idx").collect(),
                   key=lambda r: r.day_idx)
    t_hll = time.perf_counter() - t0
    assert len(curve) == 120
    assert all(b.raw_est >= a.raw_est - 1e-9
               for a, b in zip(curve, curve[1:]))
    n_true = skev.select("user_id").distinct().count()
    hll_final_err = abs(curve[-1].raw_est - n_true) / n_true
    assert hll_final_err < 0.4, (curve[-1].raw_est, n_true)


    # --- exact-substring spans + CDC chunking over the amplified corpus --
    # Copies share every interior 5-gram (only the " c<copy>" tail
    # differs), so the dup-gram relation is the HEAVY case: nearly
    # every position is duplicated and islands must merge long runs.
    from travel_data_pipeline_spark.functions.hashing import md5_long
    from travel_data_pipeline_spark.operators.dedup import word_shingles
    from travel_data_pipeline_spark.queries_round9 import _CDC_DIV

    t0 = time.perf_counter()
    # the crossJoin-amplified relation inherits the base file's ONE
    # partition — spread it before the explode (a real corpus arrives
    # in many files; this is an amplification artifact), and persist:
    # grams feeds three consumers (count, dup detection, position join)
    grams = (docs.repartition(64).select(
        "doc_id", F.posexplode(word_shingles(F.col("text"), 5))
        .alias("p0", "g"))
        .select("doc_id", (F.col("p0") + 1).alias("pos"),
                md5_long(F.col("g")).alias("gh"))
        .persist())
    n_positions = grams.count()
    dup = (grams.groupBy("gh").agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2).select("gh"))
    dpos = grams.join(dup, "gh").select("doc_id", "pos")
    w_isl = Window.partitionBy("doc_id").orderBy("pos")
    spans = (dpos.withColumn("grp",
                             F.col("pos") - F.row_number().over(w_isl))
             .groupBy("doc_id", "grp").agg(F.count("*").alias("len")))
    span_stats = spans.agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("doc_id").alias("n_span_docs"),
        F.max("len").alias("max_len")).first()
    t_span = time.perf_counter() - t0
    grams.unpersist()
    # amplified copies duplicate every interior gram: nearly all docs
    # must carry at least one span
    assert span_stats["n_span_docs"] >= 0.9 * n_docs

    t0 = time.perf_counter()
    toks = (docs.repartition(64).select(
        "doc_id", F.posexplode(token_array(F.col("text")))
        .alias("p0", "tok"))
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "tok"))
    cflag = F.when(md5_long(F.concat(F.lit("cdc:"), F.col("tok")))
                   % _CDC_DIV == 0, 1).otherwise(0)
    w_cdc = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, 0))
    chunks = (toks.withColumn("chunk_id", F.sum(cflag).over(w_cdc) - cflag)
              .groupBy("doc_id", "chunk_id")
              .agg(F.count("*").alias("n_toks"),
                   F.md5(F.array_join(
                       F.transform(F.array_sort(F.collect_list(
                           F.struct(F.col("pos"), F.col("tok")))),
                           lambda s: s.tok), " ")).alias("ck")))
    cdc_stats = (chunks.groupBy("ck").agg(F.count("*").alias("kc"))
                 .agg(F.sum("kc").alias("n_chunks"),
                      F.count("*").alias("n_keys"),
                      F.sum(F.when(F.col("kc") >= 2, F.col("kc"))
                            .otherwise(0)).alias("n_dup")).first())
    t_cdc = time.perf_counter() - t0
    assert cdc_stats["n_dup"] > 0

    # --- multimodal aHash near-dup over planted identical copies ---------
    # 5 byte-identical copies of every base doc (no suffix): the Arrow
    # fingerprint stage hashes all of them; banding + Hamming verify
    # must recover EXACTLY C(5,2) pairs per base doc — cross-group
    # 16-bit band collisions are filtered by the Hamming gate (two
    # random 64-bit fingerprints within 6 bits is ~1e-11).
    from travel_data_pipeline_spark.operators.dedup import bucket_pairs
    from travel_data_pipeline_spark.operators.multimodal import (
        ahash_bands,
        ahash_fingerprints,
        ahash_hamming,
        ahash_side,
        documents_as_media,
    )

    t0 = time.perf_counter()
    k_copies = 5
    acopies = spark.range(k_copies).withColumnRenamed("id", "copy")
    adocs = (base.crossJoin(acopies)
             .select((F.col("doc_id") + F.col("copy") * 1_000_000)
                     .alias("doc_id"), "text"))
    amedia = documents_as_media(adocs).repartition(64, "media_id")
    fps = ahash_fingerprints(amedia).localCheckpoint(eager=True)
    n_media = fps.count()
    banded = ahash_bands(fps)
    cand = (bucket_pairs(banded, ["band_idx", "band_val"],
                         F.struct(F.col("media_id").alias("id")),
                         max_bucket=1000)
            .select(F.col("pair.a.id").alias("a"),
                    F.col("pair.b.id").alias("b")).distinct())
    fa = ahash_side(fps, "a", "xa")
    fb = ahash_side(fps, "b", "xb")
    ham = ahash_hamming("xa", "xb")
    n_ah_pairs = (cand.join(fa, "a").join(fb, "b")
                  .filter(ham <= 6).count())
    t_ah = time.perf_counter() - t0
    n_base_docs = base.count()
    assert n_media == n_base_docs * k_copies
    # the base corpus carries a few NATURAL exact dups (8 docs at
    # sf0.1), which merge copy groups — expect C(n_g * k, 2) summed
    # over distinct-TEXT groups, not a flat per-doc count
    exp_pairs = (base.groupBy(F.md5("text").alias("tk"))
                 .agg(F.count("*").alias("n"))
                 .agg(F.sum(F.expr(
                     f"(n * {k_copies}) * (n * {k_copies} - 1) div 2")))
                 .first()[0])
    assert n_ah_pairs == exp_pairs, (n_ah_pairs, exp_pairs)

    # --- KMV intersection sketch at known truth ---------------------------
    # 8 synthetic audiences of 1.5M users each, consecutive types
    # overlapping by EXACTLY 1.4M (range construction) — the sketch's
    # intersection estimate must land within the 3/sqrt(K) error class
    # of the known truth without ever computing the exact join. Only
    # the distinct relation is data-scaled; the estimator runs on
    # |types| x K rows.
    from travel_data_pipeline_spark.queries_round11 import (
        _KMV_K,
        kmv_pair_estimates,
    )

    t0 = time.perf_counter()
    aud_n, aud_step = 1_500_000, 100_000
    auds = []
    for i in range(8):
        auds.append(spark.range(i * aud_step, i * aud_step + aud_n)
                    .select(F.lit(f"t{i}").alias("event_type"),
                            F.col("id").alias("user_id")))
    dist_kmv = auds[0]
    for a in auds[1:]:
        dist_kmv = dist_kmv.unionByName(a)
    dist_kmv = dist_kmv.repartition(64, "user_id")
    ests = {(r.ta, r.tb): r.est_inter
            for r in kmv_pair_estimates(dist_kmv).collect()}
    t_kmv = time.perf_counter() - t0
    kmv_max_rel_err = 0.0
    tol = 3.0 / (_KMV_K ** 0.5)  # ~0.1875 at K=256
    for i in range(7):
        true_inter = aud_n - aud_step  # consecutive ranges
        got = ests[(f"t{i}", f"t{i+1}")]
        rel = abs(got - true_inter) / true_inter
        kmv_max_rel_err = max(kmv_max_rel_err, rel)
        assert rel < tol, (i, got, true_inter, rel)
    n_kmv_rows = 8 * aud_n

    # --- gapped sequential patterns over long synthetic sessions ----------
    # 200k sessions x 40 events (8M events): the per-row nested-
    # transform expansion must stay linear in session count — no
    # positional self-join. Planted signature: every session contains
    # 'a' at positions 0,3,6,... so pattern a>a>a (gap 2) has support
    # = ALL sessions; asserted exactly.
    t0 = time.perf_counter()
    n_sess, sess_len = 200_000, 40
    ev_syn = (spark.range(n_sess).withColumnRenamed("id", "sid")
              .crossJoin(spark.range(sess_len)
                         .withColumnRenamed("id", "pos"))
              .select("sid", "pos",
                      F.when(F.col("pos") % 3 == 0, F.lit("a"))
                      .otherwise(F.concat(F.lit("x"),
                                          (F.xxhash64("sid", "pos") % 3)
                                          .cast("string")))
                      .alias("event_type"))
              .repartition(64, "sid"))
    seqs_syn = (ev_syn.groupBy("sid")
                .agg(F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("pos", "event_type"))),
                    lambda s: s["event_type"]).alias("a")))
    G1 = 3  # _GSP_GAP + 1
    offs = F.sequence(F.lit(1), F.lit(G1))
    a = F.col("a")
    tri = F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(a)), lambda i:
        F.flatten(F.transform(offs, lambda d1:
                  F.transform(offs, lambda d2:
                              F.when(i + d1 + d2 <= F.size(a),
                                     F.concat(
                                         F.element_at(a, i),
                                         F.lit(">"),
                                         F.element_at(a, i + d1),
                                         F.lit(">"),
                                         F.element_at(a, i + d1 + d2))))))))
    sup = (seqs_syn.select(F.array_distinct(
               F.filter(tri, lambda x: x.isNotNull())).alias("ps"))
           .select(F.explode("ps").alias("pattern"))
           .groupBy("pattern").agg(F.count("*").alias("n")))
    aaa = sup.filter(F.col("pattern") == "a>a>a").first()
    t_gsp = time.perf_counter() - t0
    assert aaa is not None and aaa.n == n_sess, aaa

    print(json.dumps({
        "amplify": amplify,
        "kmv_rows": n_kmv_rows, "kmv_max_rel_err": round(kmv_max_rel_err, 4),
        "kmv_sec": round(t_kmv, 2),
        "kmv_rows_per_sec": round(n_kmv_rows / t_kmv),
        "gsp_events": n_sess * sess_len, "gsp_sec": round(t_gsp, 2),
        "gsp_events_per_sec": round(n_sess * sess_len / t_gsp),
        "ahash_media": n_media, "ahash_pairs": n_ah_pairs,
        "ahash_sec": round(t_ah, 2),
        "ahash_media_per_sec": round(n_media / t_ah),
        "idx_docs": n_docs, "idx_terms": n_terms,
        "idx_sec": round(t_idx, 2),
        "idx_docs_per_sec": round(n_docs / t_idx),
        "link_master": n_master, "link_dirty": n_dirty,
        "link_matched": n_matched, "link_sec": round(t_link, 2),
        "link_dirty_per_sec": round(n_dirty / t_link),
        "pack_files": n_files, "pack_bins": n_bins,
        "pack_sec": round(t_pack, 2),
        "ppjoin_docs": n_docs, "ppjoin_strategy": ppjoin_strategy,
        "ppjoin_verified_pairs": n_ppjoin_pairs,
        "ppjoin_sec": round(t_ppjoin, 2),
        "anom_points": n_series * n_points, "anom_flagged": n_anom,
        "anom_sec": round(t_anom, 2),
        "anom_points_per_sec": round(n_series * n_points / t_anom),
        "island_events": n_iv_events, "island_merged": n_islands,
        "island_sec": round(t_iv, 2),
        "island_events_per_sec": round(n_iv_events / t_iv),
        "rank_rows": n_rank, "rank_sec": round(t_rank, 2),
        "rank_rows_per_sec": round(n_rank / t_rank),
        "theilsen_days": n_days, "theilsen_pairs": n_pairs,
        "theilsen_sec": round(t_ts, 2),
        "bpe_tokens": n_bpe_tokens, "bpe_rounds": 5,
        "bpe_sec": round(t_bpe, 2),
        "bpe_tokens_per_sec": round(n_bpe_tokens * 5 / t_bpe),
        "sketch_events": n_sk,
        "cm_sec": round(t_cm, 2),
        "cm_events_per_sec": round(n_sk / t_cm),
        "hll_days": 120, "hll_true_distinct": n_true,
        "hll_final_rel_err": round(hll_final_err, 4),
        "hll_sec": round(t_hll, 2),
        "hll_events_per_sec": round(n_sk / t_hll),
        "span_positions": n_positions,
        "span_docs": span_stats["n_span_docs"],
        "span_count": span_stats["n_spans"],
        "span_max_len": span_stats["max_len"],
        "span_sec": round(t_span, 2),
        "span_positions_per_sec": round(n_positions / t_span),
        "cdc_chunks": cdc_stats["n_chunks"],
        "cdc_keys": cdc_stats["n_keys"],
        "cdc_dup_chunks": cdc_stats["n_dup"],
        "cdc_sec": round(t_cdc, 2),
        "cdc_chunks_per_sec": round(cdc_stats["n_chunks"] / t_cdc),
    }))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 20)
