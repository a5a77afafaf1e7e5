"""Deduplication operators — SURVEY.md §2.10 (north-star mandate).

Four families, all expression-level (no Python UDFs), all reproducible
by the DuckDB oracle because the hash primitive is md5
(functions/hashing.py):

- exact dedup: normalize -> hash-groupBy, keep min(doc_id)
- MinHash + LSH: word shingles -> k seeded min-hashes -> bands ->
  bucket join -> candidate pairs (optionally verified by exact Jaccard)
- SimHash: tokens -> 16-bit sign-aggregated fingerprint -> banded
  pair search with Hamming filter
- n-gram Jaccard: exact set similarity over shingles for candidate pairs

Scale design: every stage is a hash shuffle on a high-cardinality key
(shingle, band value) — no per-row Python, no driver collect. At 100 TB
the LSH band join is the only quadratic risk; banding keeps bucket
sizes ~uniform, and a bucket-size cap (``max_bucket``) drops
pathological buckets (boilerplate text) exactly like production dedup
pipelines do.

Self-joined relations here and in the near-dup queries built on them
(trigram_lm_perplexity, substring_dup_spans, image_ahash_neardup,
dedup_scorecard, hits_from_edges) are pinned with an eager
``localCheckpoint``. Its blocks are unreplicated and carry no lineage,
so on a real cluster losing an executor fails the query instead of
recomputing it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from travel_data_pipeline_spark.functions.hashing import md5_long_seeded

# ---------------------------------------------------------------------------
# Normalization + shingling
# ---------------------------------------------------------------------------


def normalize_text(text: Column) -> Column:
    """lower + collapse whitespace — the canonical form all dedup keys on."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined) over normalized text.

    Pure expression: split -> transform over a sequence of offsets ->
    slice+join. Duplicate shingles are harmless for min-hash (min of a
    multiset == min of its set).

    Texts with fewer than n words yield an empty array: Spark's
    sequence(1, 0) is DESCENDING [1, 0] (not empty like DuckDB's
    generate_series), so the short case takes an explicit empty branch
    (CASE WHEN evaluates branches lazily — no invalid slice runs).
    """
    words = F.split(normalize_text(text), " ")
    n_sh = F.size(words) - F.lit(n - 1)
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(n_sh >= 1, shingles).otherwise(
        F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One surviving row per distinct normalized text: keep min(id).

    Deterministic by construction (dropDuplicates keeps an arbitrary
    row; min-id is stable under any partitioning). Single hash shuffle
    on the md5 of normalized text — at 100 TB, shuffling a 32-byte
    digest instead of the document body is the difference that matters.
    """
    keyed = docs.select(F.col(id_col),
                        F.md5(normalize_text(F.col(text_col))).alias("text_key"))
    survivors = keyed.groupBy("text_key").agg(F.min(id_col).alias(id_col))
    return survivors.select(id_col, "text_key")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingle_sets(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Distinct (id, shingle) relation — THE shareable intermediate of
    the dedup family. Signature and Jaccard stages both consume it;
    composed pipelines should build it once, ``persist`` it, and pass
    it to both (measured ~19% off pipeline_training_data at sf0.1 vs
    re-exploding per stage).

    Pre-partitions on the id so the explode's CPU cost spreads across
    cores and every downstream per-doc groupBy reuses the partitioning
    without a new shuffle.
    """
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism,
                            id_col)
    return docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), shingle_n)))
         .alias("shingle"))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", shingle_n: int = 3,
                       num_hashes: int = 8,
                       shingles: DataFrame | None = None) -> DataFrame:
    """doc_id + h0..h{k-1} columns: min over shingles of k affine
    universal hashes derived from ONE md5 per shingle
    (functions.hashing.affine_params — k x cheaper than k md5s).

    Explode shingles once, derive all k hashes per shingle, aggregate k
    mins in one pass — one shuffle on doc_id regardless of k. Min over
    the distinct set equals min over the multiset, so a precomputed
    ``shingles`` relation (shingle_sets) slots in unchanged.
    """
    from travel_data_pipeline_spark.functions.hashing import (
        affine_hash,
        affine_params,
        minhash_base,
    )

    if shingles is None:
        shingles = shingle_sets(docs, text_col, id_col, shingle_n)
    exploded = shingles.select(F.col(id_col),
                               minhash_base(F.col("shingle")).alias("base"))
    aggs = [F.min(affine_hash(F.col("base"), a, b)).alias(f"h{s}")
            for s, (a, b) in enumerate(affine_params(num_hashes))]
    return exploded.groupBy(id_col).agg(*aggs)


def bucket_pairs(banded: DataFrame, key_cols: list[str], payload: Column,
                 max_bucket: int) -> DataFrame:
    """Bucket-local pair generation WITHOUT a self-join.

    A self-join would recompute the (expensive) upstream signature plan
    twice and shuffle it twice; instead groupBy the bucket once,
    collect the (small, capped) member list, and expand i<j pairs with
    a pure array expression. ``max_bucket`` drops degenerate buckets
    (boilerplate text) — the standard production guard. Oracles must
    replicate the cap (COUNT(*) OVER the bucket key <= max_bucket) or
    they emit pairs the engine correctly drops.

    payload is a struct column; emits (pair.a, pair.b) structs.
    """
    grouped = (banded.groupBy(*key_cols)
               .agg(F.sort_array(F.collect_list(payload)).alias("ids"))
               .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket)))
    n = F.size("ids")
    combos = F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.transform(
            F.sequence(i + 1, n),
            lambda j: F.struct(F.element_at("ids", i).alias("a"),
                               F.element_at("ids", j).alias("b")))))
    return grouped.select(F.explode(combos).alias("pair"))


def band_explode(signatures: DataFrame, id_col: str = "doc_id",
                 num_hashes: int = 8, bands: int = 4) -> DataFrame:
    """(id, band_idx, band_key) relation of an h0..h{k-1} signature —
    rows-per-band = num_hashes // bands; two docs collide if any band
    key matches. Shared by same-corpus pair generation
    (lsh_candidate_pairs) and cross-corpus probing (incremental
    dedup: band the incoming batch, equi-join the corpus bands)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}").cast("string")
                 for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band_idx"),
                                  F.concat_ws("|", *parts).alias("band_key")))
    return signatures.select(
        F.col(id_col),
        F.explode(F.array(*band_cols)).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_key")


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 8, bands: int = 4,
                        max_bucket: int = 1000) -> DataFrame:
    """Band the signature, bucket, emit distinct candidate pairs.

    Pairs are generated bucket-locally (one shuffle on
    (band_idx, band_key), no self-join — see bucket_pairs).
    """
    banded = band_explode(signatures, id_col, num_hashes, bands)
    pairs = bucket_pairs(banded, ["band_idx", "band_key"],
                          F.col(id_col), max_bucket)
    return (pairs.select(F.col("pair.a").alias("doc_a"),
                         F.col("pair.b").alias("doc_b"))
            .distinct())


def overlap_pairs(docs: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3,
                  shingles: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set overlap for given candidate pairs: returns
    (doc_a, doc_b, inter_n, size_a, size_b) — the raw counts both
    Jaccard and containment derive from.

    Scale note: shingle sets are built ONLY for docs that appear in a
    candidate pair (semi-join first) — after LSH, candidates are a tiny
    fraction of the corpus, so this avoids exploding shingles for
    everything a second time. A persisted ``shingles`` relation
    (shingle_sets) skips even that re-explode.
    """
    candidate_ids = (pairs.select(F.col("doc_a").alias(id_col))
                     .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
                     .distinct())
    if shingles is None:
        shingles = shingle_sets(docs.join(candidate_ids, id_col, "left_semi"),
                                text_col, id_col, shingle_n)
        sh = shingles
    else:
        sh = shingles.join(candidate_ids, id_col, "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))

    a_sh = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b_sh = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    # intersection size: pair -> a's shingles -> equi-join b's on (doc_b, shingle)
    inter = (pairs.join(a_sh, "doc_a")
             .join(b_sh, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter_n")))

    return (pairs
            .join(inter, ["doc_a", "doc_b"], "left")
            .na.fill({"inter_n": 0})
            .join(sizes.withColumnRenamed(id_col, "doc_a")
                       .withColumnRenamed("set_size", "size_a"), "doc_a")
            .join(sizes.withColumnRenamed(id_col, "doc_b")
                       .withColumnRenamed("set_size", "size_b"), "doc_b")
            .select("doc_a", "doc_b", "inter_n", "size_a", "size_b"))


def jaccard_pairs(docs: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3,
                  threshold: float = 0.0,
                  shingles: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs (see
    overlap_pairs for the scale shape). Returns (doc_a, doc_b,
    jaccard) at or above ``threshold``."""
    out = overlap_pairs(docs, pairs, text_col, id_col, shingle_n, shingles)
    out = out.withColumn(
        "jaccard",
        F.round(F.col("inter_n")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_n")), 6))
    return (out.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash over distinct word tokens (default 32-bit).

    Per token: md5-derived integer; bit b contributes +1 if set else -1;
    fingerprint bit b is 1 iff the sum over tokens is > 0. One explode +
    one groupBy — ``bits`` conditional aggregates, no UDF.
    """
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism,
                            id_col)
    tokens = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalize_text(F.col(text_col)), " ")))
         .alias("token"),
    ).filter(F.col("token") != "")
    hashed = tokens.withColumn("h", md5_long_seeded(F.col("token"), 99))
    bit_sums = hashed.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"bit{b}")
        for b in range(bits)
    ])
    fp = bit_sums.select(
        F.col(id_col),
        sum((F.when(F.col(f"bit{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
             for b in range(bits)), F.lit(0)).cast("long").alias("simhash"),
    )
    return fp


def simhash_near_pairs(fingerprints: DataFrame, id_col: str = "doc_id",
                       bits: int = 32, bands: int = 4,
                       max_hamming: int = 3,
                       max_bucket: int = 1000) -> DataFrame:
    """Banded near-pair search: split the fingerprint into ``bands``
    chunks; any pair within ``max_hamming`` (< bands) shares at least
    one exact band (pigeonhole). Bucket-local pair generation (no
    self-join), then exact Hamming filter via bit_count(xor).

    Band width = bits/bands controls bucket sizes: 8-bit bands over a
    32-bit fingerprint keep random collisions ~1/256 per band — the
    knob that prevents quadratic bucket blowup at scale.

    The capped band relation feeds both self-join branches, so it is
    re-joined against its own lineage: an eager leaf (r15 A/B)."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = fingerprints.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.shiftright(F.col("simhash"), b * band_bits)
                      .bitwiseAND(F.lit(mask)).alias("band_key"))
            for b in range(bands)
        ])).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_key")

    # Pair generation strategy (r5, measured): checkpoint the tiny
    # capped band relation, then equality self-join on the band key.
    # bucket_pairs' array expansion builds one in-memory combo array
    # per bucket — O(bucket^2) elements in a single row — which on
    # collision-heavy fingerprint bands (templated corpora) dominated
    # the operator (4x slower downstream than the join at sf0.1,
    # 2.03 s vs 0.50 s). The localCheckpoint removes the self-join's
    # classic downside (recomputing the expensive fingerprint plan
    # twice). The Hamming filter runs BEFORE the dedup shuffle:
    # hamming is a pure function of the pair, so the distinct carries
    # only near pairs.
    from pyspark.sql import Window

    wb = Window.partitionBy("band_idx", "band_key")
    # eager localCheckpoint, not persist (r15 A/B, sf0.1): analyzer-side
    # relation dedup rewrites the self-joined subtree's expression IDs,
    # CacheManager's lookup then misses, and persist recomputes the
    # banded lineage inside the action (first computation 9.71 s
    # checkpoint vs 10.36 s persist, 3 jobs vs 7).
    capped = (banded.withColumn("_bsz", F.count("*").over(wb))
              .filter(F.col("_bsz") <= max_bucket).drop("_bsz"))
    capped = capped.localCheckpoint(eager=True)
    a = capped.select(F.col(id_col).alias("doc_a"),
                      F.col("simhash").alias("sa"),
                      "band_idx", "band_key")
    b = capped.select(F.col(id_col).alias("doc_b"),
                      F.col("simhash").alias("sb"),
                      "band_idx", "band_key")
    return (a.join(b, ["band_idx", "band_key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# PPJoin prefix filtering with automatic LSH fallback
# ---------------------------------------------------------------------------

def ppjoin_candidate_bound(prefixes: DataFrame, key: str = "srk") -> int:
    """Exact candidate-pair bound of the prefix equality join:
    sum over prefix buckets of c*(c-1)/2.

    One cheap aggregation over the (id, prefix-token) relation — a
    planning decision in the AQE spirit (runtime stats steer the
    physical strategy), costing one extra pass over the prefixes, not
    the corpus. The bound is EXACT for the uncapped join and an upper
    bound for the capped one, so routing on it is always safe.

    NOTE: ``ppjoin_routed_pairs`` no longer routes on this — building
    ``prefixes`` requires the vocabulary rarity rank, which LSH-routed
    corpora must not pay (VERDICT r05 #3). Routing now uses
    ``ppjoin_dfreq_bound``; this exact form remains for analysis and
    as the tightness reference in the routing test."""
    row = (prefixes.groupBy(key).agg(F.count("*").alias("c"))
           .agg(F.sum((F.col("c") * (F.col("c") - F.lit(1))) / 2)
                .alias("bound")).first())
    return int(row["bound"] or 0)


def ppjoin_dfreq_bound(sdf: DataFrame, max_bucket: int) -> int:
    """Upper bound on the CAPPED prefix-join candidate count computable
    from document frequencies ALONE — no vocabulary rank, no prefix
    relation. Each shingle's prefix bucket holds c entries with
    c <= dfreq (prefix postings are a subset of all postings) and the
    cap drops buckets over max_bucket, so

        sum_shingles C(min(dfreq, max_bucket), 2) >= sum C(c, 2)

    i.e. this dominates ``ppjoin_candidate_bound``'s exact value.
    Routing on the looser bound is safe in the only direction that
    matters: it can only send a corpus TOWARD the banded-LSH scale
    path. One aggregate over the vocabulary relation, executed BEFORE
    any ranking work, so the biggest corpora skip the sort entirely."""
    c = F.least(F.col("dfreq"), F.lit(max_bucket)).cast("double")
    row = sdf.agg(F.sum(c * (c - 1) / 2).alias("bound")).first()
    return int(row["bound"] or 0)


def ppjoin_routed_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.8,
                        max_candidates: int = 5_000_000,
                        max_bucket: int = 1000,
                        num_hashes: int = 8, bands: int = 4,
                        shingles: DataFrame | None = None,
                        ) -> tuple[DataFrame, str]:
    """Set-similarity self-join at ``threshold`` with automatic
    strategy routing (VERDICT r04 #3): prefix-filtered PPJoin (Xiao et
    al. 2008) when the exact candidate bound stays under
    ``max_candidates``, banded MinHash-LSH candidate generation when it
    explodes (duplicate-heavy corpora grow PPJoin candidates with
    sum(dup-group-size^2) — measured 44M candidates on a 100k-doc
    duplicate-heavy corpus, tools/stress_ops.py).

    Both paths verify candidates with EXACT Jaccard >= threshold over
    the same shingle sets, so they differ only in candidate recall:
    PPJoin is exact (modulo the bucket cap), LSH is the probabilistic
    scale path. Returns (pairs_df(doc_a, doc_b, jaccard), strategy).

    Round-6 rework (VERDICT r05 #3 + ADVICE r05):

    * routing uses ``ppjoin_dfreq_bound`` — one aggregate over the
      vocabulary, BEFORE any rarity ranking, so LSH-routed corpora
      (the biggest ones) never pay a vocabulary-wide sort;
    * the rarity rank on the PPJoin path is two-phase
      (windows.two_phase_ordered) — bucket-local row_number +
      broadcast offsets, no SinglePartition sort;
    * when this function builds its own shingle relation it persists
      it across the probe and both routed paths (the probe previously
      forced a from-scratch rebuild of the explode 2-3x per call),
      eagerly checkpoints the (small, verified) pair output, and
      unpersists. A caller-supplied ``shingles`` frame is left under
      the caller's persistence control, unchanged.
    """
    from pyspark.sql import Window

    from travel_data_pipeline_spark.operators.windows import (
        prefix_code, two_phase_ordered)

    owns_ss = shingles is None
    ss = shingles if shingles is not None \
        else shingle_sets(docs, text_col, id_col, shingle_n).persist()
    # the vocabulary feeds the routing probe AND (on the PPJoin path)
    # the two-phase rank's quantile probe + stats + ranked passes —
    # persist it so each is one cached scan, not a repeated groupBy.
    # Only when we own the lifecycle (we eagerly checkpoint pairs and
    # can unpersist safely before returning); a caller-supplied
    # shingle frame means lazy output, where an early unpersist would
    # silently void the cache.
    sdf = ss.groupBy("shingle").agg(F.count("*").alias("dfreq"))
    if owns_ss:
        sdf = sdf.persist()

    if ppjoin_dfreq_bound(sdf, max_bucket) > max_candidates:
        sigs = minhash_signatures(docs, text_col, id_col, shingle_n,
                                  num_hashes, shingles=ss)
        cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands,
                                   max_bucket)
        pairs = jaccard_pairs(docs, cand, text_col, id_col, shingle_n,
                              threshold, shingles=ss)
        strategy = "lsh"
    else:
        srank = two_phase_ordered(
            sdf, [F.col("dfreq").asc(), F.col("shingle").asc()],
            F.col("dfreq") + prefix_code(F.col("shingle"), 2),
            rank_col="srk",
            # sdf is persisted above when we own the lifecycle — the
            # cache already de-duplicates the three passes
            materialize=not owns_ss)
        sets = (ss.join(srank.select("shingle", "srk"), "shingle")
                .groupBy(id_col)
                .agg(F.sort_array(F.collect_list("srk")).alias("toks"),
                     F.count("*").cast("long").alias("sz")))
        plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1) \
            .cast("int")
        prefixes = sets.select(
            id_col, F.explode(F.slice("toks", 1, plen)).alias("srk"))
        wb = Window.partitionBy("srk")
        pcap = (prefixes.withColumn("_bsz", F.count("*").over(wb))
                .filter(F.col("_bsz") <= max_bucket).drop("_bsz"))
        a = pcap.select(F.col(id_col).alias("doc_a"), "srk")
        b = pcap.select(F.col(id_col).alias("doc_b"), "srk")
        cand = (a.join(b, "srk")
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b").distinct())
        sa = sets.select(F.col(id_col).alias("doc_a"),
                         F.col("toks").alias("toks_a"),
                         F.col("sz").alias("sz_a"))
        sb = sets.select(F.col(id_col).alias("doc_b"),
                         F.col("toks").alias("toks_b"),
                         F.col("sz").alias("sz_b"))
        inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
        verified = (cand.join(sa, "doc_a").join(sb, "doc_b")
                    .select("doc_a", "doc_b", inter.alias("inter"),
                            (F.col("sz_a") + F.col("sz_b") - inter)
                            .alias("uni")))
        jac = F.col("inter").cast("double") / F.col("uni").cast("double")
        pairs = (verified.filter(jac >= threshold)
                 .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))
        strategy = "ppjoin"

    if owns_ss:
        pairs = pairs.localCheckpoint(eager=True)
        ss.unpersist()
        sdf.unpersist()
    return pairs, strategy
