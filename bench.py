"""Benchmark harness — JSON lines on stdout, the compact summary last.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query executes
fully via the noop sink (no collect cost, no result pruning — every
computed column materializes). $SPARK_GRAFT_CPUS defaults to the CPUs
the process may run on.

    python bench.py                  # the HEADLINE suite, sidecar record
    python bench.py q1 q2 ...        # just these queries, no sidecar

Output: {"metric": "...", "value": <total sec>, "unit": "sec",
         "queries": {"<name>": sec, ...}, "sf": <sf>, "cpus": <cpus>,
         "layers": {"<name>": {"build_jobs": n, "exec_jobs": n,
                               "stages": n, "tasks": n, ...,
                               "plan": {"exchanges": n, ...}}}, ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# Headline set: one per operator family — join-heavy, agg-heavy, window,
# pivot, sessionize, plus the north-star dedup/similarity/text path.
HEADLINE = [
    "flight_value_w2_j4",
    "a3_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "j2_dim_fanout",
    "a5_pivot_wide",
    "w2_top3_orders_per_customer",
    "sessionize_events",
    "asof_last_order",
    "dedup_minhash_lsh",
    "simhash_near_pairs",
    "embedding_cosine_topk",
    "text_quality_scores",
    "pipeline_training_data",
    # round-3 flagships: iterative ML, corpus stats, sequential state,
    # and the chunk->pack curation assembly line
    "kmeans_embeddings",
    "tfidf_top_terms",
    "ewma_values_per_user",
    "rfm_customer_segments",
    "pipeline_chunked_shards",
    # round-4: the two most scale-sensitive dedup components get a
    # timed record — iterative clustering and batch-vs-corpus LSH
    "dedup_cluster_components",
    "dedup_incremental_lsh",
    # round-4: flagships of the operational + governance layers
    "record_linkage_blocked",
    "inverted_index_postings",
    # round-4 late: the composed observability report (4 checks, one plan)
    "pipeline_data_health",
    # round-5: the bidirectional nearest as-of (two ordered window
    # scans, no range join) and interval-union coverage (islands over
    # a running max) — the new window-state-heavy shapes
    "nearest_error_event",
    "interval_union_coverage",
    # round-6: the two-phase global-order shape (quantile probe +
    # bucket-local cumsum) and the new platform flagships
    "abc_pareto_classes",
    "attribution_multi_touch",
    "contamination_bloom_prefilter",
    # round-6 late: two-phase global quartiles over the corpus-scaled
    # documents relation (the doc-side sibling of abc_pareto's shape)
    "source_quality_quartiles",
    # round-7: the ANN trust audit (brute-force pass + both pruned
    # paths), the two mergeable-sketch audits, and the token-explode
    # scaling ladder — the new heavy shapes worth a timed record
    "ivf_recall_at_k",
    "hll_running_distinct_curve",
    "count_min_heavy_hitters",
    "data_scaling_ladder",
    # round-9 flagships (added round 7)
    "substring_dup_spans",
    "cdc_chunk_dedup",
    "median_of_means_value",
    # round-10 flagships (added round 7): the Arrow-batched multimodal
    # fingerprint path, the two-phase exact order statistic under a
    # train/calib/test split, and the clustering-audit CC shape
    "image_ahash_neardup",
    "conformal_interval_coverage",
    "neardup_chain_inflation",
    # round-11 flagships (added round 8): the KMV sketch-intersection
    # audit (distinct + per-type rank windows + pair algebra), the
    # gapped-subsequence session miner (per-row nested-transform
    # expansion), and the seasonal exact-decimal recurrence
    "kmv_overlap_audit",
    "gap_sequence_patterns",
    "holt_winters_daily",
    # round-10 additions: the checkpointed HITS power iteration (the
    # new iterative-graph shape), the per-user Viterbi fold (sequence
    # decoding over the event stream), and the batch arm of the
    # stream-stream retargeting twin (range-residual equi-join)
    "hits_supplier_part",
    "hmm_viterbi_sessions",
    "unconverted_clicks",
    # round-11 flagships: the k-sample two-phase rank shape (4-arm
    # Kruskal-Wallis), the capped two-hop link-prediction expansion
    # (common-neighbor groupBy + winner-only ln folds), and the
    # per-brand exact-decimal Croston recurrence over the 3-table
    # star join
    "kruskal_wallis_arms",
    "adamic_adar_links",
    "croston_intermittent_demand",
    # round-12 flagships: the DSIR corpus pass (token explode +
    # bounded bucket folds), the mergeable SpaceSaving summaries over
    # lineitem, and the TextRank damped iteration
    "dsir_importance_weights",
    "spacesaving_topk",
    "textrank_keywords",
    # round-13 flagships: the rounded-decimal-term order-free float
    # reduction over the two-phase-ranked customer relation, the
    # DDSketch mergeable-quantile shape, the linear two-lead trigram
    # corpus pass, and the capped triangle-closure equi-join
    "theil_t_nation_decomposition",
    "ddsketch_quantiles",
    "trigram_lm_perplexity",
    "local_clustering_topnodes",
    # round-14 flagship: the bitmap exact-distinct two-level
    # aggregation (bucketed construct + shard OR-merge + exact
    # countDistinct in one plan) — 200M-row certified via
    # tools/stress_bitmap.py
    "bitmap_exact_distinct",
    # optimization r15 (VERDICT r14 #2, additions-only): the most
    # expensive registered query (~4.9 s build + 3.3 s exec at r14,
    # five composed dedup audits sharing one pinned LSH candidate
    # relation) finally gets a timed record the driver sees.
    "dedup_scorecard",
]


def _isolate(spark) -> None:
    """Drop every cache and pin a rep left behind (perfbench's
    ``worker._isolate``), so the next rep or query builds cold instead
    of reading a persisting query's cached relation."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _layers(probe, name: str, df) -> dict:
    """Spark's own counters for the query's first build and exec (their
    job groups), read after the timed reps so the status store has
    caught up, plus the executed plan's node counts."""
    build = probe.group_jobs(f"build:{name}:0")
    execs = probe.group_jobs(f"exec:{name}:0")
    rec: dict = {"build_jobs": len(build), "exec_jobs": len(execs)}
    rec.update((k, round(v, 3))
               for k, v in probe.stage_totals(build + execs).items())
    rec["plan"] = probe.plan_counts(df)
    return rec


def main(subset: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    cpus_env = os.environ["SPARK_GRAFT_CPUS"]
    cpus: int | str = int(cpus_env) if cpus_env.isdigit() else cpus_env
    # external-load fingerprint, sampled BEFORE the engine spins up
    # (the suite itself pushes the 1-min average to ~10-30 on 32
    # cores, so an end-of-run sample would only measure ourselves)
    try:
        load_1min = round(os.getloadavg()[0], 2)
    except OSError:
        load_1min = None

    from perfbench.probes import SparkProbe
    from travel_data_pipeline_spark import registry
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("tdp-bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    probe = SparkProbe(spark)

    # JVM/codegen warmup outside the measured window
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Calibration probe (VERDICT r12 #4): a fixed CPU-bound Spark job
    # whose work is constant across rounds — its wall time is a
    # MEASURED co-tenancy signal that catches the invisible co-tenant
    # load_1min repeatedly missed (r08/r10/r12: uniform 14-70%
    # inflation at load < 0.2 with zero plan changes). min-of-3 so a
    # single scheduler hiccup can't fake contention. Recorded in every
    # sidecar; the divert rule below compares against the standing
    # record's probe time.
    def _calibration_probe() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 600_000_000, 1, 32).selectExpr(
                "sum(id * id % 97)").collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    calib_sec = _calibration_probe()

    names = subset or HEADLINE
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    layers: dict[str, dict] = {}
    # a name the registry lacks is a DNF, never a silently shorter suite
    errors: dict[str, str] = {n: "not registered" for n in names
                              if n not in registry.QUERIES}
    for name in names:
        if name in errors:
            print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)
            continue
        best = float("inf")
        try:
            # best-of-3 (raised from 2, VERDICT r04): damps
            # scan-cache/JIT variance AND the co-tenant noise that made
            # the committed r04 artifact disagree with the day's bests
            for rep in range(3):
                # the timed window stays execute-only for artifact
                # comparability with BENCH_r01-r05; build time is
                # recorded SEPARATELY because some builders now run
                # planning actions (two_phase_ordered's quantile
                # probe, PPJoin's routing bound) or eager checkpoints
                # that would otherwise escape measurement
                sc.setJobGroup(f"build:{name}:{rep}", name)
                tb = time.perf_counter()
                df = registry.QUERIES[name](spark, sf_dir)
                build = time.perf_counter() - tb
                sc.setJobGroup(f"exec:{name}:{rep}", name)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                builds[name] = round(min(builds.get(name, build), build), 3)
                if rep == 2:
                    layers[name] = _layers(probe, name, df)
                _isolate(spark)  # outside both timed windows
            timings[name] = round(best, 3)
        except Exception as exc:  # one broken query must not DNF the suite
            _isolate(spark)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # a failed query must read as a DNF, not a faster suite: with any
    # error the headline value is null so metric-only consumers can't
    # mistake a partial sum for a better time
    payload = {
        "metric": "headline-suite-wall-sec",
        "value": None if errors else round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "build_sec": builds,
        # True suite cost companion (VERDICT r13 #4): the headline
        # `value` stays execute-only for r01-series comparability, but
        # the eager-built queries (cluster-components / HITS /
        # textrank / adamic-adar) do ~all their work at construction —
        # build_total_sec surfaces that so a construction-side
        # regression can't hide behind a flat exec headline.
        # r13 baseline at sf0.1 loaded: ~30.4 s build total.
        "build_total_sec": round(sum(builds.values()), 3),
        "sf": sf_val,
        "load_1min": load_1min,
        "calib_sec": calib_sec,
        "cpus": cpus,
        "layers": layers,
    }
    if errors:
        payload["errors"] = errors
        payload["dnf"] = True
        payload["partial_sum_sec"] = round(sum(timings.values()), 3)
    line = json.dumps(payload)
    # sidecar (VERDICT r07 #7): the driver's BENCH_r{N}.json records
    # captured stdout, which has been observed tail-truncated — drop
    # the same line in a file so the headline value always survives.
    # DNF/partial runs go to a SEPARATE file (ADVICE r08) so a failed
    # run never clobbers the last good headline value, and clean runs
    # are keyed by SF (ADVICE r09) so an sf0.001 smoke run never
    # clobbers the sf0.1 headline; the unsuffixed BENCH_LAST.json is
    # written ONLY for the canonical sf0.1 run to keep the historical
    # round-over-round path stable.
    # Load guard (VERDICT r10 #2, third round of comparability rot):
    # a run that started on a busy box (load_1min > 2 — the threshold
    # above which r08/r10 measured 1.25-1.7x uniform inflation with
    # zero plan changes) must not clobber a calmer run's sidecar.
    # The loaded run still prints normally and is preserved in
    # BENCH_LAST_LOADED.json so the driver artifact and the idle
    # record can both be inspected.
    if errors:
        sidecars = ["BENCH_LAST_DNF.json"]
    else:
        sidecars = [f"BENCH_LAST_sf{sf}.json"]
        if sf == "0.1":
            sidecars.append("BENCH_LAST.json")

    def _recorded(path: str) -> dict:
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    # The divert decision is made ONCE across all target sidecars and
    # applied uniformly (review r12 + ADVICE r12: a per-sidecar
    # decision could leave BENCH_LAST.json and BENCH_LAST_sf0.1.json
    # holding DIFFERENT runs, and the loop wrote the LOADED file
    # twice). prev_load takes the MAX of the records so a run calmer
    # than the worst standing record can refresh both.
    prev_recs = [_recorded(os.path.join(REPO_ROOT, s)) for s in sidecars]
    prev_loads = [r.get("load_1min") for r in prev_recs
                  if r.get("load_1min") is not None]
    prev_load = max(prev_loads) if prev_loads else None
    # The divert baseline is the MONOTONE calibration floor — the
    # fastest probe any record at this SF has ever seen (carried as
    # calib_floor in the record, min'd forward on every write). Using
    # only the CURRENT record's calib ratchets: on a slowly-warming
    # box each overwrite raises the baseline, so successive
    # 12%-slower runs each pass the 25% gate and the record inflates
    # step by step (observed round 14: 0.241 -> 0.269 -> 0.294 across
    # one evening). The floor makes the gate absolute: once a 0.241
    # probe exists, any run probing >0.301 diverts, forever.
    prev_calibs = [c for r in prev_recs
                   for c in (r.get("calib_floor"), r.get("calib_sec"))
                   if c is not None]
    prev_calib = min(prev_calibs) if prev_calibs else None
    # A loaded run (load > 2) normally diverts to the LOADED
    # sidecar — EXCEPT when the standing record was itself taken
    # under even heavier load (ADVICE r11: a 2.5-load run must be
    # able to replace a 5.0-load record; before this clause a
    # loaded record could only ever be refreshed by a fully idle
    # run).
    calmer_than_record = (prev_load is not None and prev_load > 2.0
                          and load_1min is not None
                          and load_1min < prev_load)
    load_divert = (load_1min is not None and load_1min > 2.0
                   and not calmer_than_record)
    # Calibration divert (VERDICT r12 #4): the probe is the measured
    # co-tenancy signal — if this run's constant-work probe ran >25%
    # slower than the standing record's, the box is contended no
    # matter what load_1min says, so the record is kept. A probe at
    # or below the record always passes (a faster box may refresh).
    calib_divert = (prev_calib is not None
                    and calib_sec > prev_calib * 1.25)
    divert = not errors and (load_divert or calib_divert)
    if subset:
        # a names run never replaces, nor diverts into, a record
        targets = []
    elif divert:
        # The message names the signal that actually fired (ADVICE
        # r13): a calib-triggered divert prints the probe comparison
        # (prev_load may be None/irrelevant there), a load-triggered
        # one prints the load comparison.
        if load_divert:
            reason = f"load_1min={load_1min} > 2.0"
            record = f"prev load {prev_load}"
        else:
            reason = (f"calib_sec={calib_sec} > 1.25x record "
                      f"{prev_calib}")
            record = f"record calib {prev_calib}, this calib {calib_sec}"
        print(f"bench: {reason} — keeping the calmer record in "
              f"{', '.join(sidecars)} ({record}); this "
              f"run -> BENCH_LAST_LOADED_sf{sf}.json", file=sys.stderr)
        # SF-suffixed so loaded runs at different scales don't
        # clobber each other's preserved record (review r11)
        targets = [os.path.join(REPO_ROOT,
                                f"BENCH_LAST_LOADED_sf{sf}.json")]
    else:
        targets = [os.path.join(REPO_ROOT, s) for s in sidecars]
    # Persist the monotone floor into whatever gets written so the
    # next run's gate sees it (LOADED sidecars carry it too — a later
    # record refresh must not lose the historical floor).
    payload["calib_floor"] = round(
        min([prev_calib, calib_sec]) if prev_calib is not None
        else calib_sec, 3)
    line = json.dumps(payload)
    for path in targets:
        try:
            with open(path, "w") as fh:
                fh.write(line + "\n")
        except OSError as exc:
            print(f"bench: sidecar write failed: {exc}", file=sys.stderr)
    print(line)
    # Compact summary printed LAST (VERDICT r08 #7): the driver's
    # BENCH_r{N}.json keeps only a tail of stdout, which truncates the
    # full line above mid-JSON (parsed: null in r07/r08). This short
    # line always survives the tail whole, so round-over-round
    # comparison gets a parseable headline + the common-13 series
    # metric without depending on the sidecar. Full per-query detail
    # stays in the big line / BENCH_LAST.json.
    common13 = {n: timings[n] for n in HEADLINE[:13] if n in timings}
    summary = {
        "metric": "headline-suite-wall-sec",
        "value": payload["value"],
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in common13.items()},
        "common13_sec": round(sum(common13.values()), 3),
        "build_total_sec": round(sum(builds.values()), 3),
        "n_queries": len(timings),
        "sf": sf_val,
        "load_1min": load_1min,
        "calib_sec": calib_sec,
        "cpus": cpus,
        "summary": True,
    }
    if errors:
        summary["dnf"] = True
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main(list(dict.fromkeys(sys.argv[1:])))
