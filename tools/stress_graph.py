"""Graph-family scale stress (VERDICT r11 #4): drive the REGISTERED
adamic-adar and k-core code paths (queries_round16.adamic_adar_from_edges
/ kcore_from_edges — the same functions the registered queries call) at
a synthetic ~10M-edge graph and certify:

- adamic-adar: the ``_AA_MAX_NEIGH`` adjacency cap bounds the two-hop
  candidate expansion (reported candidate count must stay well under
  cap^2 x nodes), and the wall is edge-scaled, not quadratic;
- k-core: the peel's per-round wall stays FLAT across rounds (eager
  survivor checkpoints — no lineage re-growth, the HITS failure mode).

Synthesis is in-engine and deterministic (xxhash64 spreads — no
driver-side data): ~500k nodes, ~10M raw rows grouped to distinct
undirected (lo < hi) edges.

Run: python tools/stress_graph.py [n_rows]   (default 10_000_000)
Prints one JSON line.

Fresh-session mode (VERDICT r13 #2): the combined run puts the
adamic-adar arm BEFORE the peel in one JVM, and its residue (GC
pressure + still-cached shuffle blocks) inflated the k=3 first peel
round ~3x in the r13 cert, polluting the flatness metric. Pass
``--kcore-only`` or ``--aa-only`` to certify one arm per process so
flatness measures lineage behavior, not co-resident JVM state.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_NODES = 500_000


def main(n_rows: int = 10_000_000, only: str | None = None) -> None:
    # local[32] puts every executor thread in ONE JVM heap; the default
    # 8g that fits the sf0.1 bench would OOM on the ~400M-row capped
    # candidate relation this certification deliberately produces
    # (measured: stage-26 heap exhaustion at 10M edges), so run it with
    # SPARK_GRAFT_DRIVER_MEM=48g on a host that has the memory. A real
    # cluster spreads the same relation over executors.

    from pyspark.sql import functions as F

    # registry first: queries_round17 imports round16's day-grid
    # helpers, so importing round16 directly at top level would hit a
    # partially-initialized module (circular via @register)
    from travel_data_pipeline_spark import registry  # noqa: F401
    from travel_data_pipeline_spark.queries_round16 import (
        adamic_adar_from_edges,
        kcore_from_edges,
    )
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("stress-graph")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    # power-law-ish degree spread: one endpoint drawn from a squared
    # hash (hub-heavy), the other uniform — stresses both the
    # _AA_MAX_NEIGH cap (hubs) and the peel (long sparse tail)
    raw = (spark.range(n_rows).repartition(par * 2)
           .select((F.pmod(F.xxhash64("id"), F.lit(N_NODES))
                    * F.pmod(F.xxhash64("id"), F.lit(N_NODES))
                    % N_NODES).alias("x"),
                   F.pmod(F.xxhash64("id", F.lit(1)),
                          F.lit(N_NODES)).alias("y")))
    edges = (raw.filter(F.col("x") != F.col("y"))
             .select(F.least("x", "y").alias("part_a"),
                     F.greatest("x", "y").alias("part_b"))
             .distinct()
             .localCheckpoint(eager=True))
    n_edges = edges.count()

    payload: dict = {"n_raw_rows": n_rows, "n_nodes": N_NODES,
                     "n_edges": n_edges,
                     "mode": only or "combined"}

    if only in (None, "aa"):
        # --- quantify what the _AA_MAX_NEIGH cap buys ----------------
        from travel_data_pipeline_spark.queries_round16 import (
            _AA_MAX_NEIGH,
        )

        deg = (edges.select(F.col("part_a").alias("s"))
               .unionAll(edges.select(F.col("part_b").alias("s")))
               .groupBy("s").agg(F.count("*").alias("d")))
        cap = F.least(F.col("d"), F.lit(_AA_MAX_NEIGH)).cast("double")
        dd = F.col("d").cast("double")
        bounds = deg.agg(
            F.sum(cap * (cap - 1) / 2).alias("capped"),
            F.sum(dd * (dd - 1) / 2).alias("uncapped"),
            F.max("d").alias("max_deg")).first()

        # --- adamic-adar through the registered path -----------------
        t0 = time.perf_counter()
        aa = adamic_adar_from_edges(spark, edges)
        aa_rows = aa.collect()
        t_aa = time.perf_counter() - t0
        aa_plan = aa._jdf.queryExecution().executedPlan().toString()
        payload.update({
            "max_degree": bounds["max_deg"],
            "aa_capped_pair_bound": int(bounds["capped"]),
            "aa_uncapped_pair_bound": int(bounds["uncapped"]),
            "aa_out_rows": len(aa_rows),
            "aa_wall_sec": round(t_aa, 2),
            "aa_edges_per_sec": int(n_edges / t_aa),
            "aa_exchanges": aa_plan.count("Exchange"),
        })

    if only in (None, "kcore"):
        # --- k-core through the registered path, instrumented --------
        kc_edges = edges.select(F.col("part_a").alias("u"),
                                F.col("part_b").alias("v"))
        round_secs: list[float] = []
        t0 = time.perf_counter()
        kc = kcore_from_edges(spark, kc_edges, round_seconds=round_secs)
        kc_rows = kc.collect()
        t_kc = time.perf_counter() - t0

        from travel_data_pipeline_spark.queries_round16 import _N_PEEL

        # round_secs concatenates one _N_PEEL-long run PER k —
        # flatness is only meaningful within a k (the k=3 peel starts
        # from the full node set again); round 1 of the first k is
        # codegen warmup
        per_k = [round_secs[i:i + _N_PEEL]
                 for i in range(0, len(round_secs), _N_PEEL)]

        def flat(rs, first_k):
            # only round 1 of the FIRST k is codegen warmup; later ks
            # must certify ALL their rounds (review r12 — silently
            # dropping their first round could hide real lineage
            # growth)
            if first_k and len(rs) > 2:
                rs = rs[1:]
            return round(max(rs) / min(rs), 2) if rs else None

        payload.update({
            "kcore_out_rows": len(kc_rows),
            "kcore_wall_sec": round(t_kc, 2),
            "kcore_edges_per_sec": int(n_edges / t_kc),
            "kcore_round_secs_per_k": [[round(t, 2) for t in rs]
                                       for rs in per_k],
            "kcore_round_flatness_per_k": [flat(rs, i == 0)
                                           for i, rs in enumerate(per_k)],
            "kcore_results": sorted((r.k, r.n_core_nodes, r.converged)
                                    for r in kc_rows),
        })

    print(json.dumps(payload))


def compare_bloom(n_rows: int = 10_000_000) -> None:
    """VERDICT r12 #5 measurement: current anti-join vs the Bloom
    prefiltered split (adamic_adar_from_edges(anti_join_bloom=True))
    at the 10M-edge graph. Adopt-only-if->1.2x; output must be
    bit-identical either way."""
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark import registry  # noqa: F401
    from travel_data_pipeline_spark.queries_round16 import (
        adamic_adar_from_edges,
    )
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("stress-graph-bloom")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    raw = (spark.range(n_rows).repartition(par * 2)
           .select((F.pmod(F.xxhash64("id"), F.lit(N_NODES))
                    * F.pmod(F.xxhash64("id"), F.lit(N_NODES))
                    % N_NODES).alias("x"),
                   F.pmod(F.xxhash64("id", F.lit(1)),
                          F.lit(N_NODES)).alias("y")))
    edges = (raw.filter(F.col("x") != F.col("y"))
             .select(F.least("x", "y").alias("part_a"),
                     F.greatest("x", "y").alias("part_b"))
             .distinct()
             .localCheckpoint(eager=True))
    n_edges = edges.count()

    results = {}
    rows = {}
    # bloom first, then baseline: if anything leaks between runs it
    # biases AGAINST the candidate, not for it
    for label, flag in (("bloom", True), ("baseline", False)):
        t0 = time.perf_counter()
        aa = adamic_adar_from_edges(spark, edges,
                                    anti_join_bloom=flag)
        rows[label] = sorted(map(tuple, aa.collect()))
        results[label] = round(time.perf_counter() - t0, 2)

    print(json.dumps({
        "n_edges": n_edges,
        "baseline_sec": results["baseline"],
        "bloom_sec": results["bloom"],
        "speedup": round(results["baseline"] / results["bloom"], 3),
        "bit_identical": rows["baseline"] == rows["bloom"],
        "adopt_if_gt": 1.2,
    }))


if __name__ == "__main__":
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 10_000_000
    if "--compare-bloom" in flags:
        compare_bloom(n)
    elif "--kcore-only" in flags:
        main(n, only="kcore")
    elif "--aa-only" in flags:
        main(n, only="aa")
    else:
        main(n)
