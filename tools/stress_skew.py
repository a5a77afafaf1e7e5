"""Skewed-key shuffle-join stress (VERDICT r13 #1): the one SURVEY §4
scale claim with no measurement behind it — zipf-headed key joins are
exactly what the corpus-keyed shuffle joins (trigram c3/c2, shingle-IDF)
meet at 100 TB.

Synthesis is in-engine and deterministic (xxhash64 — no driver-side
data): ``n_rows`` fact rows with Pareto-floor keys
``k = floor(u^(-1/(s-1)))`` at s=1.5 — the discrete tail of a zipf(1.5)
— which puts ~29% of ALL rows on the single head key (harsher than the
~10% the round-13 verdict sketched; strictly a stronger stress). The
measured shape mirrors the registered corpus joins: per-key counts
(groupBy) joined back to the fact relation on the skewed key, reduced
to one deterministic checksum row.

Three arms, candidate-first so any JVM leakage biases AGAINST it
(the compare_bloom discipline):

1. ``salted``  — operators.joins.salted_join (explicit salt-and-
   replicate, B=32), AQE skew-join OFF: the pattern's own effect.
2. ``aqe_off`` — plain shuffle join, AQE skew-join OFF: the naive
   plan; its wall-vs-others IS the straggler effect (the hot key's
   ~29% partition gates the stage in one task).
3. ``aqe_on``  — plain shuffle join, AQE skew-join ON (the engine
   session default): what the engine actually ships.

Broadcast is pinned OFF for the measured join (the counts side at this
harness scale is ~100 MB and would broadcast locally, but at 100 TB a
corpus-count relation does not — the experiment measures the shuffle
path that scale forces).

Cross-arm equality: each arm returns (n_rows_joined, checksum) where
the checksum is an order-free DECIMAL sum (v is 3-dp-quantized, so
``CAST(v AS DECIMAL(10,3)) * c`` is exact — the rounded-decimal-term
pattern) — all three arms must agree bit-for-bit.

Run: python tools/stress_skew.py [n_rows]   (default 200_000_000)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ZIPF_S = 1.5
SALT_BUCKETS = 32
U_DENOM = 1 << 31


def main(n_rows: int = 200_000_000) -> None:
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark import registry  # noqa: F401
    from travel_data_pipeline_spark.operators.joins import salted_join
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("stress-skew")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    # u in (0, 1]; k = floor(u^(-1/(s-1))) = floor(u^-2) at s=1.5
    u = ((F.pmod(F.xxhash64("id"), F.lit(U_DENOM)) + 1)
         / float(U_DENOM))
    fact = (spark.range(n_rows).repartition(par * 2)
            .select(F.floor(F.pow(u, F.lit(-1.0 / (ZIPF_S - 1.0))))
                    .alias("k"),
                    (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000))
                     / 1000.0).alias("v"))
            .localCheckpoint(eager=True))

    counts = (fact.groupBy("k")
              .agg(F.count("*").cast("long").alias("c"))
              .localCheckpoint(eager=True))
    head = counts.orderBy(F.col("c").desc()).limit(3).collect()
    n_distinct = counts.count()

    # exact, associative, order-free: v is k/1000 (3-dp quantized), so
    # DECIMAL(10,3) holds it losslessly and the product/sum are exact
    chk = F.sum(F.col("v").cast("decimal(10,3)") * F.col("c"))

    def measure(df_fact, df_counts, join_fn) -> tuple[float, tuple]:
        # best-of-2 so arm order (page-cache / codegen warmth) can't
        # decide the comparison — the checksum must agree across runs
        best, out = float("inf"), None
        for _ in range(2):
            t0 = time.perf_counter()
            row = (join_fn(df_fact, df_counts)
                   .agg(F.count("*").cast("long").alias("n"),
                        chk.cast("decimal(38,3)").alias("checksum"))
                   .first())
            best = min(best, time.perf_counter() - t0)
            got = (row["n"], str(row["checksum"]))
            assert out is None or out == got, (out, got)
            out = got
        return best, out

    # pin the shuffle path: at 100 TB the counts side won't broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    walls: dict[str, float] = {}
    results: dict[str, tuple] = {}

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    walls["salted"], results["salted"] = measure(
        fact, counts,
        lambda a, b: salted_join(a, b, "k", salt_buckets=SALT_BUCKETS))
    walls["aqe_off"], results["aqe_off"] = measure(
        fact, counts, lambda a, b: a.join(b, "k"))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    walls["aqe_on"], results["aqe_on"] = measure(
        fact, counts, lambda a, b: a.join(b, "k"))

    print(json.dumps({
        "n_rows": n_rows,
        "zipf_s": ZIPF_S,
        "n_distinct_keys": n_distinct,
        "head_keys": [(r["k"], r["c"],
                       round(r["c"] / n_rows, 4)) for r in head],
        "salt_buckets": SALT_BUCKETS,
        "walls_sec": {k: round(v, 2) for k, v in walls.items()},
        "straggler_effect_aqe_off_vs_on": round(
            walls["aqe_off"] / walls["aqe_on"], 3),
        "salted_vs_aqe_off": round(walls["aqe_off"] / walls["salted"], 3),
        "salted_vs_aqe_on": round(walls["aqe_on"] / walls["salted"], 3),
        "bit_identical": len(set(results.values())) == 1,
        "results": {k: list(v) for k, v in results.items()},
    }))


def main_agg(n_rows: int = 200_000_000) -> None:
    """The AGGREGATION half of the SURVEY §4 skew claim: zipf-headed
    groupBy-SUM, plain vs operators.aggregates.salted_sum (two-stage
    (key, salt) partials). Hash aggregation already does map-side
    partial combine, so the expectation is a NEGATIVE (salting buys
    little for an associative agg) — measured, not assumed. Both arms
    reduce to one deterministic checksum row (DECIMAL(18,2) per-key
    sums re-summed as DECIMAL(38,2): order-free exact)."""
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark import registry  # noqa: F401
    from travel_data_pipeline_spark.operators.aggregates import salted_sum
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("stress-skew-agg")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    u = ((F.pmod(F.xxhash64("id"), F.lit(U_DENOM)) + 1)
         / float(U_DENOM))
    fact = (spark.range(n_rows).repartition(par * 2)
            .select(F.floor(F.pow(u, F.lit(-1.0 / (ZIPF_S - 1.0))))
                    .alias("k"),
                    (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(10000))
                     / 100.0).alias("v"))
            .localCheckpoint(eager=True))

    def digest(per_key) -> tuple[float, tuple]:
        # per_key: (k, s DOUBLE from an exact DECIMAL(18,2) fold);
        # re-round to 2 dp and re-sum as DECIMAL so the global
        # checksum is order-free exact
        best, out = float("inf"), None
        for _ in range(2):
            t0 = time.perf_counter()
            row = (per_key()
                   .agg(F.count("*").cast("long").alias("n_keys"),
                        F.sum(F.round(F.col("s"), 2)
                              .cast("decimal(38,2)")).alias("chk"))
                   .first())
            best = min(best, time.perf_counter() - t0)
            got = (row["n_keys"], str(row["chk"]))
            assert out is None or out == got, (out, got)
            out = got
        return best, out

    walls, results = {}, {}
    walls["salted"], results["salted"] = digest(
        lambda: salted_sum(fact, ["k"], "v", "s", salt_buckets=64))
    walls["plain"], results["plain"] = digest(
        lambda: fact.groupBy("k")
        .agg(F.sum(F.col("v").cast("decimal(18,2)"))
             .cast("double").alias("s")))

    print(json.dumps({
        "mode": "agg", "n_rows": n_rows, "zipf_s": ZIPF_S,
        "walls_sec": {k: round(v, 2) for k, v in walls.items()},
        "salted_vs_plain": round(walls["plain"] / walls["salted"], 3),
        "bit_identical": results["salted"] == results["plain"],
        "results": {k: list(v) for k, v in results.items()},
    }))


if __name__ == "__main__":
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 200_000_000
    if "--agg" in flags:
        main_agg(n)
    else:
        main(n)
