"""Rounded-decimal-term sum determinism stress (round 13): the
pattern queries_round18 introduces for float reductions with no
integer spelling (Theil/Atkinson/lognormal ln terms) claims to be
ORDER-FREE — per-row doubles rounded to 12 dp and summed as
DECIMAL(38,12), so the aggregate is exact and associative and the
result cannot depend on partitioning, task order, or executor count.

This harness PROVES that claim at ~200M rows: the same synthetic
positive stream is reduced under three adversarial partitionings
(64 even partitions, 257 skewed partitions, and a single coalesced
partition = the fully-sequential order) and the three DECIMAL sums
must be BIT-IDENTICAL — alongside a plain double-sum control, which
is expected to DIFFER across the same partitionings (demonstrating
the hazard the pattern removes).

Run: python tools/stress_decsum.py [n_rows]   (default 200_000_000)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(n_rows: int = 200_000_000) -> None:
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark import registry  # noqa: F401
    from travel_data_pipeline_spark.queries_round18 import _rd
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("stress-decsum")
    spark.sparkContext.setLogLevel("ERROR")

    # heavy-tailed positive stream, ln term in the lossless |t|<=4e3
    # round-trip range
    h = F.pmod(F.xxhash64("id"), F.lit(1_000_000)) + 1
    base = spark.range(n_rows).select(
        (h.cast("double") / 7.0 + 0.5).alias("v"))
    term = F.log(F.col("v")) * F.col("v") / 1e4  # |t| <= ~2000

    results: dict[str, dict] = {}
    for label, df in (
        ("even64", base.repartition(64)),
        ("skew257", base.repartition(257, (F.col("v") < 10)
                                     .cast("int"))),
        ("sequential", base.coalesce(1)),
    ):
        t0 = time.perf_counter()
        row = df.agg(
            F.sum(_rd(term)).alias("dec_sum"),
            F.sum(term).alias("double_sum")).first()
        results[label] = {
            "dec_sum": str(row["dec_sum"]),
            "double_sum": repr(row["double_sum"]),
            "wall_sec": round(time.perf_counter() - t0, 2),
        }

    dec_vals = {r["dec_sum"] for r in results.values()}
    dbl_vals = {r["double_sum"] for r in results.values()}
    print(json.dumps({
        "n_rows": n_rows,
        "runs": results,
        "decimal_sums_identical": len(dec_vals) == 1,
        "double_sums_identical": len(dbl_vals) == 1,
        "note": "double_sums_identical=false is EXPECTED — it is the "
                "order-dependence the rounded-decimal pattern removes",
    }))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 200_000_000)
