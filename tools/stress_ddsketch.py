"""DDSketch scale stress: drive the REGISTERED code path
(queries_round18.ddsketch_from_values — the same function
ddsketch_quantiles calls) at a synthetic ~200M-row lognormal-ish
value stream and certify:

- per-shard state stays CONSTANT (bucket count bounded by the value
  range: ceil(log_gamma(vmax/vmin)) buckets, independent of n);
- every estimated quantile honors the (gamma-1)/(gamma+1) relative
  error bound against the EXACT quantile (computed by cumulative
  counts over the value grid — values are integer-derived so the
  grid is exact);
- wall scales with the input scan.

Synthesis is in-engine and deterministic: v = exp-ish spread via
(h % 1000 + 1)^2 — a heavy-tailed positive integer stream.

Run: python tools/stress_ddsketch.py [n_rows]  (default 200_000_000)
Prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(n_rows: int = 200_000_000) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark import registry  # noqa: F401
    from travel_data_pipeline_spark.queries_round18 import (
        _DDS_GAMMA,
        _DDS_QS,
        _DDS_SHARDS,
        ddsketch_from_values,
    )
    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("stress-ddsketch")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    h = F.pmod(F.xxhash64("id"), F.lit(1000)) + 1
    base = (spark.range(n_rows).repartition(par * 2)
            .select((F.col("id") % _DDS_SHARDS).alias("shard"),
                    (h * h).cast("double").alias("v")))

    t0 = time.perf_counter()
    rows = ddsketch_from_values(spark, base).collect()
    wall = time.perf_counter() - t0

    # exact quantiles via the integer value grid (only 1000 distinct
    # squared-hash values exist)
    grid = (base.groupBy("v").agg(F.count("*").alias("m"))
            .withColumn("cum", F.sum("m").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, 0))))
    n_tot = base.count()
    exact = {}
    gr = sorted((r.v, r.cum) for r in grid.collect())
    for q in _DDS_QS:
        rank = max(int(math.ceil(q * n_tot)), 1)
        exact[q] = next(v for v, c in gr if c >= rank)

    bound = (_DDS_GAMMA - 1) / (_DDS_GAMMA + 1)
    checks = []
    for r in rows:
        rel = abs(r.est - exact[r.q]) / exact[r.q]
        checks.append({"q": r.q, "est": r.est, "exact": exact[r.q],
                       "rel_err": round(rel, 5),
                       "within_bound": rel <= bound + 1e-9})

    # constant-state proof: distinct buckets across all shards
    n_buckets = (base.select(
        F.ceil(F.log("v") / F.log(F.lit(float(_DDS_GAMMA))))
        .alias("b")).distinct().count())

    print(json.dumps({
        "n_rows": n_rows, "shards": _DDS_SHARDS,
        "gamma": _DDS_GAMMA, "rel_err_bound": round(bound, 5),
        "distinct_buckets": n_buckets,
        "max_shard_state_rows": n_buckets,
        "quantiles": checks,
        "all_within_bound": all(c["within_bound"] for c in checks),
        "wall_sec": round(wall, 2),
        "rows_per_sec": int(n_rows / wall),
    }))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 200_000_000)
