"""Deterministic x-k replication of a testdata SF directory (r15).

The driver's scaling block (8 vs 32 cores) is uninformative at sf0.1:
17 MB inputs mean per-stage fixed overhead dominates and every ratio
reads ~1 (VERDICT r14). This builder-side tool manufactures a larger
arm by replicating an existing SF directory k times with consistent
key offsets, so the suite's parallelism can actually be measured:

    python tools/gen_scaled_sf.py [src_dir] [dst_dir] [k]
    # default: /root/testdata/sf0.1 -> /tmp/sfscale/sf1.0, k=10
    SPARK_GRAFT_SF_DIR=/tmp/sfscale/sf1.0 SPARK_GRAFT_CPUS=4 \
        python bench.py flight_value_w2_j4 ...   # time a subset there

Replication rules (schema-faithful, fully deterministic — no RNG):
  * customer/orders/lineitem/part/supplier/events/documents/embeddings
    replicate k times; replica i offsets every key column by
    i * (max_key + 1) of its table, so referential joins stay 1:1 and
    fact/dimension ratios match TPC-H-style linear SF growth.
  * nation/region stay single-copy (fixed-size dimensions).
  * documents: replica i > 0 appends a per-replica token (" r<i>") to
    ``text`` (and recomputes n_chars) so dedup/LSH workloads keep
    their near-dup character instead of collapsing into k-way exact
    duplicate buckets (which would inflate banded pair generation
    ~k^2 and measure a different workload).
  * timestamps, prices, labels, vectors are untouched: k-fold density
    over the same time range / value domain.

Big tables are written as max(16, 2 x usable CPUs) files so scan
parallelism is governed by splits, not a single-file scan, on hosts of
any size.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# key column -> the table whose primary key defines its offset base
KEY_BASE = {
    "c_custkey": ("customer", "c_custkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
COPY_ONLY = ["nation", "region"]
MULTI_FILE = {"lineitem", "orders", "events", "documents", "customer"}


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfscale/sf1.0"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import functions as F

    from travel_data_pipeline_spark.session import get_spark

    spark = get_spark("gen-scaled-sf")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)

    # same CPU count bench.py defaults to; 16 stays the floor
    n_files = max(16, 2 * len(os.sched_getaffinity(0)))
    bases: dict[tuple[str, str], int] = {}
    for col, (tbl, pk) in KEY_BASE.items():
        if (tbl, pk) not in bases:
            mx = (spark.read.parquet(f"{src}/{tbl}.parquet")
                  .agg(F.max(pk)).first()[0])
            bases[(tbl, pk)] = int(mx) + 1

    for tbl in COPY_ONLY:
        (spark.read.parquet(f"{src}/{tbl}.parquet")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{dst}/{tbl}.parquet"))
        print(f"{tbl}: copied", flush=True)

    for tbl, keycols in KEYS.items():
        base = spark.read.parquet(f"{src}/{tbl}.parquet")
        reps = []
        for i in range(k):
            rep = base
            for c in keycols:
                off = i * bases[KEY_BASE[c]]
                rep = rep.withColumn(c, (F.col(c) + F.lit(off))
                                     .cast(dict(base.dtypes)[c]))
            if tbl == "documents" and i > 0:
                rep = (rep.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" r{i}")))
                    .withColumn("n_chars",
                                F.length("text").cast("long")))
            reps.append(rep)
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        nf = n_files if tbl in MULTI_FILE else 1
        (out.repartition(nf, *keycols[:1]).write.mode("overwrite")
         .parquet(f"{dst}/{tbl}.parquet"))
        n = spark.read.parquet(f"{dst}/{tbl}.parquet").count()
        print(f"{tbl}: x{k} -> {n} rows", flush=True)


if __name__ == "__main__":
    main()
