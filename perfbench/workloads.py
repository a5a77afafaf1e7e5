"""The benchmark's workloads: what each run builds and times.

Pure data, so the entry script can validate ``--workload`` without
importing Spark.

A run is ``sessions`` fresh processes, one after another. Each sets up
(JVM, session, imports, inputs) and runs ``rounds`` rounds: the first
(cold) one, then warm ones. If the session's share of the window has
time left, it goes on in whole warm rounds, which count as attempted
operations and move no metric.
"""

from __future__ import annotations

WORKLOADS = {
    # One pass runs registered queries over two seeded inputs. On the
    # small input (sf 0.01: 60 k lineitem rows) fixed per-query cost --
    # construction, Catalyst, construction-time jobs, codegen -- outweighs
    # the scans; these are the paper's three pipelines. On the large
    # input (sf 0.05: 300 k lineitem, 50 k events) execution dominates:
    # a scan-and-aggregate and a window-based as-of join whose work grows
    # with the rows. The seed shuffles the query order of every pass.
    "queries": {
        "kind": "queries",
        "inputs": {"small": 0.01, "large": 0.05},
        "queries": [
            ("small", "flight_value_w2_j4"),
            ("small", "exchange_pipeline_scores"),
            ("small", "trends_pipeline_scores"),
            ("large", "a3_pricing_summary"),
            ("large", "asof_last_order"),
        ],
        "sessions": 1,
        "rounds": 5,
    },
    # The only writer: the sf 0.01 events table (10 k rows) cut by event
    # time into arrival files at seeded points, drained one file per
    # micro-batch into an empty versioned hourly rollup partitioned by
    # day. Closed loop: a batch starts after the previous one commits.
    # The cold round drains a backlog of ``cold_files``, every warm round
    # ``files`` newly landed ones. Every session drains the same files
    # into its own fresh table.
    "stream-rollup": {
        "kind": "stream",
        "sf": 0.01,
        "cold_files": 2,
        "files": 1,
        "sessions": 2,
        "rounds": 3,
    },
}

# every (input, query) pair a workload runs, for the per-query metrics
ALL_QUERIES = sorted({q for w in WORKLOADS.values() for q in w.get("queries", [])})
