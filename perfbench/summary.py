"""The metrics of one run, computed from the records of its sessions.

Pure Python, so the entry script can aggregate without importing Spark.
A session is one fresh process: its set-up, its cold round, then its
warm rounds (see ``workloads.py``). Once-per-session figures (set-up,
the cold round, the layers' set-up costs) are reported as the median
over the run's sessions; per-round figures as the median, or for
per-layer counters the mean, over every warm round of every session.
"""

from __future__ import annotations

import math
import statistics

from workloads import ALL_QUERIES

LAYER_KEYS = [
    "session.gc_s",
    "queries.build_s", "queries.build_jobs", "queries.analysis_ms",
    "queries.optimization_ms", "queries.planning_ms",
    "queries.codegen_compiles", "queries.codegen_ms",
    "queries.plan_exchanges", "queries.plan_bnlj", "queries.plan_scans",
    "queries.plan_python_nodes", "queries.pinned_rdds", "queries.pinned_mb",
    "operators.exec_s", "operators.exec_jobs", "operators.stages",
    "operators.tasks", "operators.task_run_s", "operators.task_cpu_s",
    "operators.shuffle_write_mb", "operators.shuffle_read_mb",
    "operators.spill_mb", "operators.python_cpu_s",
    "sources.scan_mb", "sources.scan_rows",
    "versioned.commits",
    "streaming.batches", "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.get_batch_ms", "streaming.wal_commit_ms",
    "streaming.jobs_per_batch", "streaming.source_reads",
]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _gmean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _unit(key: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_per_s", "rows/s")):
        if key.endswith(suffix):
            return unit
    return "count"


def measured(spec: dict, session: dict) -> list[dict]:
    """The warm rounds of a session, up to the workload's round count
    (rounds run to fill the window are left out, so a faster host
    measures the same work)."""
    return session["rounds"][1:spec["rounds"]]


def metrics(spec: dict, sessions: list[dict], trace: bool) -> dict[str, dict]:
    warm = [r for s in sessions for r in measured(spec, s)]
    walls = [r["wall"] for r in warm]
    if not trace:
        vals = {
            "setup_s": (_median([s["setup_s"] for s in sessions]), "s"),
            "cold_s": (_median([s["rounds"][0]["wall"] for s in sessions]), "s"),
            "warm_s": (_median(walls), "s"),
            "op_gmean_s": (_gmean([t for r in warm for t in r["ops"].values()]),
                           "s"),
            "cpu_s": (_median([r["stats"]["cpu_s"] for r in warm]), "s"),
        }
    else:
        once = {k for s in sessions for k in s["layer"]}
        vals = {k: (_median([s["layer"][k] for s in sessions]), _unit(k))
                for k in once}
        for key in LAYER_KEYS:
            if key not in once:
                per_round = [r["stats"].get(key, 0) for r in warm]
                vals[key] = (sum(per_round) / len(per_round), _unit(key))
        for inp, name in ALL_QUERIES:
            key = f"{inp}.{name}"
            vals[f"q.{key}.s"] = (
                _median([r["ops"][key] for r in warm if key in r["ops"]]), "s")
        vals["trace.warm_s"] = (_median(walls), "s")
        vals["streaming.rows_per_s"] = (
            sum(r["stats"].get("rows", 0) for r in warm) / sum(walls), "rows/s")
    return {k: {"value": float(v), "unit": u}
            for k, (v, u) in sorted(vals.items())}
