"""bench.py's names form, run as its own process: the per-query layer
record, the DNF for an unregistered name, no sidecar write, and no JVM
or Python worker left behind."""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the keys each of bench.py's two lines printed before the names form
FULL_KEYS = {"metric", "value", "unit", "queries", "build_sec",
             "build_total_sec", "sf", "load_1min", "calib_sec",
             "calib_floor"}
SUMMARY_KEYS = {"metric", "value", "unit", "queries", "common13_sec",
                "build_total_sec", "n_queries", "sf", "load_1min",
                "calib_sec", "summary"}
DNF_KEYS = {"errors", "dnf", "partial_sum_sec"}


def _session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes in session ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()  # state ppid pgrp sid
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(entry))
    return out


def _sidecars() -> dict[str, int]:
    return {p: os.stat(p).st_mtime_ns
            for p in glob.glob(os.path.join(REPO_ROOT, "BENCH_LAST*"))}


def test_bench_names_form(sf_smoke):
    before = _sidecars()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_smoke,
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO_ROOT, "bench.py"),
         "a3_pricing_summary", "no_such_query"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        env=env, cwd=REPO_ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # the gateway JVM and its Python workers share bench.py's session
        deadline = time.monotonic() + 60
        left = _session_members(proc.pid)
        while left and time.monotonic() < deadline:
            time.sleep(0.5)
            left = _session_members(proc.pid)
        for pid in left:
            os.kill(pid, signal.SIGKILL)
    assert not left, f"processes left running: {left}"
    assert proc.returncode == 0

    *_, full, summary = [json.loads(ln) for ln in out.splitlines()
                         if ln.startswith("{")]
    assert set(summary) == SUMMARY_KEYS | {"dnf", "cpus"}
    assert set(full) == FULL_KEYS | DNF_KEYS | {"cpus", "layers"}
    assert summary["cpus"] == full["cpus"] == 2
    assert summary["value"] is None and full["value"] is None
    assert full["errors"] == {"no_such_query": "not registered"}
    assert set(full["queries"]) == {"a3_pricing_summary"}

    layer = full["layers"]["a3_pricing_summary"]
    assert isinstance(layer["build_jobs"], int) and layer["exec_jobs"] >= 1
    assert layer["stages"] >= 1 and layer["tasks"] >= layer["stages"]
    assert layer["plan"]["scans"] >= 1
    assert set(layer["plan"]) == {"exchanges", "bnlj", "scans",
                                  "python_nodes"}
    assert _sidecars() == before


def test_bench_isolate_drops_pins(spark, sf_smoke):
    # theil_sen_daily_trend persists its pair relation (two_phase_kth
    # pins its input); without the isolation step
    # bench.py's reps 2-3 read that cached relation
    sys.path.insert(0, REPO_ROOT)
    from bench import _isolate
    from travel_data_pipeline_spark import registry

    registry.QUERIES["theil_sen_daily_trend"](spark, sf_smoke).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    _isolate(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
