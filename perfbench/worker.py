"""One session of a benchmark run: set up a fresh Spark session, time
whole rounds of one workload for the requested seconds, check the
outputs, and print the session's record.

Started by ``run.py``, which owns the process tree, runs the workload's
sessions one after another and computes the run's metrics from their
records (``summary.py``). This process stops every streaming query, the
session and its gateway JVM before it exits. Its last line of stdout is
one ``{"session": ...}`` JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ARRIVAL_SCHEMA = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
                  "event_type string, value double, props string")
ROLLUP_SCHEMA = ("day string, hour_bucket string, event_type string, "
                 "n bigint, total_value decimal(18,2)")


class Run:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.work = args.work
        self.spark = None
        self.probe = None
        self.streams = []
        self.table = None  # the stream workload's rollup
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []      # operations that raised
        self.mismatches: list[str] = []  # outputs that failed a check

    # ------------------------------------------------------------ setup --
    def setup(self):
        t = time.perf_counter()
        self.in_dirs = {}
        for key, sf in self.spec.get("inputs", {}).items():
            self.in_dirs[key] = os.path.join(self.work, f"input-{key}")
            gen.write_tables(self.in_dirs[key], sf, self.args.seed)
        if self.spec["kind"] == "stream":
            events = gen.tables(self.spec["sf"], self.args.seed)["events"]
            self.arrivals = os.path.join(self.work, "arrivals")
            self.landing = os.path.join(self.work, "landing")
            os.makedirs(self.landing)
            n_files = (self.spec["cold_files"]
                       + (self.spec["rounds"] - 1) * self.spec["files"])
            self.arrival_rows = gen.cut_arrivals(
                events, self.arrivals, n_files, self.args.seed)
        prep_s = time.perf_counter() - t

        t = time.perf_counter()
        from travel_data_pipeline_spark.session import get_spark
        self.spark = get_spark("perfbench")
        jvm_s = time.perf_counter() - t
        self.probe = probes.SparkProbe(self.spark)
        self.jvm_pid = self.probe.jvm_pid()

        t = time.perf_counter()
        if self.spec["kind"] == "queries":
            from travel_data_pipeline_spark import registry
            self.registry = registry
        else:
            from travel_data_pipeline_spark.sources import versioned
            from travel_data_pipeline_spark.streaming import jobs
            self.versioned, self.jobs = versioned, jobs
        import_s = time.perf_counter() - t
        if self.spec["kind"] == "stream":
            self.table = os.path.join(self.work, "rollup")
            self.checkpoint = os.path.join(self.work, "checkpoint")
            empty = self.spark.createDataFrame([], ROLLUP_SCHEMA)
            versioned.write_table(empty, self.table, partition_col="day")
        self.layer.update({"session.jvm_start_s": jvm_s,
                           "session.import_s": import_s,
                           "session.input_prep_s": prep_s})

    # ----------------------------------------------------------- rounds --
    def measure(self):
        """The session's rounds (the cold one, the warm-up, the measured
        warm ones), and more whole rounds while the window lasts. Metrics
        read only the workload's own rounds, so a faster host reports the
        same thing."""
        rounds = []
        start = time.perf_counter()
        self.setup_s = time.time() - self.args.t0
        while (len(rounds) < self.spec["rounds"]
               or time.perf_counter() - start < self.args.seconds):
            n = len(rounds)
            cpu0, py0 = probes.tree_cpu_s(os.getpid()), self._python_cpu()
            gc0, cg0 = self._gc(), self._codegen()
            t0 = time.perf_counter()
            if self.spec["kind"] == "queries":
                ops, stats = self.query_round(n)
            else:
                ops, stats = self.stream_round(n)
            wall = time.perf_counter() - t0
            cg1 = self._codegen()
            stats.update({
                "cpu_s": probes.tree_cpu_s(os.getpid()) - cpu0,
                "operators.python_cpu_s": self._python_cpu() - py0,
                "session.gc_s": self._gc() - gc0,
                "queries.codegen_compiles": cg1[0] - cg0[0],
                "queries.codegen_ms": cg1[1] - cg0[1],
            })
            rounds.append({"wall": wall, "ops": ops, "stats": stats})
        self.rounds = rounds
        if self.trace:
            self.layer["session.peak_rss_mb"] = probes.peak_rss_mb(os.getpid())

    def _python_cpu(self):
        if not self.trace:
            return 0.0
        return probes.cpu_s_of(probes.python_worker_pids(self.jvm_pid))

    def _gc(self):
        return self.probe.gc_s() if self.trace else 0.0

    def _codegen(self):
        return self.probe.codegen() if self.trace else (0, 0.0)

    def query_round(self, n):
        order = list(self.spec["queries"])
        random.Random(f"{self.args.seed}/{n}").shuffle(order)
        sc = self.spark.sparkContext
        ops, stats, results = {}, {}, {}
        for inp, name in order:
            key = f"{inp}.{name}"
            self.attempted += 1
            try:
                if self.trace:
                    sc.setJobGroup(f"build/{n}/{key}", key)
                t0 = time.perf_counter()
                df = self.registry.QUERIES[name](self.spark, self.in_dirs[inp])
                t1 = time.perf_counter()
                if self.trace:
                    sc.setJobGroup(f"exec/{n}/{key}", key)
                pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                self.failed += 1
                self.errors.append(f"{key}: {type(exc).__name__}: {exc}"[:300])
                self._isolate()
                continue
            ops[key] = t2 - t0
            results[key] = pdf
            if self.trace:
                self._trace_query(n, key, df, t1 - t0, t2 - t1, stats)
            self._isolate()
        stats["results"] = results
        return ops, stats

    def _isolate(self):
        """Drop every cache and pin a query left, so the next query's time
        does not depend on it."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def _trace_query(self, n, op, df, build_s, exec_s, stats):
        p = self.probe

        def add(key, v):
            stats[key] = stats.get(key, 0) + v

        build_jobs = p.group_jobs(f"build/{n}/{op}")
        exec_jobs = p.group_jobs(f"exec/{n}/{op}")
        add("queries.build_s", build_s)
        add("queries.build_jobs", len(build_jobs))
        add("operators.exec_s", exec_s)
        add("operators.exec_jobs", len(exec_jobs))
        for k, v in p.phases_ms(df).items():
            add(f"queries.{k}_ms", v)
        for k, v in p.plan_counts(df).items():
            add(f"queries.plan_{k}", v)
        pinned, mb = p.pins()
        add("queries.pinned_rdds", pinned)
        add("queries.pinned_mb", mb)
        self._add_stages(build_jobs + exec_jobs, add)

    def _add_stages(self, job_ids, add):
        tot = self.probe.stage_totals(job_ids)
        for k in ("stages", "tasks", "task_run_s", "task_cpu_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            add(f"operators.{k}", tot[k])
        add("sources.scan_mb", tot["scan_mb"])
        add("sources.scan_rows", tot["scan_rows"])

    def _arrival_ids(self, n) -> list[int]:
        """The arrival files round ``n`` lands: the cold round a backlog of
        ``cold_files``, each warm round the next ``files``; rounds past
        the workload's count land the warm rounds' files again."""
        cold, files = self.spec["cold_files"], self.spec["files"]
        if n == 0:
            return list(range(cold))
        k = (n - 1) % (self.spec["rounds"] - 1)
        return list(range(cold + k * files, cold + (k + 1) * files))

    def stream_round(self, n):
        """Land the round's arrival files, then drain them into the rollup:
        one ``availableNow`` run of the stream, resuming from the
        checkpoint, one file per micro-batch."""
        from pyspark.sql import functions as F

        ids = self._arrival_ids(n)
        landed_rows = 0
        for i in ids:
            shutil.copyfile(
                os.path.join(self.arrivals, f"arrival-{i:03d}.parquet"),
                os.path.join(self.landing, f"round{n:03d}-{i:03d}.parquet"))
            landed_rows += self.arrival_rows[i]
        self.attempted += len(ids)
        version0 = self.versioned.current_version(self.table)
        jobs_before = self.probe.all_jobs() if self.trace else set()
        events = (self.spark.readStream.schema(ARRIVAL_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(self.landing)
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        q = self.jobs.rollup_maintenance_stream(events, self.table,
                                                self.checkpoint)
        self.streams.append(q)
        try:
            q.awaitTermination()
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            self.errors.append(f"drain {n}: {type(exc).__name__}: {exc}"[:300])
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.failed += max(0, len(ids) - len(progress))
        ops = {f"batch{p['batchId']}": p["durationMs"]["triggerExecution"] / 1e3
               for p in progress}
        stats = {"batches": len(progress), "rows": landed_rows,
                 "versioned.commits":
                     self.versioned.current_version(self.table) - version0}
        if self.trace:
            stats.update(self._trace_stream(progress, landed_rows, jobs_before))
        return ops, stats

    def _trace_stream(self, progress, landed_rows, jobs_before):
        stats: dict[str, float] = {}

        def add(key, v):
            stats[key] = stats.get(key, 0) + v

        new_jobs = sorted(self.probe.all_jobs() - jobs_before)
        self._add_stages(new_jobs, add)
        batches = max(1, len(progress))
        for key, src in (("add_batch_ms", "addBatch"),
                         ("planning_ms", "queryPlanning"),
                         ("get_batch_ms", "getBatch"),
                         ("wal_commit_ms", "walCommit")):
            add(f"streaming.{key}",
                sum(p["durationMs"].get(src, 0) for p in progress) / batches)
        add("streaming.batches", len(progress))
        add("streaming.jobs_per_batch", len(new_jobs) / batches)
        # a micro-batch's numInputRows counts every scan of the batch,
        # so this ratio is the number of times each landed row is read
        add("streaming.source_reads",
            sum(p["numInputRows"] for p in progress) / max(1, landed_rows))
        return stats

    # ----------------------------------------------------------- checks --
    def check(self) -> bool:
        """True when every output that was produced matches its check."""
        if self.spec["kind"] == "queries":
            self._check_queries()
        else:
            self._check_stream()
        return not self.mismatches

    def _check_queries(self):
        """The cold and the last pass against the oracle SQL in DuckDB."""
        for inp, name in self.spec["queries"]:
            key = f"{inp}.{name}"
            sql = self.registry.ORACLES[name]
            sql = sql() if callable(sql) else sql
            with check.duck_connection(self.in_dirs[inp]) as con:
                want = check.canonical(con.execute(sql).df())
            for r in (self.rounds[0], self.rounds[-1]):
                pdf = r["stats"]["results"].get(key)
                if pdf is None:
                    continue  # failed op, counted in `failed`
                bad = check.mismatch(check.canonical(pdf), want, key)
                if bad:
                    self.mismatches.append(bad)

    def _check_stream(self):
        """The rollup against DuckDB over every landed file, and one
        committed version per non-empty micro-batch plus the create."""
        files = sorted(os.path.join(self.landing, f)
                       for f in os.listdir(self.landing))
        want = check.expected_rollup(files)
        pdf = self.versioned.read_table(self.spark, self.table).toPandas()
        for bad in (
                check.mismatch(check.canonical(check.rollup_frame(pdf)),
                               want, "rollup"),
                check.commit_mismatch(
                    self.versioned.current_version(self.table),
                    sum(r["stats"]["batches"] for r in self.rounds))):
            if bad:
                self.mismatches.append(bad)

    # ----------------------------------------------------------- record --
    def record(self, correct: bool) -> dict:
        """What ``summary.py`` needs from this session, and its host facts."""
        rounds = [{"wall": r["wall"], "ops": r["ops"],
                   "stats": {k: v for k, v in r["stats"].items()
                             if k != "results"}} for r in self.rounds]
        layer = dict(self.layer)
        if self.trace:
            layer.update(self._table_size())
        return {
            "correct": correct, "attempted": self.attempted,
            "failed": self.failed, "setup_s": self.setup_s,
            "rounds": rounds, "layer": layer, "host": self.host(),
        }

    def _table_size(self) -> dict:
        """Bytes and parquet files the rollup keeps, every version
        included: the copy-on-write amplification of the drain."""
        size, files = 0, 0
        for dirpath, _, names in os.walk(self.table) if self.table else ():
            for f in names:
                size += os.path.getsize(os.path.join(dirpath, f))
                files += f.endswith(".parquet")
        return {"versioned.write_mb": size / 2**20, "versioned.files": files}

    def host(self) -> dict:
        return {
            "python": platform.python_version(),
            "java": str(self.probe.jvm.System.getProperty("java.version")),
            "spark": self.spark.version,
            "probe_s": round(self._calibrate(), 4),
            "round_walls_s": [round(r["wall"], 3) for r in self.rounds],
        }

    def _calibrate(self) -> float:
        """Best of three timings of a constant amount of work per core."""
        nproc = len(os.sched_getaffinity(0))
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            (self.spark.range(0, nproc * 5_000_000, 1, nproc)
             .selectExpr("sum(hash(id)) AS h").collect())
            best = min(best, time.perf_counter() - t)
        return best

    # --------------------------------------------------------- teardown --
    def close(self):
        """Stop every stream, the session, and the gateway JVM; wait for it."""
        for q in self.streams:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - best effort, keep closing
                pass
        if self.spark is not None:
            from pyspark import SparkContext
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001
                pass
            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # noqa: BLE001
                    pass
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    run = Run(ap.parse_args())
    try:
        run.setup()
        print("perfbench: window start", file=sys.stderr, flush=True)
        run.measure()
        correct = run.check()
        for p in run.errors + run.mismatches:
            print(f"perfbench: {p}", file=sys.stderr)
        record = run.record(correct)
    finally:
        run.close()
    print(json.dumps({"session": record}), flush=True)


if __name__ == "__main__":
    main()
