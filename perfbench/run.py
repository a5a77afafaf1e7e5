"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Runs the workload's sessions one
after another, each ``worker.py`` in a fresh process that builds its
inputs from ``--seed`` under ``.perfbench_work/``, sets up, times whole
rounds for its share of ``--seconds`` and checks every output. Prints a
host record, then the run's result JSON (``summary.py``) as the last line
of stdout.

This process owns the run's process tree. It becomes the child
subreaper, so the gateway JVM and the Python workers it forks come back
to it if a worker dies; after each worker exits it waits for all of
them before the next session starts, and fails the run (exit 1, no
result) if any is still alive after a grace period. SIGINT and SIGTERM
are passed to the running worker, which stops its streams and session
in a ``finally`` block.
"""

import time

T0 = time.monotonic()  # the watchdog counts from here

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import summary  # noqa: E402
from probes import descendants  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PR_SET_CHILD_SUBREAPER = 36
RUN_TIMEOUT_S = 170      # the whole command must end within 180 s
INTERRUPT_GRACE_S = 20   # from SIGINT to SIGKILL of the worker
EXIT_GRACE_S = 30        # for the JVM and Python workers to exit


def _reap():
    """Collect every child that has exited (ours or adopted)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _live_descendants() -> list[int]:
    _reap()
    me = os.getpid()
    return [p for p in descendants(me) if p != me]


def _worker_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # no hsperfdata file under the system /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]),
    })
    return env


class Sessions:
    """Runs the workers one after another; forwards a stop to the live one."""

    def __init__(self):
        self.proc = None
        self.interrupted = []

    def stop(self, signum=signal.SIGINT, _frame=None):
        self.interrupted.append(signum)
        proc = self.proc
        if proc is not None and proc.poll() is None:
            proc.send_signal(signal.SIGINT)
            killer = threading.Timer(INTERRUPT_GRACE_S, proc.kill)
            killer.daemon = True
            killer.start()

    def run(self, args, work: str, seconds: float):
        """One session; returns (record or None, exit code, survivors)."""
        os.makedirs(work)
        cmd = [sys.executable, "-u", os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(seconds), "--trace", str(args.trace),
               "--work", work, "--t0", repr(time.time())]
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                     env=_worker_env(work), cwd=ROOT)
        if self.interrupted:  # a stop that came before the process
            self.stop(self.interrupted[0])
        record = None
        for line in self.proc.stdout:
            if line.startswith('{"session"'):
                record = json.loads(line)["session"]
            else:
                sys.stdout.write(line)
        code = self.proc.wait()

        deadline = time.monotonic() + EXIT_GRACE_S
        survivors = _live_descendants()
        while survivors and time.monotonic() < deadline:
            time.sleep(0.2)
            survivors = _live_descendants()
        for pid in survivors:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if survivors:
            time.sleep(0.5)
            _reap()
        return record, code, survivors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    loadavg = os.getloadavg()

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become child subreaper", file=sys.stderr)
        return 1

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    runner = Sessions()
    signal.signal(signal.SIGINT, runner.stop)
    signal.signal(signal.SIGTERM, runner.stop)
    watchdog = threading.Timer(RUN_TIMEOUT_S - (time.monotonic() - T0),
                               runner.stop)
    watchdog.daemon = True
    watchdog.start()

    records, problem = [], None
    for i in range(spec["sessions"]):
        if runner.interrupted:
            problem = f"interrupted by signal {runner.interrupted[0]}"
            break
        record, code, survivors = runner.run(
            args, os.path.join(work, f"session-{i}"),
            args.seconds / spec["sessions"])
        if survivors:
            problem = (f"{len(survivors)} processes outlived session {i} "
                       f"and were killed: {survivors}")
        elif runner.interrupted:
            problem = f"interrupted by signal {runner.interrupted[0]}"
        elif code != 0 or record is None:
            problem = (f"session {i} exited with {code} and "
                       f"{'a' if record else 'no'} record")
        if problem:
            break
        records.append(record)
    watchdog.cancel()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run is using it
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 1

    hosts = [r["host"] for r in records]
    print(json.dumps({"host": {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _meminfo_mb(),
        "loadavg_at_start": [round(x, 2) for x in loadavg],
        **{k: hosts[0][k] for k in ("python", "java", "spark")},
        "probe_s": [h["probe_s"] for h in hosts],
        "setup_s": [round(r["setup_s"], 3) for r in records],
        "round_walls_s": [h["round_walls_s"] for h in hosts],
        "workload": args.workload,
        "seed": args.seed,
    }}), flush=True)
    result = {
        "correct": all(r["correct"] for r in records),
        "attempted": sum(r["attempted"] for r in records),
        "failed": sum(r["failed"] for r in records),
        "metrics": summary.metrics(spec, records, bool(args.trace)),
    }
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


def _meminfo_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


if __name__ == "__main__":
    sys.exit(main())
