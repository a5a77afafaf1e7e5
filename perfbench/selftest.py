"""Self-tests of the benchmark's own checks and process hygiene.

    python3 perfbench/selftest.py            # all tests
    python3 perfbench/selftest.py checks     # only the fast output checks

``checks`` shows that the output checks catch a perturbed cell, a
dropped row and a replayed micro-batch (DuckDB only, no Spark).
``interrupt`` starts a real run, interrupts it mid-pass and asserts
that the run fails without a result and leaves no process alive.
Exits 1 on the first failure.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from probes import descendants  # noqa: E402


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok   {what}")


def test_checks() -> None:
    events = gen.tables(0.001, seed=7)["events"]
    with tempfile.TemporaryDirectory() as tmp:
        rows = gen.cut_arrivals(events, tmp, 4, seed=7)
        files = sorted(os.path.join(tmp, f) for f in os.listdir(tmp))
        _expect(sum(rows) == events.num_rows, "arrival files hold every event once")
        want = check.expected_rollup(files)
        _expect(check.mismatch(check.expected_rollup(files), want, "r") is None,
                "an identical rollup passes")

        cols, good = want
        perturbed = list(good)
        row = list(perturbed[0])
        row[cols.index("n")] = str(int(row[cols.index("n")]) + 1)
        perturbed[0] = tuple(row)
        _expect(check.mismatch((cols, sorted(perturbed)), want, "r") is not None,
                "a perturbed cell fails the check")
        _expect(check.mismatch((cols, good[1:]), want, "r") is not None,
                "a dropped row fails the check")
        replayed = check.expected_rollup(files + files[:1])
        _expect(check.mismatch(replayed, want, "r") is not None,
                "a replayed batch fails the rollup check")
        _expect(check.commit_mismatch(len(files) + 2, len(files)) is not None,
                "a replayed batch fails the commit-count check")
        _expect(check.commit_mismatch(len(files) + 1, len(files)) is None,
                "one version per non-empty batch plus the create passes")


def test_interrupt() -> None:
    """Interrupt a run mid-pass; nothing it started may survive."""
    libc = ctypes.CDLL(None, use_errno=True)
    _expect(libc.prctl(36, 1, 0, 0, 0) == 0, "selftest is the child subreaper")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "queries",
         "--seed", "1", "--seconds", "60", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    for line in proc.stderr:
        if "window start" in line:
            break
    time.sleep(4)  # inside the cold pass
    had_jvm = len(descendants(proc.pid)) > 2
    proc.send_signal(signal.SIGINT)
    out, _ = proc.communicate(timeout=150)
    _expect(had_jvm, "the run had started its JVM before the interrupt")
    _expect(proc.returncode != 0, "an interrupted run exits non-zero")
    _expect('"correct"' not in out, "an interrupted run prints no result")
    time.sleep(1)
    while True:  # collect whatever came back to us
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break
    left = [p for p in descendants(os.getpid()) if p != os.getpid()]
    _expect(not left, f"no process outlived the run (left: {left})")
    _expect(not os.path.exists(os.path.join(ROOT, ".perfbench_work",
                                            f"run-{proc.pid}")),
            "the run removed its work directory")


TESTS = {"checks": test_checks, "interrupt": test_interrupt}


def main() -> int:
    names = sys.argv[1:] or list(TESTS)
    try:
        for name in names:
            TESTS[name]()
    except AssertionError as exc:
        print(f"FAIL {exc}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
