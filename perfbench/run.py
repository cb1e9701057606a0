"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload frontier --seed 1 --seconds 10 --trace 0

Workloads: frontier, crawl_loop, curate_text (see perfbench/README.md).
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
trace. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

The program runs at local[<cores>] in a child process whose environment
carries every setting the benchmark chooses; all files go under
.bench_work/ in the current directory and are removed afterwards, except
the span dumps of traced runs (.bench_work/spans/).
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from proctree import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
LIMIT_S = 150  # a run must end within 180 s, clean-up included
DRIVER_MEM = "4g"  # the box has 15 GiB, shared; shuffle goes to disk
# Initial heap: it holds what every workload needs, so G1 does not grow the
# heap in reaction to its GC-time share, which follows the host's CPU speed
# and made the JVM's resident size, and so peak_mem_mb, differ run to run.
INITIAL_HEAP = "2g"
RESULT_PREFIX = '{"correct"'  # worker.py's last stdout line


def program_env(root: str, work: str, cores: int) -> dict[str, str]:
    """The program's settings, passed only through its environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{INITIAL_HEAP}",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    env = dict(os.environ)
    env.update({
        "SPARK_MASTER": f"local[{cores}]",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_SHUFFLE_PARTITIONS": str(2 * cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SHM_SHUFFLE": "0",
        "JIRLBOT_SPARK_CONF": ";".join(f"{k}={v}" for k, v in conf.items()),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    })
    return env


def _prctl_subreaper() -> None:
    """Make this process the reaper of every orphan below it, so that a
    process whose parent dies (a Python worker of a killed JVM) is
    re-parented here and stays findable as a descendant."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return  # the session sweep in run_members still finds them
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def run_members(sid: int) -> list[int]:
    """Every process the run started, zombies included: the descendants of
    this process and every process of the run's session. PySpark's worker
    daemon leaves the run's process group (setpgid), so a group kill would
    miss it and the workers it forks."""
    me = os.getpid()
    out = set(descendants(me)) - {me}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) == sid:
                    out.add(int(name))
            except OSError:  # it ended between listing and asking
                pass
    return sorted(out)


def reap() -> None:
    """Collect the exit status of every ended child, orphans included."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_run(sid: int, term_grace: float) -> list[int]:
    """Stop every process the run started and wait until each has ended
    and been reaped: SIGTERM, then SIGKILL after `term_grace` seconds
    (0: SIGKILL now). Returns the processes still there at the end."""
    steps = [(signal.SIGKILL, 20.0)]
    if term_grace > 0:
        steps.insert(0, (signal.SIGTERM, term_grace))
    for sig, grace in steps:
        deadline = time.monotonic() + grace
        sent: set[int] = set()
        while True:
            reap()
            left = run_members(sid)
            if not left or time.monotonic() >= deadline:
                break
            for pid in set(left) - sent:  # new ones too, e.g. a late fork
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent.add(pid)
            time.sleep(0.05)
        if not left:
            return []
    return left


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true",
                   help="tiny inputs (smoke tests)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jirlbot_spark", "session.py")):
        print("perfbench: run from the repository root (no jirlbot_spark/ "
              "here)", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(
        root, ".bench_work",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ] + (["--small"] if args.small else [])
    _prctl_subreaper()
    # a caller that stops the run with SIGTERM gets the same clean-up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(
        cmd, cwd=root, env=program_env(root, work, cores),
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    lines: list[str] = []
    ended = threading.Event()

    def read() -> None:
        # the result line is the last thing the run needs; the session's
        # shutdown after it is not waited for
        for line in proc.stdout:
            lines.append(line)
            if line.startswith(RESULT_PREFIX):
                break
        ended.set()

    threading.Thread(target=read, daemon=True).start()
    try:
        if not ended.wait(LIMIT_S):
            print(f"perfbench: run exceeded {LIMIT_S} s", file=sys.stderr)
    finally:
        t = time.monotonic()
        done = bool(lines) and lines[-1].startswith(RESULT_PREFIX)
        left = stop_run(proc.pid, term_grace=0.0 if done else 10.0)
        proc.wait()
        print(f"[perfbench] stopped the run's processes in "
              f"{time.monotonic() - t:.2f} s", file=sys.stderr)
        if left:
            print(f"perfbench: processes {left} did not end", file=sys.stderr)
            done = False
        shutil.rmtree(work, ignore_errors=True)
    out = "".join(lines)
    if not done:
        sys.stderr.write(out)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
