"""One benchmark run, inside the process tree it measures.

`run.py` starts this script with the program's settings in its
environment; see run.py for the command line. Set-up (session start,
input generation, pre-build and warm-up) is timed as `setup_s`. Then
batches run in closed loop for `--seconds`: each is submitted when the
previous one has committed, and each output is checked. The last stdout
line is the result as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from proctree import PeakMem, descendants, host_steal_ticks, tree_cpu_s
from spans import StatusStore, Tracer
from stats import Outcomes, summarize
from workloads import WORKLOADS

END_TO_END = {
    "items_per_s": "items/s",
    "cpu_s": "s",
    "batch_s_p50": "s",
    "peak_mem_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "input.wall_s": "s",
    "input.scan_s": "s",
    "prepare.arrow_s": "s",
    "prepare.kernel_s": "s",
    "prepare.cpu_s": "s",
    "prepare.rows_in": "count",
    "prepare.valid_ratio": "fraction",
    "prepare.gc_s": "s",
    "storage.write_s": "s",
    "storage.write_mb": "MB",
    "dedup.wall_s": "s",
    "dedup.cpu_s": "s",
    "dedup.shuffle_mb": "MB",
    "dedup.spill_mb": "MB",
    "dedup.fresh_ratio": "fraction",
    "dedup.gc_s": "s",
    "star.wall_s": "s",
    "star.gc_s": "s",
    "beast.wall_s": "s",
    "beast.shuffle_mb": "MB",
    "beast.admit_ratio": "fraction",
    "beast.task_skew": "ratio",
    "beast.gc_s": "s",
    "politeness.wall_s": "s",
    "politeness.shuffle_mb": "MB",
    "politeness.gc_s": "s",
    "loop.batch_s": "s",
    "loop.driver_s": "s",
    "loop.jobs_per_batch": "count",
    "loop.tasks_per_batch": "count",
    "loop.gc_s": "s",
    "robots.pass_ratio": "fraction",
    "robots.deferred_rows": "count",
    "fetch.pages": "count",
    "fetch.verify_s": "s",
    "fetch.links_out": "count",
    "commit.wall_s": "s",
    "commit.mb": "MB",
    "commit.frontier_s": "s",
    "commit.url_seen_s": "s",
    "commit.fetch_log_s": "s",
    "commit.verify_log_s": "s",
    "commit.pld_graph_s": "s",
    "commit.robots_s": "s",
    "commit.gc_s": "s",
    "minhash.wall_s": "s",
    "minhash.cpu_s": "s",
    "minhash.candidate_pairs": "count",
    "minhash.verified_pairs": "count",
    "minhash.pair_yield": "fraction",
    "minhash.max_bucket_rows": "count",
    "minhash.shuffle_mb": "MB",
    "minhash.spill_mb": "MB",
    "minhash.gc_s": "s",
    "components.wall_s": "s",
    "components.rounds": "count",
    "components.gc_s": "s",
    "curate.wall_s": "s",
    "curate.keep_ratio": "fraction",
    "curate.gc_s": "s",
    "trace.batch_s": "s",
    "trace.untraced_batch_s": "s",
    "trace.overhead_s": "s",
}

# environment the launcher sets for the program; echoed in the output
SETTINGS = (
    "SPARK_MASTER", "SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_DRIVER_MEM", "SPARK_GRAFT_SHM_SHUFFLE", "JIRLBOT_SPARK_CONF",
)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


class Run:
    def __init__(self, args):
        self.args = args
        self.pid = os.getpid()
        self.work = args.work
        self.outcomes = Outcomes()
        self.n_batch = 0
        self.mem = None  # the PeakMem sampler while one runs

    def setup(self) -> dict:
        from jirlbot_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        self.wl = WORKLOADS[self.args.workload](
            self.spark, self.args.seed, small=self.args.small
        )
        t = time.perf_counter()
        self.wl.generate(os.path.join(self.work, "gen"))
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        self.wl.prebuild(os.path.join(self.work, "prebuild"))
        prebuild_s = time.perf_counter() - t
        parts = {
            "session_s": session_s,
            "generate_s": generate_s,
            "prebuild_s": prebuild_s,
        }
        log("set-up " + " ".join(f"{k}={v:.2f}" for k, v in parts.items()))
        self.setup_parts = parts
        return parts

    def _cpu(self) -> float:
        """CPU seconds of the tree, less what the memory sampler spent."""
        return tree_cpu_s(self.pid) - (self.mem.cpu_s if self.mem else 0.0)

    def _batch(self, fn):
        """Run one batch through `fn(b, out)`; check it, count it."""
        ids = self.wl.batches()
        b = ids[self.n_batch % len(ids)]
        out = os.path.join(self.work, f"batch_{self.n_batch}")
        self.n_batch += 1
        c0, t0 = self._cpu(), time.perf_counter()
        try:
            res = fn(b, out)
            errors = None
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            res, errors = None, [f"batch {b}: {type(e).__name__}: {e}"]
        dt, cpu = time.perf_counter() - t0, self._cpu() - c0
        if errors is None:
            try:
                errors = self.wl.check(b, res.get("result", res))
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                errors = [f"batch {b}: check raised {type(e).__name__}: {e}"]
        log(f"batch {self.n_batch - 1} (input {b}): {dt:.3f} s wall, "
            f"{cpu:.2f} s cpu, {'ok' if not errors else 'FAILED'}")
        for e in errors:
            log(f"FAILED {e}")
        self.outcomes.record(errors)
        shutil.rmtree(out, ignore_errors=True)
        return b, dt, cpu, res

    def timed(self, seconds: float) -> dict:
        """Closed loop for `seconds`; per-batch samples, median of each."""
        self.samples = {k: [] for k in END_TO_END if k != "setup_s"}
        steal0 = host_steal_ticks()
        with PeakMem(self.pid) as mem:
            self.mem = mem
            mem.take()
            start = time.perf_counter()
            while True:
                b, dt, cpu, _ = self._batch(self.wl.run)
                self.samples["items_per_s"].append(self.wl.items(b) / dt)
                self.samples["cpu_s"].append(cpu)
                self.samples["batch_s_p50"].append(dt)
                self.samples["peak_mem_mb"].append(mem.take())
                log(f"  peak pss {self.samples['peak_mem_mb'][-1]:.0f} MB, "
                    f"{len(descendants(self.pid))} processes")
                # whole passes over the inputs, so every run's median
                # weighs each input alike
                if (time.perf_counter() - start >= seconds
                        and self.n_batch % len(self.wl.batches()) == 0):
                    break
        self.mem = None
        steal1 = host_steal_ticks()
        self.steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        return {k: statistics.median(v) for k, v in self.samples.items()}

    def traced(self, seconds: float) -> dict:
        """Half the time untraced, half traced; per-layer medians."""
        untraced = self.timed(seconds / 2)["batch_s_p50"]
        tracer = Tracer(
            f"{self.args.workload}-seed{self.args.seed}",
            StatusStore(self.spark),
            cpu_fn=lambda: tree_cpu_s(self.pid),
        )
        per_batch: list[dict] = []
        start = time.perf_counter()
        while True:
            def one(b, out):
                with tracer.span("batch") as s:
                    r = self.wl.traced(b, out, tracer)
                r["metrics"]["trace.batch_s"] = s.duration
                return r

            _, _, _, res = self._batch(one)
            if res is not None:
                per_batch.append(res["metrics"])
            if time.perf_counter() - start >= seconds / 2:
                break
        spans_dir = os.path.join(os.path.dirname(self.work), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{tracer.run_id}.json"))
        out = {}
        for name in PER_LAYER:
            vals = [m[name] for m in per_batch if name in m]
            out[name] = float(statistics.median(vals)) if vals else 0.0
        out["input.wall_s"] = self.setup_parts["generate_s"]
        out["trace.untraced_batch_s"] = untraced
        out["trace.overhead_s"] = out["trace.batch_s"] - untraced
        return out


def report(run: Run, setup: dict, metrics: dict, trace: bool) -> None:
    a = run.args
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={int(trace)} batches={run.outcomes.attempted} "
          f"items={run.wl.item}")
    root = os.getcwd() + os.sep
    for k in SETTINGS:
        print(f"  setting {k}={os.environ.get(k, '').replace(root, '')}")
    print("  set-up: " + ", ".join(f"{k} {v:.3f} s" for k, v in setup.items()))
    units = PER_LAYER if trace else END_TO_END
    samples = {} if trace else run.samples
    if trace:
        print("  (layers this workload does not run report 0 and are not "
              "listed; trace.overhead_s = traced minus untraced batch)")
    for name, unit in units.items():
        if trace and metrics[name] == 0:
            continue
        line = f"  {name:<26} {metrics[name]:>14.4f} {unit}"
        if name in samples:
            s = summarize(samples[name])
            line += (f"   median of n={s['n']}, q1 {s['q1']:.4f}, "
                     f"q3 {s['q3']:.4f}")
        print(line)
    print(f"  error_rate {run.outcomes.error_rate:.4f} "
          f"({run.outcomes.failed} failed of {run.outcomes.attempted})")
    print(f"  host context: cpu steal {100 * run.steal:.2f}% during the "
          "untraced batches")


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--small", action="store_true",
                   help="tiny inputs, for the smoke tests")
    args = p.parse_args(argv)
    run = Run(args)
    log("imports done")
    setup = run.setup()
    metrics = run.traced(args.seconds) if args.trace else run.timed(args.seconds)
    if not args.trace:
        metrics["setup_s"] = sum(setup.values())
    report(run, setup, metrics, bool(args.trace))
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": run.outcomes.failed == 0,
        "attempted": run.outcomes.attempted,
        "failed": run.outcomes.failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
        },
    }), flush=True)
    log("measured; stopping the session")
    run.spark.stop()
    log("session stopped")
    return 0


if __name__ == "__main__":
    sys.exit(main())
