"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract_flat --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric
with ``--trace 1``).  Spark's own logging goes to
``perfbench/.out/<workload>-s<seed>-t<trace>/stderr.log``.  The exit
code is non-zero if any correctness check fails or the run errors.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def parse_args(argv):
    from perfbench.spec import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def redirect_stderr(log_path: str) -> int:
    """Point fd 2 (inherited by the JVM and the Python workers) at a log
    file; returns a duplicate of the original stderr."""
    saved = os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


_T0 = time.perf_counter()


def phase(name: str) -> None:
    """Elapsed-time marker in the run's log (for the budget model)."""
    sys.stderr.write(f"perfbench phase {name} at {time.perf_counter() - _T0:.2f}s\n")
    sys.stderr.flush()


def metrics_for(values: dict, trace: int) -> dict:
    """The printed metrics: every declared end-to-end metric (trace 0)
    or every per-layer metric (trace 1), with its unit."""
    from perfbench.spec import END_TO_END, PER_LAYER

    units = PER_LAYER if trace else {k: u for k, (u, _) in END_TO_END.items()}
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def timed_loop(wl, spark, seconds: float, min_iters: int, rec=None):
    walls = []
    end = time.perf_counter() + seconds
    while len(walls) < min_iters or time.perf_counter() < end:
        if rec is None:
            walls.append(wl.iteration(spark))
        else:
            with rec.span(f"workload.{wl.name}"):
                walls.append(wl.iteration(spark))
    sys.stderr.write(f"perfbench iterations {[round(w, 3) for w in walls]}\n")
    return walls


class Session:
    """Owns the driver JVM: starts it with host-derived settings and, on
    close, stops Spark and waits for the JVM and its workers to exit."""

    def __init__(self) -> None:
        self.spark = None

    def start(self, cores: int):
        from py_pdf_parser_spark.session import get_spark

        self.spark = get_spark(cores=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, cores: int):
        self.spark.stop()
        return self.start(cores)

    def close(self) -> None:
        from pyspark import SparkContext

        from perfbench.host import wait_children_gone

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        wait_children_gone(30)


def run(args, nproc: int, out_dir: str) -> dict:
    from perfbench import host
    from perfbench.spec import PER_LAYER
    from perfbench.trace import Recorder
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, out_dir)
    phase("start")
    wl.prepare()
    phase("prepared")

    session = Session()
    rec = Recorder(run_id=f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        t0 = time.perf_counter()
        spark = session.start(nproc)
        start_s = time.perf_counter() - t0
        wl.configure(spark)
        t0 = time.perf_counter()
        wl.warm_up(spark)
        warm_s = time.perf_counter() - t0
        phase("set-up")

        if not args.trace:
            walls = timed_loop(wl, spark, args.seconds, wl.min_iterations)
            verdict = wl.verdict(spark)
            wall = statistics.median(walls)
            values = {
                "wall_s": wall,
                "docs_per_s": wl.n_docs / wall,
                "setup_s": start_s + warm_s,
            }
        else:
            values = dict.fromkeys(PER_LAYER, 0.0)
            # Half the measuring time untraced, half traced: their
            # medians' difference is the tracing overhead.
            half, half_iters = args.seconds / 2, max(2, wl.min_iterations // 2)
            with host.PeakRss() as rss:
                wall = statistics.median(timed_loop(wl, spark, half, half_iters))
            values["peak_rss_mb"] = rss.peak
            traced = timed_loop(wl, spark, half, half_iters, rec)
            values["trace.overhead_s"] = statistics.median(traced) - wall
            values.update(wl.layers(spark, rec, wall, nproc))
            verdict = wl.verdict(spark)
            values["session.start_s"] = start_s
            values["session.warmup_s"] = warm_s
            if wl.measures_scaling:
                with rec.span("pipeline.extract_1core"):
                    spark = session.restart(1)
                    wl.configure(spark)
                    wl.prime(spark)
                    wl.iteration(spark)
                    wall_1 = wl.iteration(spark)
                values["pipeline.scaling_eff"] = wall_1 / (nproc * wall)
            values["error_frac"] = verdict.failed / max(verdict.attempted, 1)
            rec.write(os.path.join(out_dir, "trace.json"))
        phase("measured")
    finally:
        session.close()
        wl.cleanup()
        phase("closed")

    for problem in verdict.problems:
        print(f"CHECK FAILED [{args.workload}]: {problem}")
    return {
        "correct": verdict.correct,
        "attempted": verdict.attempted,
        "failed": verdict.failed,
        "metrics": metrics_for(values, args.trace),
    }


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from perfbench import host

    out_dir = os.path.join(BENCH_DIR, ".out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    os.environ.update(host.launch_env(ROOT, out_dir))
    saved_stderr = redirect_stderr(os.path.join(out_dir, "stderr.log"))
    try:
        result = run(args, host.nproc(), out_dir)
    except Exception:
        err = traceback.format_exc()
        sys.stderr.write(err)
        sys.stderr.flush()
        os.write(saved_stderr, f"perfbench: {args.workload} failed:\n{err}".encode())
        return 2
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
