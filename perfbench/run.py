"""Benchmark entry point: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload kv_oltp --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` repeats the
run with spans around every layer and prints the per-layer metrics
instead. ``--smoke`` shrinks every input for a quick check. The last
line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the per-operation breakdown, the host probe and, when traced, the
traced end-to-end figures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "query_total_s": "s",
    "peak_rss_mb": "MB",
}

# Per-operation figures of the workloads that have the operation (0 on
# the others). Every run prints them in its detail line; the traced run
# reports them with the per-layer metrics.
OP_FIGURES = {
    "get_p50_ms": "ms", "get_p99_ms": "ms",
    "scan_p50_ms": "ms", "scan_p99_ms": "ms",
    "write_p50_ms": "ms", "write_p99_ms": "ms",
    "ingest_rows_per_s": "1/s", "compact_s": "s", "space_amp": "ratio",
}


def p99(xs: list[float]) -> float:
    """Nearest-rank 99th percentile (the slowest sample below 100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.99 * len(s)) - 1)]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Run:
    """One benchmark run: its settings, private directories, samples
    and correctness counts."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.tracer = None
        self.stop_spark = None                   # set by start_spark
        self.dir = os.path.join(HERE, ".runs",
                                f"{args.workload}-{os.getpid()}")
        self.lat: dict[str, list[float]] = {}   # op kind -> ms
        self.setup_s = 0.0                       # Spark start + build, s
        self.session_s = 0.0                     # Spark start, s
        self.loop_s = 0.0                        # measured window, s
        self.done: list[float] = []              # op completion times
        self.rate = 0.0                          # ops_per_s
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rss_pids: dict[str, int] = {}       # role -> pid
        self.rss_mb: dict[str, float] = {}       # role -> VmHWM
        self.detail: dict = {}                   # printed, not a metric
        self.context: dict = {}                  # input to the summariser
        self.cleanups: list = []                 # run at exit, LIFO
        self.cpus = os.cpu_count() or 1

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def timed_setup(self, build):
        """Run ``build(dir)`` once in a fresh ``setup`` dir, add its time
        to ``setup_s`` and return its result."""
        d = self.path("setup")
        os.makedirs(d)
        t0 = time.perf_counter()
        out = build(d)
        self.setup_s += time.perf_counter() - t0
        return out

    def op_figures(self) -> dict:
        out = {}
        for kind in ("get", "scan", "write"):
            xs = self.lat.get(kind)
            out[f"{kind}_p50_ms"] = statistics.median(xs) if xs else 0.0
            out[f"{kind}_p99_ms"] = p99(xs) if xs else 0.0
        for name in ("ingest_rows_per_s", "compact_s", "space_amp"):
            out[name] = self.detail.get(name, 0.0)
        return out

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 5:
                self.failures.append(what)

    def record(self, kind: str, ms: float) -> None:
        self.lat.setdefault(kind, []).append(ms)

    def sample_rss(self) -> None:
        for role, pid in list(self.rss_pids.items()):
            self.rss_mb[role] = max(self.rss_mb.get(role, 0.0),
                                    vm_hwm_mb(pid))

    def ops_per_s(self, t_start: float) -> float:
        """Completed ops per second: with completion times recorded in
        ``done`` (KV workloads), the median over the window's 1-s
        slices, so a brief stall of the host does not move it; else
        over the whole window."""
        if not self.done:
            return sum(len(v) for v in self.lat.values()) / self.loop_s
        n = max(1, int(self.loop_s))
        width = self.loop_s / n
        counts = [0] * n
        for t in self.done:
            counts[min(n - 1, int((t - t_start) / width))] += 1
        return statistics.median(counts) / width

    def end_to_end(self) -> dict:
        self.rss_pids["driver"] = os.getpid()
        self.sample_rss()
        return {
            "setup_s": self.setup_s,
            "ops_per_s": self.rate,
            "query_total_s": sum(statistics.median(v)
                                 for v in self.lat.values()) / 1000.0,
            "peak_rss_mb": sum(self.rss_mb.values()),
        }


WORKLOADS = {"kv_oltp": "kv", "kv_http": "kv",
             "ts_analytics": "analytics", "curation": "analytics"}


def workload_fn(name: str):
    import importlib

    return getattr(importlib.import_module(f"perfbench.{WORKLOADS[name]}"),
                   name)


def _prepare_dirs(run: Run) -> None:
    """Private store, artifact, Spark and temp dirs for this run; the
    whole tree is removed at exit."""
    for sub in ("tmp", "artifacts", "spark-local", "trace"):
        os.makedirs(run.path(sub), exist_ok=True)
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["QUASDB_ARTIFACT_DIR"] = run.path("artifacts")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    tempfile.tempdir = run.path("tmp")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and a short window")
    ap.add_argument("--trace-out", default=None,
                    help="keep the traced run's span files in this dir")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import bench  # the repo's host probe; fails outside a checkout
    from perfbench import summarize
    from perfbench.trace import Tracer

    run = Run(args)
    _prepare_dirs(run)
    # a TERM from outside still runs the finally block below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.trace:
            run.tracer = Tracer()
        run.detail["host_start"] = bench._host_probe()
        workload_fn(args.workload)(run)
        metrics = run.end_to_end()
        figures = run.op_figures()
        run.detail.update(figures)
        run.detail["host_end_loadavg"] = [round(x, 2)
                                          for x in os.getloadavg()]
        if args.trace:
            run.context["loop_s"] = run.loop_s
            run.context["session_s"] = run.session_s
            run.context["client_ms"] = run.lat
            run.tracer.dump(run.path("trace", "spans-driver.jsonl"),
                            {"context": run.context})
            layers = summarize.summarize(run.path("trace"))
            run.detail["traced_end_to_end"] = metrics
            if args.trace_out:
                shutil.copytree(run.path("trace"), args.trace_out,
                                dirs_exist_ok=True)
            metrics = {**layers, **figures}
            units = {**summarize.UNITS, **OP_FIGURES}
        else:
            units = END_TO_END
    finally:
        for fn in reversed(run.cleanups):
            try:
                fn()
            except Exception as e:  # keep reaping the rest
                print(f"cleanup failed: {e!r}", file=sys.stderr)
        shutil.rmtree(run.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".runs"))
        except OSError:
            pass  # another run still owns it

    n_ops = {k: len(v) for k, v in run.lat.items()}
    run.detail.update(workload=run.workload, seed=run.seed,
                      samples=n_ops, fail_frac=run.failed / run.attempted,
                      failures=run.failures)
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
