"""Seeded benchmark of the gdal_spark engine.

    python3 perfbench/run.py --workload geojoin --seed 1 --seconds 8 --trace 0

Runs one workload in this process against one local[k] SparkSession
(k = min(3, usable cores)), checks every output against a numpy oracle
and prints one JSON line as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# one core stays free for this process, the JVM's scheduler and GC
# threads and the RSS sampler (on a 4-vCPU guest: the same median job_s as 4
# task slots, about half the spread across seeds)
MAX_CORES = 3
# measuring stops after this many seconds of ops, so that a run on a
# slower machine still ends within three minutes
MEASURE_CAP_S = 70.0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat", "rb") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    since_boot = time.clock_gettime(time.CLOCK_BOOTTIME)
    return since_boot - start_ticks / os.sysconf("SC_CLK_TCK")


class PhaseLog:
    """Logs to stderr how long each phase of the run took."""

    def __init__(self):
        self.last = 0.0

    def __call__(self, name: str) -> None:
        now = process_age_s()
        print(f"perfbench: {name} {now - self.last:.2f} s", file=sys.stderr)
        self.last = now


def _non_negative(text: str) -> int:
    n = int(text)
    if n < 0:
        raise argparse.ArgumentTypeError("must be >= 0")
    return n


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=_non_negative, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """Timed loop of one workload: ``attempted`` ops, ``failed`` of
    them raised or returned a wrong result."""

    def __init__(self, wl):
        self.wl = wl
        self.times: list[float] = []
        self.attempted = 0
        self.failed = 0

    def one(self, fn, i: int, check=None) -> float | None:
        self.attempted += 1
        try:
            t = time.perf_counter()
            out = fn(i)
            dt = time.perf_counter() - t
            ok = (check or self.wl.check)(out)
        except Exception:               # noqa: BLE001 - counted, reported
            traceback.print_exc()
            self.failed += 1
            return None
        if not ok:
            print(f"{self.wl.name}: op {i} returned a wrong result",
                  file=sys.stderr)
            self.failed += 1
        return dt

    def measure(self, seconds: float, min_ops: int) -> None:
        i = 0
        while ((sum(self.times) < seconds or len(self.times) < min_ops)
               and sum(self.times) < MEASURE_CAP_S):
            dt = self.one(self.wl.op, i)
            if dt is not None:
                self.times.append(dt)
            elif self.failed > 3 * (len(self.times) + 1):
                break                   # failing persistently
            i += 1


def per_layer(wl, run: Run, tr, kernels: dict, traced_wall: float) -> dict:
    job_s = statistics.median(run.times)
    roots = [s for s in tr.spans
             if s["parent"] is None and s["name"] == wl.name]
    cores = wl.spark.sparkContext.defaultParallelism
    wall = sum(tr.wall(s) for s in roots)
    sp = {k: sum(tr.spark_total(s, k) for s in roots) for k in (
        "tasks", "failed_tasks", "cpu_s", "run_s", "gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
        "python_mb")}
    n_roots = len(roots)
    m = {f"spark.{k}": v / n_roots for k, v in sp.items()}
    # Spark's executor CPU time leaves out the Python workers, where
    # most kernels run: utilisation counts the whole engine's CPU
    m["spark.core_util"] = sum(s["cpu_s"] for s in roots) / (wall * cores)
    m.update(kernels)
    m.update(wl.layer_counts(tr))
    m.update(wl.run_metrics(run.times))
    m["trace.overhead_s"] = traced_wall - job_s
    m["error_rate"] = run.failed / run.attempted
    return m


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        print(f"perfbench: no gdal_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from sandbox import RssSampler, Scratch, stop_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    scratch = Scratch(ROOT)
    scratch.configure_spark_env(cores)
    phase = PhaseLog()
    spark = None
    # memory is a per-layer figure: the sampler runs in the traced run only
    sampler = RssSampler() if args.trace else contextlib.nullcontext()
    try:
        with sampler:
            import gdal_spark

            spark = gdal_spark.get_spark(f"perfbench-{args.workload}",
                                         master=f"local[{cores}]")
            spark.sparkContext.setLogLevel("ERROR")
            phase("session")
            wl = WORKLOADS[args.workload](spark, args.seed, scratch)
            wl.stage()
            phase("stage")
            wl.warm()
            phase("warm")
            setup_s = process_age_s()
            wl.prepare_oracle()
            phase("oracle")
            run = Run(wl)
            run.measure(args.seconds, wl.min_ops)
            phase("measure")
            print("perfbench: op times " + " ".join(
                f"{t:.3f}" for t in run.times), file=sys.stderr)
            if args.trace:
                metrics = traced(wl, run, args)
                phase("trace")
                sampler.sample()
                metrics["peak_rss_mb"] = sampler.peak_mb
    finally:
        if spark is not None:
            stop_spark(spark)
            phase("stop")
        scratch.cleanup()
    if not run.times:
        print("perfbench: every operation failed", file=sys.stderr)
        return 1
    if not args.trace:
        metrics = {"setup_s": setup_s,
                   "job_s": statistics.median(run.times)}
    declared = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(metrics) - {d["name"] for d in declared}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        # a layer the workload does not exercise reads 0
        "metrics": {d["name"]: {"value": float(metrics.get(d["name"], 0.0)),
                                "unit": d["unit"]} for d in declared},
    }
    print(json.dumps(result))
    return 0


def traced(wl, run: Run, args) -> dict:
    """Traced ops after the untraced loop: spans per layer, Spark
    metrics per span, kernel micro-timings."""
    from kernels import kernel_metrics
    from tracing import Tracer

    tr = Tracer(wl.spark, f"perfbench-{os.getpid()}")
    walls = []
    for i in range(wl.traced_ops):
        dt = run.one(lambda j: wl.traced_op(tr, j), len(run.times) + i)
        if dt is not None:
            walls.append(dt)
    wl.traced_extra(tr, run)
    tr.attach_spark_metrics()
    kernels = kernel_metrics(args.workload, args.seed)
    m = per_layer(wl, run, tr, kernels, statistics.median(walls))
    os.makedirs(OUT_DIR, exist_ok=True)
    tr.dump(os.path.join(
        OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
