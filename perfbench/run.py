#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload registry_mix --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. It sizes a ``local[N]`` session to the
host (``SPARK_GRAFT_CPUS`` <= nproc, ``SPARK_GRAFT_DRIVER_MEM`` well
below physical RAM), generates the workload's inputs from ``--seed``,
runs set-up (JVM start, fixtures, index builds, first calls, a
discarded warm pass), then runs complete passes of the workload's
operations in seeded order until ``--seconds`` have elapsed (at least
the workload's ``min_passes``: one pipeline run, three registry
passes), checking every output. The client is closed-loop: one
operation at a time, the next one issued when the previous one
returns. The ``{"info": ...}`` line also lists every timed sample.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer span counts (per traced pass) with ``--trace 1``. The
line before it (``{"info": ...}``) stamps the run with the session
size, a single-thread host-speed probe and the load average, so runs
on a contended host can be spotted.

End-to-end metrics (every workload reports all of them):
  setup_s         JVM start + median of 3 fixture builds (inputs
                  generated and written) + index builds, first calls
                  and warm pass
  op_p50_s/p90_s  latency of one operation (a pipeline run, a registry
                  query or search, a CDC commit): the median / 90th
                  percentile of each operation's timed runs, then the
                  geometric mean over the operations of the mix, so
                  that no single query's jitter decides the figure
  rows_per_s      input rows processed per second of operation time
  peak_rss_mb     peak resident memory of driver Python + JVM + Python
                  workers from /proc, sampled twice a second (Python
                  processes as proportional set size: pages the forked
                  workers share are split among them)
  ok_op_frac      operations whose output passed its check / attempted
  result_quality  accidents_pipeline: mean of RF accuracy, kNN
                  accuracy and K-Means silhouette (each repeats exactly
                  per seed); other workloads: share of results equal
                  to their reference
With ``--trace 1`` an untraced warm-up pass is followed by traced and
untraced passes in turn (at least traced, untraced, traced); per-layer
counts are per traced pass and ``trace.overhead_frac`` is the median
traced over the median untraced operation latency, minus 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "us_accidents_bigdata_pipeline_spark"

E2E = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_p90_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
    ("ok_op_frac", "frac", "higher", 0.01),
    ("result_quality", "frac", "higher", 0.04),
]

LAYERS = [
    "pipeline", "operators.clean", "ml.features", "ml.rf", "ml.knn",
    "ml.kmeans", "ml.metrics", "sources.io", "operators.viz",
    "plans.queries", "operators.dedup", "operators.similarity",
    "operators.textstats", "operators.curation", "streaming",
    "operators.merge",
]
_CORE = ["wall_s", "jobs", "tasks", "task_run_s", "task_cpu_frac", "slot_util"]
_SHUFFLE = [
    "plans.queries", "operators.dedup", "operators.similarity",
    "operators.textstats", "operators.curation", "ml.rf", "ml.kmeans",
]
_UNITS = {
    "wall_s": "s", "task_run_s": "s", "task_cpu_frac": "frac",
    "slot_util": "frac", "jobs": "count", "stages": "count",
    "tasks": "count", "failed_tasks": "count",
}


def _per_layer_names() -> list[tuple[str, str, str]]:
    """(metric, layer, count) for every per-layer metric."""
    out = []
    for layer in LAYERS:
        counts = ["wall_s"] if layer == "ml.metrics" else list(_CORE)
        if layer in _SHUFFLE:
            counts += ["shuffle_read_mb", "shuffle_write_mb"]
        if layer in ("plans.queries", "streaming", "operators.clean"):
            counts.append("input_mb")
        if layer in ("streaming", "sources.io", "operators.viz"):
            counts.append("output_mb")
        if layer in ("plans.queries", "streaming"):
            counts.append("stages")
        out += [(f"{layer}.{c}", layer, c) for c in counts]
    out += [
        ("all.failed_tasks", "all", "failed_tasks"),
        ("all.spill_mb", "all", "spill_mb"),
    ]
    return out


PER_LAYER_EXTRA = [
    ("session.start_s", "s"),
    ("sources.fixture_s", "s"),
    ("plans.build_s", "s"),
    ("streaming.write_amp", "ratio"),
    ("trace.overhead_frac", "frac"),
]


def per_layer_spec() -> list[tuple[str, str]]:
    """(metric, unit) in BENCHMARK.json order."""
    return [
        (name, _UNITS.get(c, "MB")) for name, _, c in _per_layer_names()
    ] + PER_LAYER_EXTRA


# -- host --------------------------------------------------------------------
def probe_miters(iters: int = 3_000_000) -> float:
    """Single-thread speed: million Python loop iterations per second."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    return iters / 1e6 / (time.perf_counter() - t0)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_mem_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants. Python
    processes count their proportional set size, so pages shared
    between them (the workers pyspark forks from one daemon) are split
    among them instead of counted once per process. The JVM counts its
    resident set from ``statm``: its own pages are private, and
    ``smaps_rollup`` of a multi-GB JVM costs ~40 ms of kernel time under
    the JVM's memory-map lock, which would stall the program measured.
    A child the JVM has spawned but that has not yet exec'd still runs
    in the JVM's address space and would count it twice: skipped."""
    total_kb = 0
    stack = [(pid, None)]
    while stack:
        p, parent_exe = stack.pop()
        try:
            exe = os.readlink(f"/proc/{p}/exe")
            if exe.endswith("/java"):
                if exe == parent_exe:
                    continue
                with open(f"/proc/{p}/statm") as f:
                    total_kb += int(f.read().split()[1]) * _PAGE_KB
            else:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack += [(int(c), exe) for c in f.read().split()]
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024.0


class MemorySampler(threading.Thread):
    """Samples this process tree's memory (driver, JVM, Python workers)."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, _tree_mem_mb(os.getpid()))
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


# -- session -----------------------------------------------------------------
def session_env(work: str) -> dict[str, str]:
    # Two task slots leave the other cores to the JVM's JIT and GC
    # threads and the Python driver: on a 4-vCPU host, local[4] runs
    # spread 2x in op latency from run to run, local[2] runs ~5%, and
    # local[1] is slower and noisier again.
    cpus = min(2, os.cpu_count() or 1)
    mem_mb = min(2048, _mem_total_mb() // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher's too: no hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    for d in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    return env


def start_spark(work: str):
    from us_accidents_bigdata_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # initial heap = max heap, touched at start, so the JVM's
            # share of peak RSS does not depend on how much of the heap
            # the collector happened to use before the peak was sampled
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the JVM pyspark launched exits when its stdin closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


# -- metrics -----------------------------------------------------------------
def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def latency_summary(samples) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s.op, []).append(s.seconds)
    return {
        "op_p50_s": _geomean(statistics.median(v) for v in by_op.values()),
        "op_p90_s": _geomean(_p90(v) for v in by_op.values()),
        "rows_per_s": sum(s.rows for s in samples) / sum(s.seconds for s in samples),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import numpy as np

    import workloads
    from layers import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    env = session_env(work)
    os.environ.update(env)
    info = {
        "workload": args.workload, "seed": args.seed,
        "spark_graft_cpus": int(env["SPARK_GRAFT_CPUS"]),
        "spark_graft_driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "cpu_probe_start_miters": round(probe_miters(), 2),
        "loadavg_start": os.getloadavg(),
    }
    mem = MemorySampler()
    mem.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        spark.range(1).count()
        jvm_s = time.perf_counter() - t0
        tracer = Tracer(spark, int(env["SPARK_GRAFT_CPUS"]))
        ctx = workloads.Ctx(spark=spark, seed=args.seed, work=work, tracer=tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)

        # the fixture build is the repeatable part of set-up: build it
        # three times and count the median
        fixture_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            wl.fixture()
            fixture_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.setup()
        setup_rest_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.reference()
        reference_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm()
        setup_rest_s += time.perf_counter() - t0
        setup_s = jvm_s + statistics.median(fixture_s) + setup_rest_s
        if ctx.errors:
            raise RuntimeError("set-up failed: " + "; ".join(ctx.errors))

        layers = wl.layers(tracer) if args.trace else []
        rng = np.random.default_rng(args.seed)
        # with --trace 1: pass 0 untraced (warms the JVM where set-up has
        # no warm pass), then traced and untraced passes alternate, at
        # least traced-untraced-traced so that warm-up still going on
        # after pass 0 does not favour either side
        passes: list[list] = []
        min_passes = max(4, wl.min_passes) if args.trace else wl.min_passes
        t_loop = time.perf_counter()
        deadline = t_loop + args.seconds
        while len(passes) < min_passes or time.perf_counter() < deadline:
            is_traced = bool(args.trace and len(passes) % 2 == 1)
            if is_traced:
                tracer.start()
            passes.append(wl.run_pass(rng))
            if is_traced:
                tracer.stop()
        tracer.unwrap_all()
        peak_mem = mem.stop()
        all_samples = [x for p in passes for x in p]
        info.update(
            jvm_start_s=round(jvm_s, 3),
            fixture_s=[round(x, 3) for x in fixture_s],
            setup_rest_s=round(setup_rest_s, 3), reference_s=round(reference_s, 3),
            passes=len(passes), timed_s=round(time.perf_counter() - t_loop, 3),
            ops_timed=len(all_samples), layers=layers,
            cpu_probe_end_miters=round(probe_miters(), 2),
            loadavg_end=os.getloadavg(), errors=ctx.errors[:20],
            op_samples_s={
                op: [round(x.seconds, 4) for x in all_samples if x.op == op]
                for op in sorted({x.op for x in all_samples})
            },
        )
        failed = sum(not s.ok for s in all_samples)
        attempted = len(all_samples)
        ok_frac = (attempted - failed) / attempted
        if args.trace:
            traced = [x for p in passes[1::2] for x in p]
            untraced = [x for p in passes[2::2] for x in p]
            metrics = trace_metrics(tracer, wl, untraced, traced, len(passes) // 2)
            metrics["session.start_s"]["value"] = jvm_s
            metrics["sources.fixture_s"]["value"] = statistics.median(fixture_s)
        else:
            quality = statistics.fmean(ctx.quality) if ctx.quality else ok_frac
            lat = latency_summary([s for s in all_samples if s.ok] or all_samples)
            values = dict(
                setup_s=setup_s, peak_rss_mb=peak_mem, ok_op_frac=ok_frac,
                result_quality=quality, **lat,
            )
            metrics = {n: {"value": values[n], "unit": u} for n, u, _, _ in E2E}
        print(json.dumps({"info": info}))
        print(json.dumps({
            "correct": failed == 0 and not ctx.errors,
            "attempted": attempted, "failed": failed, "metrics": metrics,
        }))
        return 0
    finally:
        if mem.is_alive():
            mem.stop()
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)


def trace_metrics(tracer, wl, untraced, traced, n_traced: int) -> dict:
    per_pass = max(n_traced, 1)
    values: dict[str, float] = {}
    for name, layer, count in _per_layer_names():
        if layer == "all":
            v = sum(tracer.totals[l][count] for l in list(tracer.totals)) / per_pass
        else:
            m = tracer.layer_metrics(layer)
            v = m[count] if count in ("task_cpu_frac", "slot_util") else m[count] / per_pass
        values[name] = v
    values["plans.build_s"] = tracer.layer_metrics("plans.build")["wall_s"] / per_pass
    batch_mb = getattr(wl, "batch_bytes", 0) / (1024.0 * 1024.0)
    out_mb = tracer.layer_metrics("streaming")["output_mb"] / per_pass
    values["streaming.write_amp"] = out_mb / batch_mb if batch_mb else 0.0
    a = latency_summary(untraced)["op_p50_s"]
    b = latency_summary(traced)["op_p50_s"]
    values["trace.overhead_frac"] = b / a - 1.0
    return {n: {"value": values.get(n, 0.0), "unit": u} for n, u in per_layer_spec()}


if __name__ == "__main__":
    sys.exit(main())
