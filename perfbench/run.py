"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 10 --trace 0

Runs one workload (see ``BENCHMARK.json`` and ``perfbench/README.md``) in
one process on ``local[nproc]``: set-up (inputs, and the DuckDB reference
computed while the session starts), then whole cycles until ``--seconds``
of cycle time have passed.  The first cycle runs in the fresh session, as
a scheduled daily run does.  Every op is checked against figures computed
independently at set-up.  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is the run
context and the workload's own figures; everything else goes to standard
error.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T0 = time.time()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
PACKAGE = "airflow_etl_minio_to_postgres_spark"
DRIVER_MEM = "1g"         # driver heap; the inputs need far less


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_root: str) -> dict:
    """Environment every run uses; everything it writes stays under
    ``work_root`` inside the checkout."""
    tmp = os.path.join(work_root, "tmp")
    local = os.path.join(work_root, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # Python workers import the package by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+UseParallelGC",
    }


def process_tree() -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this process
    and its descendants: the driver JVM and its Python workers."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stats[int(pid)] = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    me, tree = os.getpid(), []
    for pid, fields in stats.items():
        p = pid
        while p and p != me and p in stats:
            p = int(stats[p][1])
        if p == me:
            tree.append(fields)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children included."""
    ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in process_tree())
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak summed RSS of the process tree, sampled from ``/proc`` every
    0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_event = threading.Event()

    @staticmethod
    def _descendants_rss() -> int:
        return sum(int(f[21]) for f in process_tree()) * os.sysconf("SC_PAGE_SIZE")

    def run(self):
        while not self._stop_event.wait(0.2):
            self.peak = max(self.peak, self._descendants_rss())

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def run_context() -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": nproc(), "loadavg_start": os.getloadavg(),
            "pyspark": pyspark.__version__, "git_commit": commit}


def stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_cycle(wl, tracer, traced: bool) -> dict:
    """Run one cycle, then check each of its ops outside the timed region.
    A cycle that raises counts all of its ops as failed."""
    tracer.enabled = traced
    first_span = len(tracer.spans)
    tracing_s = tracer.overhead_s
    cpu = tree_cpu_s()
    t = time.time()
    try:
        with tracer.span("client.cycle"):
            ops = wl.cycle()
    except Exception:
        log(traceback.format_exc())
        ops = None
    wall = time.time() - t
    cpu = tree_cpu_s() - cpu
    tracer.enabled = False
    tracer.resolve()
    cycle = {"wall": wall, "cpu": cpu, "spans": (first_span, len(tracer.spans)),
             "tracing_s": tracer.overhead_s - tracing_s, "attempted": 1, "failed": 1}
    if ops is not None:
        cycle["attempted"], cycle["failed"] = len(ops), 0
        for op, check in ops:
            try:
                check()
            except Exception:
                log(f"op {op} failed:\n{traceback.format_exc()}")
                cycle["failed"] += 1
    return cycle


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-check")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one output row before it is checked (self-check only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        log(f"perfbench: package {PACKAGE!r} not found next to {BENCH_DIR}")
        return 2
    sys.path[:0] = [BENCH_DIR, REPO]
    import metrics
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2

    work_root = os.path.join(BENCH_DIR, "_work", f"run-{os.getpid()}")
    shutil.rmtree(work_root, ignore_errors=True)
    extra_conf = pin_environment(work_root)
    sampler = RssSampler()
    sampler.start()
    spark = None
    ticks = cpu_ticks()
    try:
        context = run_context()
        from spans import Tracer

        from airflow_etl_minio_to_postgres_spark.session import get_spark

        wl = workloads.WORKLOADS[args.workload](
            args.seed, args.scale, os.path.join(BENCH_DIR, "_cache"), work_root,
            corrupt=args.corrupt)
        t = time.time()
        wl.prepare()
        prep_s = time.time() - t
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(wl.oracle)   # DuckDB works while the JVM starts
            t = time.time()
            spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
            spark.sparkContext.setLogLevel("ERROR")
            get_spark_s = time.time() - t
            oracle.result()
        wl.spark = spark
        wl.tracer = tracer = Tracer(spark, enabled=False)
        setup_s = time.time() - T0
        log(f"setup {setup_s:.2f}s: prep {prep_s:.2f}s session {get_spark_s:.2f}s")

        # No untimed warm-up: a scheduled daily run is a fresh process, and
        # one first cycle fits the run-time budget; see README.md.
        cycles = [run_cycle(wl, tracer, traced=bool(args.trace))]
        while sum(c["wall"] for c in cycles) < args.seconds:
            cycles.append(run_cycle(wl, tracer, traced=bool(args.trace)))
        peak = sampler.stop()
        context["loadavg_end"] = os.getloadavg()
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        context["steal_share"] = steal / total
        log(f"cycles: {[round(c['wall'], 3) for c in cycles]}")
        attempted = sum(c["attempted"] for c in cycles)
        failed = sum(c["failed"] for c in cycles)

        walls = [c["wall"] for c in cycles]
        calls = [call for c in cycles for call in metrics.top_calls(tracer, c)]
        figures = wl.figures(walls, calls)
        if args.trace:
            units = metrics.per_layer_units(workloads.WORKLOADS.values())
            values = metrics.per_layer(tracer, cycles, wl, units)
            values.update(figures)
            # Tracing costs only the job-group calls made inside the timed
            # cycle; counters are read after it.
            values["trace.overhead_s"] = statistics.median(c["tracing_s"] for c in cycles)
            values["trace.overhead_share"] = values["trace.overhead_s"] / statistics.median(walls)
            values["session.get_spark.wall_s"] = get_spark_s
            values["failed_op_share"] = failed / attempted
            out_dir = os.path.join(BENCH_DIR, "_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"context": context, "cycles": cycles, "spans": tracer.dump()}, fh)
        else:
            units = metrics.END_TO_END_UNITS
            values = {
                "setup_s": setup_s,
                "run_cpu_s": statistics.median(c["cpu"] for c in cycles),
                "peak_rss_mb": peak / 2**20,
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
        detail = {
            "context": context,
            "figures": {k: {"value": v, "unit": metrics.WORKLOAD_UNITS[k]}
                        for k, v in figures.items()},
            "failed_op_share": failed / attempted,
        }
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work_root, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
