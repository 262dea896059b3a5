"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_run --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --all --seed 1     # every workload, untraced and traced

Run from the root of a checkout. One process is one run: it starts a
Spark session sized to the machine, sets up the workload from the seed
(untimed, but reported as ``setup_s``), runs passes over the workload's
ops until ``--seconds`` of op time have elapsed (always at least one
pass), checks every op's output untimed, and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything it writes goes under
``.perfbench_work/`` in the checkout, which it empties first.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "youtube_analytics_lakehouse_databricks_spark"
WORK = os.path.join(ROOT, ".perfbench_work")


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants: the
    Python driver, the JVM and the JVM's Python workers."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # raced a process exit
    total, frontier = 0, [os.getpid()]
    while frontier:
        total += sum(rss.get(p, 0) for p in frontier)
        frontier = [c for c, p in parent.items() if p in frontier]
    return total * page / 2**20


class PeakRss:
    """Samples ``tree_rss_mb`` on a thread from ``with`` entry until
    ``stop`` or exit."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _run(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()


def start_spark(work: str):
    """A session sized to this machine: one local core per CPU, as many
    shuffle partitions, a quarter of RAM (at most 2 GiB) for the driver
    heap, and every scratch path inside ``work``. The repo root goes on
    PYTHONPATH so the JVM's Python workers can unpickle engine UDFs."""
    nproc = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    from youtube_analytics_lakehouse_databricks_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": f"{min(2048, ram_mb // 4)}m",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def job_counter(spark):
    """Next job id the scheduler will assign: the count of jobs this
    session has submitted, from any thread or job group."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: dag.nextJobId()


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000


def measure(spark, args, work: str, started: float, load_1m: float, rss: PeakRss) -> tuple[dict, list[str], str]:
    """Set up, run the passes, then check every op's output; returns
    (result, problems, summary)."""
    import bench
    import metrics
    from spans import Tracer
    from workloads import WORKLOADS, headline

    wl = WORKLOADS[args.workload](spark, args.seed, work)
    wl.setup()
    tracer = None
    if args.trace:
        tracer = Tracer(job_counter(spark))
        wl.trace(tracer)
    gc0 = jvm_gc_s(spark)
    steal0, busy0, own0 = bench._steal_sec(), bench._machine_busy_sec(), bench._tree_cpu_sec()
    setup_s = time.perf_counter() - started

    lat: list[float] = []
    pass_s: list[float] = []
    outputs: list[tuple[str, object]] = []
    attempted = failed = 0
    problems: list[str] = []
    m0 = time.perf_counter()
    try:
        while not pass_s or time.perf_counter() - m0 < args.seconds:
            this_pass = 0.0
            for name, fn in wl.ops().items():
                attempted += 1
                if tracer:
                    tracer.op = attempted
                span = tracer.span(wl.span_of(name)) if tracer else contextlib.nullcontext()
                t = time.perf_counter()
                try:
                    with span:
                        outputs.append((name, fn()))
                    lat.append(time.perf_counter() - t)
                except Exception as e:  # an op that raises is a failed op
                    failed += 1
                    problems.append(f"{name}: {type(e).__name__}: {str(e)[:400]}")
                this_pass += time.perf_counter() - t
            pass_s.append(this_pass)
    finally:
        if tracer:
            tracer.close()
    wall = time.perf_counter() - m0
    cpu_s = (os.cpu_count() or 1) * wall
    foreign = (bench._machine_busy_sec() - busy0) - (bench._tree_cpu_sec() - own0)
    foreign_frac = max(0.0, foreign) / cpu_s
    steal_frac = (bench._steal_sec() - steal0) / cpu_s
    gc_s = jvm_gc_s(spark) - gc0
    # The checks are the benchmark's own work (DuckDB oracles, audit
    # reads): they run after the passes, untimed and outside the memory
    # peak. An op whose check fails or raises is a failed op.
    rss.stop()
    c0 = time.perf_counter()
    for name, out in outputs:
        try:
            bad = wl.check(name, out)
        except Exception as e:
            bad = [f"check raised {type(e).__name__}: {str(e)[:400]}"]
        if bad:
            failed += 1
            problems += [f"{name}: {p}" for p in bad]
    check_s = time.perf_counter() - c0
    lat = lat or [wall]
    if tracer:
        values = metrics.summarize(tracer, headline(), attempted, len(pass_s))
        values["session.jvm_gc_s"] = gc_s
        values["traced.pass_s"] = statistics.median(pass_s)
        units = metrics.per_layer_names(list(headline()))
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_s),
            "peak_rss_mb": rss.peak,
        }
        units = metrics.END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    # The machine's load is context for reading a run, not a metric:
    # nothing in the program moves it.
    summary = (
        f"# {args.workload} seed={args.seed} trace={args.trace}: {attempted} ops in "
        f"{len(pass_s)} pass(es), setup {setup_s:.2f} s, checks {check_s:.2f} s, "
        f"op median {statistics.median(lat):.3f} s, op max {max(lat):.3f} s; "
        f"box: loadavg_1m {load_1m:.2f} (before Spark starts), "
        f"foreign cpu {foreign_frac:.1%}, steal {steal_frac:.1%}"
    )
    return result, problems, summary


def run_one(args) -> int:
    started = time.perf_counter() - process_age_s()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_1m = os.getloadavg()[0]
    with PeakRss() as rss:
        spark = start_spark(work)
        try:
            result, problems, summary = measure(spark, args, work, started, load_1m, rss)
        finally:
            stop_spark(spark)
    for p in problems:
        print(f"FAILED {p}", file=sys.stderr)
    print(summary)
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process;
    prints each end-to-end metric with its unit, then the tracing
    overhead (traced minus untraced pass_s)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        out = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", w["name"], "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w['name']} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            out[trace] = json.loads(lines[-1])
            ok &= out[trace]["correct"]
        r = out[0]
        print(f"{w['name']}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} failed_frac={r['failed'] / r['attempted']:.3f}")
        for name, m in r["metrics"].items():
            print(f"  {name} = {m['value']:.4f} {m['unit']}")
        overhead = out[1]["metrics"]["traced.pass_s"]["value"] - r["metrics"]["pass_s"]["value"]
        print(f"  tracing overhead (traced - untraced pass_s) = {overhead:+.4f} s")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: {PACKAGE}/ and bench.py not found in {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    if args.all:
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
