#!/usr/bin/env python3
"""Gridding benchmark of verde_spark.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Runs one workload (see ``perfbench/workloads.py`` and ``BENCHMARK.json``)
as a closed loop: one client, one job at a time, in a ``local[nproc]``
session of this process. It checks the outputs of every pass and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics, which come from labelled calls into each verde_spark module and
from Spark's event log, parsed offline.

Everything the run writes stays under ``.perfbench_work/`` at the root of
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
#: at most this much of the physical memory goes to the driver heap
HEAP_SHARE = 0.25
HEAP_CAP_MB = 2048
#: a run that starts with more of the CPU busy or stolen than this is
#: marked contended
CONTENDED_BUSY = 0.25

LAYERS = (
    "sources.pages",
    "operators.blockreduce",
    "operators.spline",
    "operators.neighbors",
    "operators.masks",
    "operators.polygons",
    "model_selection",
    "checkpoint",
)
#: layers that run once per traced run, in a leg, not in every pass
LEG_LAYERS = ("operators.neighbors", "operators.masks", "operators.polygons",
              "model_selection", "checkpoint")
#: at most this many warm passes in a traced run, whose metrics have no
#: bound; an untraced run takes the workload's ``warmup_passes``
TRACE_WARMUP_PASSES = 3


def set_environment() -> None:
    """One BLAS/OpenMP thread per process, so local[n] uses n cores; the
    package and the temporary directory come from the checkout."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def cpu_shares(interval: float = 0.5) -> tuple:
    """Shares of all CPU time that were busy and stolen by the hypervisor
    over *interval* seconds, from /proc/stat."""

    def sample():
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:]]

    a = sample()
    time.sleep(interval)
    d = [y - x for x, y in zip(a, sample())]
    total = max(sum(d), 1)
    return 1.0 - (d[3] + d[4]) / total, d[7] / total


def calibration_s() -> float:
    """Seconds of a fixed single-threaded Python and NumPy task: the host's
    speed at the start of the run, for reading its timings."""
    import numpy as np

    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    m = np.random.default_rng(0).random((300, 300))
    for _ in range(20):
        m = m @ m
        m /= np.abs(m).max()
    return time.perf_counter() - t0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def host_block(nproc: int) -> dict:
    import numpy
    import pyspark

    busy, steal = cpu_shares()
    return {
        "nproc": nproc,
        "loadavg_start": list(os.getloadavg()),
        "cpu_busy_start": round(busy, 4),
        "cpu_steal_start": round(steal, 4),
        "contended": busy + steal > CONTENDED_BUSY,
        "calibration_s": round(calibration_s(), 4),
        "git_sha": git_sha(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "heap_mb": heap_mb(),
    }


def heap_mb() -> int:
    return min(HEAP_CAP_MB, int(mem_total_mb() * HEAP_SHARE))


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------


def start_session(cores: int, eventlog: str | None = None):
    from verde_spark import make_session

    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        # a local session sized to its cores, as the test suite's is
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # lower compile thresholds bring the JIT to steady state within a
        # few passes instead of twenty
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}"
        f" -Dderby.system.home={WORK / 'derby'} -XX:-UsePerfData"
        " -XX:CompileThresholdScaling=0.1",
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(eventlog).as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = make_session(f"local[{cores}]", "perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, keep_jvm: bool = False) -> None:
    """Stop the session; unless *keep_jvm*, also end the JVM and wait for
    it, so the next session starts cold."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if keep_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def _children() -> dict:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_memory_mb(spark) -> tuple:
    """Peak memory of the driver JVM and of the Python workers:
    ``(JVM pools, workers)``. The JVM part is the sum of the peak use of
    every JVM memory pool, heap and non-heap, except the young
    generation's eden: eden holds only new objects, and its peak is the
    size the collector gives it, which varies twofold between identical
    runs. The workers' part is the peak resident memory (VmHWM) of every
    process under the JVM (the Python daemon and workers)."""
    from pyspark import SparkContext

    factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = [p.getPeakUsage().getUsed() for p in factory.getMemoryPoolMXBeans()
             if "Eden" not in p.getName()]
    kids = _children()
    workers = []
    todo = list(kids.get(SparkContext._gateway.proc.pid, ()))
    while todo:
        pid = todo.pop()
        workers.append(_hwm_mb(pid))
        todo.extend(kids.get(pid, ()))
    return sum(pools) / 2**20, sum(workers)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Labels the benchmark's calls into one verde_spark module with a job
    group and the layer property, times them, and materializes each
    layer's output so the next span measures only its own layer."""

    enabled = True

    def __init__(self, spark):
        from eventlog import LAYER_KEY

        self.sc = spark.sparkContext
        self.key = LAYER_KEY
        self.spans: dict = {}
        self.rows: dict = {}
        self.cached: list = []

    @contextmanager
    def layer(self, name):
        self.sc.setJobGroup(name, f"perfbench layer {name}")
        self.sc.setLocalProperty(self.key, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append(time.perf_counter() - t0)
            for key in (self.key, "spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)

    def materialize(self, name, df):
        """Cache and count *df*; *name* records the count as the layer's
        output rows."""
        df = df.cache()
        n = df.count()
        if name:
            self.rows_out(name, n)
        self.cached.append(df)
        return df

    def rows_out(self, name, n):
        self.rows.setdefault(name, []).append(n)

    def release(self):
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------


class Ledger:
    """Attempted and failed passes. A pass fails on an exception or on any
    failed output check; the first good pass is the reference of the
    others."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.first = None

    def run(self, spark, tracer, thorough=False, step=None, check=None):
        """One timed pass plus its checks: ``(seconds, outcome)``, or
        ``(None, None)`` when the pass failed."""
        step = step or self.wl.run
        check = check or self.wl.check
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = step(spark, tracer)
            seconds = time.perf_counter() - t0
            fails = check(spark, out, self.first, thorough)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None
        finally:
            if tracer.enabled:
                tracer.release()
        if fails:
            print(f"{self.wl.name}: check failed: {'; '.join(fails)}", file=sys.stderr)
            self.failed += 1
            return None, None
        if self.first is None:
            self.first = out
        return seconds, out

    def loop(self, spark, tracer, seconds, min_passes=1):
        """Passes back to back until *seconds* have passed."""
        times, outs = [], []
        start = time.perf_counter()
        while len(times) < min_passes or time.perf_counter() - start < seconds:
            t, out = self.run(spark, tracer)
            if t is not None:
                times.append(t)
                outs.append(out)
            elif self.failed >= 3 and not times:
                break
        return times, outs


def metric(value, unit):
    return {"value": value, "unit": unit}


def tail(times):
    """Highest percentile with at least ten samples above it:
    ``(value, percentile)``, or ``(None, None)`` below eleven samples."""
    n = len(times)
    if n < 11:
        return None, None
    return sorted(times)[n - 11], 100.0 * (n - 10) / n


def local1_leg(ledger, spark, seconds):
    """Restart the session at local[1] in the same JVM, start its Python
    worker with a trivial job, and time passes for *seconds*."""
    from workloads import NullTracer

    stop_session(spark, keep_jvm=True)
    spark = start_session(1)
    spark.range(1).mapInPandas(lambda it: it, "id long").count()
    times, _ = ledger.loop(spark, NullTracer(), seconds)
    return spark, times


def measure(wl, args, nproc):
    """Untraced run: the end-to-end metrics. Set-up is a fresh JVM and
    session plus the first pass; that pass's NumPy oracles run after the
    clock stops."""
    from workloads import NullTracer, rmse

    ledger = Ledger(wl)
    t0 = time.perf_counter()
    spark = start_session(nproc)
    started = time.perf_counter() - t0
    t, _ = ledger.run(spark, NullTracer(), thorough=True)
    setup = started + t if t is not None else None
    ledger.loop(spark, NullTracer(), 0, min_passes=wl.warmup_passes)
    times, outs = ledger.loop(spark, NullTracer(), args.seconds, min_passes=3)
    jvm_mb, workers_mb = peak_memory_mb(spark)
    summary = {}
    stop_session(spark)
    if not times or setup is None:
        return ledger, None, summary
    wall = statistics.median(times)
    value, pct = tail(times)
    summary["wall_s_tail"] = (
        (value, f"s (p{pct:.0f} of {len(times)} passes)") if value is not None
        else (None, f"undefined: {len(times)} passes, fewer than 11")
    )
    summary["error_rate"] = (ledger.failed / ledger.attempted, "ratio")
    summary["peak_jvm_pools_mb"] = (jvm_mb, "MB")
    summary["peak_workers_rss_mb"] = (workers_mb, "MB")
    metrics = {
        "setup_s": metric(setup, "s"),
        "wall_s": metric(wall, "s"),
        "points_per_s": metric(wl.input_rows / wall, "1/s"),
        "grid_rmse": metric(statistics.median(rmse(o) for o in outs), "field"),
        "peak_rss_mb": metric(jvm_mb + workers_mb, "MB"),
        "success_rate": metric(1.0 - ledger.failed / ledger.attempted, "ratio"),
    }
    return ledger, metrics, summary


def trace(wl, args, nproc):
    """Traced run: the per-layer metrics. Untraced passes in a session
    without the event log, then, in a session of the same JVM that writes
    Spark's event log, traced passes and the workload's legs."""
    import eventlog
    from workloads import NullTracer, rmse

    logdir = WORK / "eventlog" / f"{wl.name}-{os.getpid()}"
    shutil.rmtree(logdir, ignore_errors=True)
    ledger = Ledger(wl)
    spark = start_session(nproc)
    ledger.run(spark, NullTracer(), thorough=True)
    ledger.loop(spark, NullTracer(), 0, min_passes=min(wl.warmup_passes, TRACE_WARMUP_PASSES))
    plain, _ = ledger.loop(spark, NullTracer(), args.seconds / 2, min_passes=2)
    stop_session(spark, keep_jvm=True)
    spark = start_session(nproc, eventlog=str(logdir))
    ledger.run(spark, NullTracer())  # starts the new session's Python workers
    tracer = Tracer(spark)
    traced, outs = ledger.loop(spark, tracer, args.seconds / 2, min_passes=2)
    leg = {}
    for step, check in wl.legs():
        out = ledger.run(spark, tracer, step=step, check=check)[1]
        leg.update(out.extra if out is not None else {})
    kernel = None
    if outs and hasattr(wl, "tile_oracle"):
        fails, groups, kernel_s, flops = wl.tile_oracle(outs[-1], all_tiles=True)
        if fails:
            print(f"{wl.name}: check failed: {'; '.join(fails)}", file=sys.stderr)
            ledger.failed += 1
        kernel = {
            "tiles": len(set(groups.points) & set(groups.nodes)),
            "halo_ratio": groups.exploded_rows / tracer.rows["operators.blockreduce"][-1],
            "kernel_flops": flops,
            "kernel_s": kernel_s,
        }
    summary = {"traced_passes": (len(traced), "count"), "plain_passes": (len(plain), "count")}
    if wl.scaling_leg and plain:
        spark, one = local1_leg(ledger, spark, args.seconds)
        if one:
            summary["wall_s_local1"] = (statistics.median(one), "s")
            summary["scaling_eff_1_4"] = (
                statistics.median(one) / (nproc * statistics.median(plain)), "ratio")
    stop_session(spark)
    if not traced or not plain:
        return ledger, None, {}
    logfile = min((f for f in logdir.iterdir() if f.is_file()), key=lambda f: f.stat().st_mtime)
    layers = eventlog.parse(str(logfile))
    shutil.rmtree(logdir, ignore_errors=True)
    summary["grid_rmse"] = (statistics.median(rmse(o) for o in outs), "field")
    if "knn_rmse" in leg:
        summary["knn_rmse"] = (leg["knn_rmse"], "field")
    if "resume_s" in leg:
        summary["checkpoint_write_s"] = (leg["write_s"], "s")
        summary["resume_s"] = (leg["resume_s"], "s")
    if "fold_r2" in leg:
        summary["cv_r2"] = (statistics.fmean(leg["fold_r2"]), "r2")
        summary["fold_r2"] = (leg["fold_r2"], "r2")
    return ledger, layer_metrics(wl, tracer, layers, traced, plain, kernel, leg), summary


def layer_metrics(wl, tracer, layers, traced, plain, kernel, leg):
    """Per-layer metrics, per traced pass (per leg for the layers a leg
    runs). A layer the workload does not run reports zeros."""
    import eventlog

    def stats(name):
        return layers.get(name, eventlog.LayerStats())

    def med(values):
        return statistics.median(values) if values else 0.0

    out = {"trace_overhead_s": metric(med(traced) - med(plain), "s")}
    for name in LAYERS:
        st = stats(name)
        per = 1 if name in LEG_LAYERS else len(traced)
        spans = tracer.spans.get(name, [])
        out.update({
            f"{name}.s": metric(med(spans), "s"),
            f"{name}.task_s": metric(st.task_s / per, "s"),
            f"{name}.jobs": metric(st.jobs / per, "count"),
            f"{name}.shuffle_bytes": metric(st.shuffle_write_bytes / per, "bytes"),
            f"{name}.spill_bytes": metric(st.spill_bytes / per, "bytes"),
            f"{name}.skew": metric(st.skew if spans else 0.0, "ratio"),
            f"{name}.rows_out": metric(med(tracer.rows.get(name, [])), "count"),
        })
    n = len(traced)
    out["sources.pages.input_bytes"] = metric(stats("sources.pages").input_bytes / n, "bytes")
    out["operators.blockreduce.blocks"] = metric(
        med(tracer.rows.get("operators.blockreduce", [])), "count")
    kernel = kernel or {}
    task_s = out["operators.spline.task_s"]["value"]
    out.update({
        "operators.spline.tiles": metric(kernel.get("tiles", 0), "count"),
        "operators.spline.halo_ratio": metric(kernel.get("halo_ratio", 0.0), "ratio"),
        "operators.spline.kernel_flops": metric(kernel.get("kernel_flops", 0.0), "flop"),
        "operators.spline.kernel_s": metric(kernel.get("kernel_s", 0.0), "s"),
        "operators.spline.outside_kernel_share": metric(
            1.0 - kernel["kernel_s"] / task_s if kernel and task_s > 0 else 0.0, "ratio"),
    })
    nb = stats("operators.neighbors")
    out["operators.neighbors.rounds"] = metric(nb.joins, "count")
    shape = getattr(wl, "knn_shape", (0, 0))
    out["operators.neighbors.candidates_per_result"] = metric(
        nb.join_rows / (shape[0] * shape[1] * wl.knn_k) if nb.joins else 0.0, "ratio")
    folds = med(tracer.rows.get("model_selection", []))
    out["model_selection.folds"] = metric(folds, "count")
    out["model_selection.driver_jobs"] = metric(
        out["model_selection.jobs"]["value"] / folds if folds else 0.0, "count")
    out["checkpoint.bytes_written"] = metric(leg.get("bytes_written", 0), "bytes")
    out["checkpoint.files_written"] = metric(leg.get("files_written", 0), "count")
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    host = host_block(nproc)
    wl = WORKLOADS[args.workload]()
    for sub in ("tmp", "spark-local"):
        os.makedirs(WORK / sub, exist_ok=True)
    wl.prepare(str(WORK), args.seed)
    ledger, metrics, summary = (trace if args.trace else measure)(wl, args, nproc)
    host["loadavg_end"] = list(os.getloadavg())
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed}))
    for name, (value, unit) in summary.items():
        print(f"{args.workload} {name} = {value} {unit}")
    if metrics is None:
        print(f"{args.workload}: no pass succeeded", file=sys.stderr)
        return 1
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    set_environment()
    sys.path.insert(0, str(ROOT))
    try:
        import verde_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: verde_spark is not importable from {ROOT}: {exc}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
