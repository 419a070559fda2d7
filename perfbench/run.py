"""spark_geo benchmark: one workload per invocation, from the repo root.

    python3 perfbench/run.py --workload cli_job --seed 1 --seconds 20 --trace 0

Runs in one process on local[4]; the process is pinned to 4 cores.

1. Set-up: three rounds of (fresh session with package ship, input
   parquet write), median taken, plus the workload's warm-up calls.
2. Timed calls into the workload's public entry point for ``--seconds``
   (at least three), each after a full GC of the driver JVM; each output
   is checked against a NumPy reference outside the timing.
3. ``--trace 1`` then runs a second session with Spark's event log and
   layer spans on, and reports the per-layer metrics instead.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  Scratch files go to ``.perfbench/`` in the current directory.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workloads import WORKLOADS  # noqa: E402

CORES = 4
SETUP_ROUNDS = 3
MIN_ITERS = 3

# name -> (unit, better, the end-to-end metric and workloads it should move)
END_TO_END = {
    "setup_s": ("s", "lower", "median of the set-up rounds"),
    "job_s": ("s", "lower", "median seconds of one call into the entry point through the sink"),
    "rows_per_s": ("1/s", "higher", "input rows / job_s"),
    "peak_rss_mb": ("MB", "lower", "median over timed calls of the peak resident memory of the "
                    "JVM + Python-worker tree, shared pages counted once (summed PSS)"),
}
PER_LAYER = {
    "trace_overhead_s": ("s", "lower", "traced job_s - untraced job_s"),
    "session.get_spark_s": ("s", "lower", "setup_s, every workload"),
    "pipeline.geocode_s": ("s", "lower", "job_s on cli_job"),
    "pipeline.tagged_ratio": ("ratio", "higher", "job_s on cli_job"),
    "join.build_s": ("s", "lower", "job_s on cli_job"),
    "join.probe.python_run_s": ("s", "lower", "job_s on cli_job"),
    "join.probe.python_start_s": ("s", "lower", "job_s on cli_job"),
    "join.probe.arrow_sent_mb": ("MB", "lower", "job_s on cli_job"),
    "join.probe.arrow_recv_mb": ("MB", "lower", "job_s on cli_job"),
    "join.probe.rows_in": ("count", "lower", "job_s on cli_job"),
    "join.probe.rows_out": ("count", "lower", "job_s on cli_job"),
    "join.probe.hit_ratio": ("ratio", "higher", "job_s on cli_job"),
    "functions.udf_python_run_s": ("s", "lower", "job_s on cli_job; ~0 on knn_clustered"),
    "functions.udf_arrow_sent_mb": ("MB", "lower", "job_s on cli_job"),
    "functions.udf_arrow_recv_mb": ("MB", "lower", "job_s on cli_job"),
    "functions.udf_rows": ("count", "lower", "job_s on cli_job; 0 on knn_clustered"),
    "knn.build_s": ("s", "lower", "job_s on knn_clustered"),
    "knn.python_run_s": ("s", "lower", "job_s on knn_clustered"),
    "knn.rows_out": ("count", "higher", "job_s on knn_clustered"),
    "kernel.encode_points_s": ("s", "lower", "job_s on cli_job (st_point)"),
    "kernel.probe_batch_s": ("s", "lower", "job_s on cli_job (WKB decode + point probe)"),
    "engine.executor_run_s": ("s", "lower", "job_s, every workload"),
    "engine.executor_cpu_s": ("s", "lower", "job_s, every workload"),
    "engine.cpu_busy_ratio": ("ratio", "higher", "job_s, every workload"),
    "engine.gc_s": ("s", "lower", "job_s and peak_rss_mb, every workload"),
    "engine.shuffle_write_mb": ("MB", "lower", "job_s, every workload"),
    "engine.shuffle_read_mb": ("MB", "lower", "job_s, every workload"),
    "engine.spill_mb": ("MB", "lower", "job_s and peak_rss_mb, every workload"),
    "engine.jobs": ("count", "lower", "job_s, every workload"),
    "engine.stages": ("count", "lower", "job_s, every workload"),
    "engine.tasks": ("count", "lower", "job_s, every workload"),
    "engine.python_crossings": ("count", "lower", "job_s, every workload"),
    "io.bytes_written_mb": ("MB", "lower", "job_s on cli_job"),
    "io.files_written": ("count", "lower", "job_s on cli_job"),
    "io.records_written": ("count", "lower", "job_s on cli_job"),
    "io.stored_bytes_per_row": ("B", "lower", "job_s on cli_job"),
    "cli.stats_job_s": ("s", "lower", "job_s on cli_job"),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_environment(work: str) -> int:
    """Keep every file Spark, the JVM and Python write under ``work``,
    size the driver for a 15 GB box and pin to CORES cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GEO_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"   # spark-submit's launcher JVM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd()] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile
    tempfile.tempdir = None
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    os.sched_setaffinity(0, cpus)
    return len(cpus)


def session_conf(work: str, events: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xmn256m: a fixed young generation.  G1 otherwise sizes it from
        # measured pause times, so the heap the driver touches, and with it
        # peak_rss_mb, moves with the host's load rather than the program.
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp.
        "spark.driver.extraJavaOptions": "-Xmn256m -XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
    }
    if events:
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false"})
    return conf


class Runner:
    def __init__(self, workload, cores: int, work: str, seconds: float):
        self.wl = workload
        self.cores = cores
        self.work = work
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.spark = None

    def start(self, events: str | None = None) -> float:
        from spark_geo.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark(cores=self.cores, app=f"perfbench-{self.wl.name}",
                               extra=session_conf(self.work, events))
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def call(self, k):
        """One timed call; (seconds, handle) or (None, None) on failure."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            h = self.wl.job(self.spark, k)
            dt = time.perf_counter() - t0
            bad = self.wl.check_iteration(h)
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
            return None, None
        if bad:
            self.failed += 1
            self.problems.extend(bad)
        return dt, h

    def setup(self, rounds: int):
        """``rounds`` x (fresh session + package ship, input parquet
        write), then the workload's warm-up calls in the last session,
        which stays up.  Set-up time is the median round plus the warm-up; returns
        it with the round times and the get_spark times."""
        rounds_s, starts = [], []
        for r in range(rounds):
            if r:
                self.stop()
                shutil.rmtree(os.path.join(self.work, f"inputs{r - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            starts.append(self.start())
            self.wl.write(os.path.join(self.work, f"inputs{r}"))
            rounds_s.append(time.perf_counter() - t0)
        self.wl.reference(self.spark)
        warm = []
        for w in range(self.wl.warm_calls):
            t0 = time.perf_counter()
            self.call(f"warm{w}")
            warm.append(time.perf_counter() - t0)
        return statistics.median(rounds_s) + sum(warm), rounds_s + warm, starts

    def compact_heap(self) -> None:
        """Full GC in the driver JVM before a timed call.  G1 then hands
        the free heap back to the OS, so every call starts from the same
        heap and its peak memory does not depend on when G1 last ran a
        marking cycle over the garbage of earlier calls."""
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)   # G1 uncommits the freed regions concurrently

    def measure(self, tree, tag: str, seconds: float, min_iters: int, spans=None):
        """Timed calls for ``seconds`` (at least ``min_iters``)."""
        times, peaks, cpu, last = [], [], [], None
        deadline = time.perf_counter() + seconds
        k = 0
        while k < min_iters or time.perf_counter() < deadline:
            if spans is not None:
                spans.seconds.clear()
            self.spark.sparkContext.setJobGroup(f"{tag}{k}", f"{tag}{k}")
            self.compact_heap()
            tree.reset()
            cpu0 = tree.cpu_s()
            dt, h = self.call(f"{tag}{k}")
            if dt is not None:
                times.append(dt)
                peaks.append(tree.peak_mb())
                log(f"# call {k}: {dt:.3f} s, peak {peaks[-1]:.0f} MB, per process {tree.at_peak}")
                cpu.append(tree.cpu_s() - cpu0)
                last = (f"{tag}{k}", h, dict(spans.seconds) if spans else {})
            k += 1
        return times, peaks, cpu, last


def run(args) -> dict:
    import observe

    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = prepare_environment(work)
    wl = WORKLOADS[args.workload](args.seed)
    wl.generate()

    import numpy
    import pyarrow
    import pyspark
    log("# env " + json.dumps({
        "workload": wl.name, "seed": args.seed, "nproc": os.cpu_count(),
        "cores_pinned": cores, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "python": sys.version.split()[0], "inputs": wl.props}))

    runner = Runner(wl, cores, work, args.seconds)
    metrics = {}
    try:
        with observe.ProcTree() as tree:
            setup_s, setups, starts = runner.setup(SETUP_ROUNDS)
            st0 = observe.steal_s()
            times, peaks, cpu, last = runner.measure(tree, "job", args.seconds, MIN_ITERS)
            steal = observe.steal_s() - st0
            e2e = {"setup_s": setup_s}
            if times:
                e2e.update(job_s=statistics.median(times),
                           rows_per_s=wl.rows / statistics.median(times),
                           peak_rss_mb=statistics.median(peaks))
            log("# end_to_end " + json.dumps({
                **e2e, "job_samples": times, "setup_rounds_and_warmup": setups,
                "call_cpu_s": cpu, "steal_s": steal,
                "failed_frac": runner.failed / max(runner.attempted, 1)}))
            if args.trace and times:
                metrics = traced(runner, tree, e2e, starts, root)
            else:
                metrics = e2e
    finally:
        runner.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for p in runner.problems:
        log("# problem " + p)
    table = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": table[k][0]}
                    for k in table},
    }


def traced(runner: Runner, tree, e2e: dict, starts: list, root: str) -> dict:
    """Second session with the event log on; per-layer metrics."""
    import layers
    import observe

    wl = runner.wl
    out_dir = os.path.join(root, ".perfbench", "trace", f"{wl.name}-{wl.seed}")
    shutil.rmtree(out_dir, ignore_errors=True)
    events = os.path.join(out_dir, "events")
    runner.stop()
    drop_udf_caches()
    runner.start(events)
    spans = observe.Spans()
    from spark_geo import join as SJ, knn as KNN
    with spans.wrap(SJ, "broadcast_spatial_join", "join.build_s"), \
            spans.wrap(KNN, "nearest_lonlat", "knn.build_s"):
        runner.spark.sparkContext.setJobGroup("warm", "warm")
        for w in range(wl.warm_calls):
            runner.call(f"twarm{w}")
        times, _, cpu, last = runner.measure(tree, "trace", runner.seconds, 2, spans)
    side = layers.alone(runner.spark, wl)
    runner.stop()
    if last is None:
        return {}

    group = observe.GroupStats(observe.read_events(events), last[0])
    layers.save_plans(group, out_dir)
    m = layers.from_group(wl, group)
    m.update(side)
    m.update(last[2])
    m["trace_overhead_s"] = statistics.median(times) - e2e["job_s"]
    m["session.get_spark_s"] = statistics.median(starts)
    m["engine.cpu_busy_ratio"] = statistics.median(
        c / (t * runner.cores) for c, t in zip(cpu, times))
    if wl.name == "cli_job":
        files, size = wl.output_files(last[1][2])
        m["io.files_written"] = files
        m["io.bytes_written_mb"] = size / 2**20
        m["io.stored_bytes_per_row"] = size / max(m["io.records_written"], 1)
    log(f"# plans saved under {out_dir}")
    return m


def drop_udf_caches() -> None:
    """A pandas UDF object caches its JVM function, and with it the
    accumulator of the SparkContext it was first used in.  After a
    restart its tasks would report to the stopped context, so drop the
    caches of the program's module-level UDFs."""
    from spark_geo import functions as SG
    for v in vars(SG).values():
        u = getattr(v, "_unwrapped", None)
        if u is not None:
            u._judf_placeholder = None


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(os.getcwd(), "spark_geo", "__init__.py")):
        log("error: run from the repository root; spark_geo/ is not here")
        return 2
    sys.path.insert(0, os.getcwd())
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
