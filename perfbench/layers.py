"""Per-layer metrics: Spark operator and task metrics of one traced call,
plus layers timed alone (geocode as its own job, and the NumPy kernels
behind st_point and the broadcast probe, single-threaded on one
Arrow-batch-sized array from the workload's generator)."""

from __future__ import annotations

import os
import statistics
import time

import gen

MB = 2**20
KERNEL_ROWS = 65_536     # one Arrow batch, what a Python worker sees
KERNEL_REPS = 5


def _sum(nodes, metric: str) -> float:
    return float(sum(n.metrics.get(metric, 0.0) for n in nodes))


def _python_side(nodes) -> dict:
    return {
        "run_s": _sum(nodes, "time to run Python workers"),
        "start_s": _sum(nodes, "time to start Python workers")
        + _sum(nodes, "time to initialize Python workers"),
        "sent_mb": _sum(nodes, "data sent to Python workers") / MB,
        "recv_mb": _sum(nodes, "data returned from Python workers") / MB,
        "rows_out": _sum(nodes, "number of output rows"),
        "rows_in": float(sum(n.rows_in() for n in nodes)),
    }


def from_group(wl, g) -> dict:
    """Metrics of one traced call, read from its job group."""
    t = g.task
    m = {
        "engine.executor_run_s": t["run_s"],
        "engine.executor_cpu_s": t["cpu_s"],
        "engine.gc_s": t["gc_s"],
        "engine.shuffle_write_mb": t["shuffle_write_b"] / MB,
        "engine.shuffle_read_mb": t["shuffle_read_b"] / MB,
        "engine.spill_mb": t["spill_b"] / MB,
        "engine.jobs": g.jobs,
        "engine.stages": g.stages_run,
        "engine.tasks": g.tasks,
        "engine.python_crossings": len(g.python_nodes()),
        "io.records_written": t["out_records"],
    }
    udf = _python_side(g.nodes("ArrowEvalPython", "BatchEvalPython"))
    m.update({"functions.udf_python_run_s": udf["run_s"],
              "functions.udf_arrow_sent_mb": udf["sent_mb"],
              "functions.udf_arrow_recv_mb": udf["recv_mb"],
              "functions.udf_rows": udf["rows_out"]})
    mp = _python_side(g.nodes("MapInPandas"))
    if wl.name == "cli_job":
        m.update({"join.probe.python_run_s": mp["run_s"],
                  "join.probe.python_start_s": mp["start_s"],
                  "join.probe.arrow_sent_mb": mp["sent_mb"],
                  "join.probe.arrow_recv_mb": mp["recv_mb"],
                  "join.probe.rows_in": mp["rows_in"],
                  "join.probe.rows_out": mp["rows_out"],
                  "join.probe.hit_ratio": mp["rows_out"] / max(mp["rows_in"], 1),
                  # run_with_checkpoint's last query is the stats re-read of out/data
                  "cli.stats_job_s": g.exec_seconds[-1] if g.exec_seconds else 0.0})
    if wl.name == "knn_clustered":
        m.update({"knn.python_run_s": mp["run_s"], "knn.rows_out": mp["rows_out"]})
    return m


def _median_time(fn, reps: int = KERNEL_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def alone(spark, wl) -> dict:
    """Layers timed on their own: the geocode projection as one Spark
    job, and the NumPy kernels in this process."""
    from pyspark.sql import functions as F
    from spark_geo import join as SJ, pipeline as PL
    from spark_geo.kernel import wkb
    from spark_geo.kernel.strtree import STRtree

    m = {}
    if wl.name == "cli_job":
        spark.sparkContext.setJobGroup("geocode", "geocode")
        pages = spark.read.parquet(wl.path("pages"))
        both = F.col("lat").isNotNull() & F.col("lon").isNotNull()
        t0 = time.perf_counter()
        tagged, total = PL.geocode(pages).agg(
            F.count(F.when(both, 1)), F.count(F.lit(1))).collect()[0]
        m["pipeline.geocode_s"] = time.perf_counter() - t0
        m["pipeline.tagged_ratio"] = tagged / max(total, 1)

    lon, lat, _ = gen.points(wl.seed, KERNEL_ROWS)
    wkbs = gen.point_wkb(lon, lat).to_numpy(zero_copy_only=False)
    layer = PL.make_world_layer(spark).select("geom").collect()
    tree = STRtree([None if r[0] is None else wkb.loads(r[0]) for r in layer])
    m["kernel.encode_points_s"] = _median_time(lambda: wkb.encode_points(lon, lat))
    m["kernel.probe_batch_s"] = _median_time(
        lambda: SJ.probe_batch(tree, wkbs, predicate="intersects"))
    return m


def save_plans(g, out_dir: str) -> None:
    """Write each SQL execution's final formatted plan of the traced call."""
    os.makedirs(out_dir, exist_ok=True)
    for exec_id, text in g.descriptions:
        with open(os.path.join(out_dir, f"plan_{exec_id:03d}.txt"), "w") as f:
            f.write(text)
