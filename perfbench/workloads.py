"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), writes
them as parquet (``write``), runs one timed call into the program's
public entry point (``job``) and checks outputs against the NumPy
references (``reference`` once per run, ``check_iteration`` after every
timed call, outside its timing).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

import gen
import reference as ref

RES = 7          # cell resolution of the pages pipeline


class Workload:
    name = ""
    # Untimed calls between set-up and timing.  On 4 cores a call keeps
    # getting faster for several calls after the session starts (JIT,
    # Python worker pool); each workload warms until its calls level off.
    warm_calls = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.tables: dict = {}
        self.props: dict = {}
        self.rows = 0
        self.root = ""

    def write(self, root: str) -> None:
        self.root = root
        for name, table in self.tables.items():
            gen.write_parquet(table, self.path(name))

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def reference(self, spark) -> None:
        """Compute the expected output (once per run)."""
        raise NotImplementedError

    def check_iteration(self, handle) -> list:
        """Problems found in one timed call's output."""
        raise NotImplementedError


class CliJob(Workload):
    """cli.main: the shipped job, pages parquet -> partitioned parquet."""
    name = "cli_job"
    n_pages = 50_000

    def generate(self):
        table, r = gen.pages(self.seed, self.n_pages)
        self.tables = {"pages": table}
        self.lon, self.lat = r["lon"], r["lat"]
        self.rows = self.n_pages
        self.props = dict(r["props"], right_layout="world layer: 24x12 boxes + concave + holed")

    def job(self, spark, k):
        from spark_geo import cli
        out = os.path.join(self.root, f"out{k}")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["--pages", self.path("pages"), "--out", out])
        return rc, buf.getvalue(), out

    def reference(self, spark):
        from spark_geo import pipeline as PL
        layer = PL.make_world_layer(spark).select("polygon_id", "geom").collect()
        self.want = ref.point_polygon_pairs(self.lon, self.lat, [r[0] for r in layer],
                                            [r[1] for r in layer])

    def check_iteration(self, handle):
        rc, text, out = handle
        lines = text.strip().splitlines()
        status = json.loads(lines[-1]) if lines else {}
        if rc != 0 or status.get("status") != "ok" \
                or len(status.get("processed_parts", [])) != 64:
            return [f"cli_job: exit {rc}, status {text.strip()[:200]!r}"]
        prev = getattr(self, "_last_out", None)
        if prev and prev != out:
            shutil.rmtree(prev, ignore_errors=True)
        self._last_out = out
        with open(os.path.join(out, "manifest.json")) as f:
            if json.load(f)["completed_parts"] != list(range(64)):
                return ["cli_job: manifest does not list all 64 parts"]
        t = ds.dataset(os.path.join(out, "data"), format="parquet",
                       partitioning="hive").to_table(columns=["url", "cell", "polygon_id"])
        page = np.array([int(u.rsplit("/", 1)[1]) for u in t["url"].to_pylist()], np.int64)
        if not ref.same_pairs(page, t["polygon_id"].to_numpy(), *self.want):
            return [f"cli_job: {len(page)} output rows, {len(self.want[0])} expected; pairs differ"]
        if not np.array_equal(t["cell"].to_numpy(),
                              ref.cell_ids(self.lon[page], self.lat[page], RES)):
            return ["cli_job: cell ids differ from the reference"]
        return []

    def output_files(self, out):
        files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, "data"))
                 for f in fs if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(f) for f in files)


class KnnClustered(Workload):
    """knn.nearest_lonlat: global pages -> POIs clustered at three cities."""
    name = "knn_clustered"
    n_left = 2_000
    n_right = 20_000
    n_sample = 1_000
    warm_calls = 6

    def generate(self):
        self.lx, self.ly, hot = gen.points(self.seed, self.n_left)
        self.rx, self.ry = gen.clustered_points(self.seed, self.n_right)
        self.tables = {
            "pages": pa.table({"page_id": np.arange(self.n_left, dtype=np.int64),
                               "lon": self.lx, "lat": self.ly}),
            "pois": pa.table({"poi_id": np.arange(self.n_right, dtype=np.int64),
                              "lon": self.rx, "lat": self.ry}),
        }
        self.rows = self.n_left + self.n_right
        self.props = {"rows": self.rows, "left_rows": self.n_left,
                      "right_rows": self.n_right, "tagged_frac": 1.0,
                      "hot_city_frac": hot,
                      "right_layout": "POIs within 1 deg of 3 hot cities"}

    def job(self, spark, k):
        from spark_geo import knn as KNN
        return KNN.nearest_lonlat(
            spark.read.parquet(self.path("pages")), spark.read.parquet(self.path("pois")),
            lon="lon", lat="lat", right_id="poi_id", keep=["page_id"],
            right_lon="lon", right_lat="lat").toArrow()

    def reference(self, spark):
        self.sample = np.linspace(0, self.n_left - 1, self.n_sample).astype(np.int64)
        self.want = ref.nearest(self.lx[self.sample], self.ly[self.sample],
                                self.rx, self.ry, np.arange(self.n_right))

    def check_iteration(self, t):
        page = t["page_id"].to_numpy()
        if len(page) != self.n_left or len(np.unique(page)) != self.n_left:
            return [f"knn_clustered: {len(page)} rows for {self.n_left} pages"]
        order = np.argsort(page)[self.sample]
        if not (np.array_equal(t["poi_id"].to_numpy()[order], self.want[0])
                and np.array_equal(t["distance"].to_numpy()[order], self.want[1])):
            return ["knn_clustered: sampled nearest neighbours differ from brute force"]
        return []


WORKLOADS = {w.name: w for w in (CliJob, KnnClustered)}
