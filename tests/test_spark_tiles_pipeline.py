"""Tile aggregation + pages pipeline tests (flagship path, text
byte-identity invariant, checkpoint/resume, salting)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_geo import functions as SG
from spark_geo import pipeline as PL
from spark_geo import tiles as TL
from spark_geo.kernel import cell as K_cell
from spark_geo.kernel import wkb as K_wkb
from spark_geo.kernel.geom import Geom


@pytest.fixture(scope="module")
def pages(spark):
    return PL.synth_pages(spark, 2000).cache()


def test_synth_pages_deterministic(spark):
    a = PL.synth_pages(spark, 100).collect()
    b = PL.synth_pages(spark, 100).collect()
    assert a == b
    assert len({r["url"] for r in a}) == 100


def test_text_byte_identity(pages):
    # BASELINE.json input_hint invariant: extracted text == text, per url
    assert PL.text_identity_violations(pages) == 0


def test_geocode_roundtrip(pages):
    g = PL.geocode(pages).select("lat", "lon", "text").collect()
    for r in g[:50]:
        assert f"located at {r['lat']:.4f},{r['lon']:.4f}" in r["text"]


def test_flagship_counts(spark, pages):
    layer = PL.make_world_layer(spark)
    out = PL.flagship(pages, layer, res=6).collect()
    total = sum(r["n_pages"] for r in out)
    # every geocoded page lands in >= 1 region (grid tiles the world;
    # overlap with concave/holed adds a few duplicates)
    assert total >= 2000
    assert all(r["n_cells"] >= 1 for r in out)


def test_tile_stats_and_rollup(spark, pages):
    pts = PL.geocode(pages)
    t = TL.assign_cells(pts, "lon", "lat", 6)
    stats = TL.tile_stats(t, aggs=[F.count(F.lit(1)).alias("n")])
    assert stats.agg(F.sum("n")).first()[0] == 2000
    roll = TL.tile_rollup(t.groupBy("cell").count(), 3, aggs=[F.sum("count").alias("n")])
    assert roll.agg(F.sum("n")).first()[0] == 2000
    # rollup produces fewer, coarser tiles
    assert roll.count() <= stats.count()


def test_hot_cells_detected(spark, pages):
    pts = TL.assign_cells(PL.geocode(pages), "lon", "lat", 5)
    hot = PL.hot_cells(pts, threshold=80)
    hot_ids = {r["cell"] for r in hot.collect()}
    # the 3 seeded city clusters must be hot (20% of rows over 3 cities)
    for lon, lat in PL.HOT_CITIES:
        assert int(K_cell.cell_of([lon], [lat], 5)[0]) in hot_ids


def test_salting_preserves_join_result(spark, pages):
    pts = TL.assign_cells(PL.geocode(pages), "lon", "lat", 5).select("url", "cell")
    right = pts.groupBy("cell").count().select("cell")  # one row per cell
    plain = pts.join(right, "cell").count()
    hot = PL.hot_cells(pts, threshold=80)
    l, r = PL.salt_hot_cells(pts, right, hot, buckets=4)
    salted = l.join(r, "salted_cell").count()
    assert salted == plain


def test_cells_to_polygons_cover_points(spark, pages):
    pts = TL.assign_cells(PL.geocode(pages), "lon", "lat", 6).limit(100)
    polys = TL.cells_to_polygons(pts)
    ok = polys.select(SG.st_covers("geom", SG.st_point("lon", "lat")).alias("ok"))
    assert all(r["ok"] for r in ok.collect())


def test_rasterize_fractions(spark):
    layer = spark.createDataFrame(
        [(0, K_wkb.dumps(Geom.box(0.0, 0.0, 45.0, 45.0)))], "polygon_id long, geom binary")
    r = TL.rasterize(layer, res=3)  # 45x22.5-degree cells
    rows = r.collect()
    assert abs(sum(x["area_frac"] for x in rows) - 1.0) < 1e-9
    assert all(x["area_frac"] > 0 for x in rows)
    d = TL.dissolve_tiles(r, "polygon_id")
    assert abs(d.first()["area"] - 45.0 * 45.0) < 1e-6


def _retired_cli_rows(pages, layer, res):
    """Reference rows of the pre-lon/lat CLI path: st_point WKB probe
    via broadcast_spatial_join, cell id from st_cell_lonlat."""
    from spark_geo import join as SJ
    pts = PL.geocode(pages).where(F.col("lon").isNotNull())
    pts = pts.select("url",
                     SG.st_cell_lonlat(F.col("lon"), F.col("lat"), res).alias("cell"),
                     SG.st_point(F.col("lon"), F.col("lat")).alias("point"))
    joined = SJ.broadcast_spatial_join(pts, layer, predicate="intersects",
                                       left_geom="point", right_geom="geom",
                                       right_id="polygon_id")
    return sorted(tuple(r) for r in joined.select("url", "cell", "polygon_id").collect())


def _written_rows(spark, out):
    data = spark.read.parquet(os.path.join(out, "data"))
    return sorted(tuple(r) for r in data.select("url", "cell", "polygon_id").collect())


def test_checkpoint_resume(spark, pages, tmp_path):
    layer = PL.make_world_layer(spark)
    want = _retired_cli_rows(pages, layer, 6)
    assert len(want) >= 2000
    out = str(tmp_path / "ckpt")
    r1 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    assert r1["resumed_from"] == 0 and len(r1["processed_parts"]) == 8
    assert _written_rows(spark, out) == want
    # second run: everything already done
    r2 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    assert r2["resumed_from"] == 8 and r2["processed_parts"] == []
    # simulate mid-job crash: drop 3 parts from the manifest
    import json
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["completed_parts"] = m["completed_parts"][:-3]
    with open(mpath, "w") as f:
        json.dump(m, f)
    r3 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    assert len(r3["processed_parts"]) == 3
    # the resumed output is row-identical to the fresh run and the
    # retired path, and flagship counts the same rows
    assert _written_rows(spark, out) == want
    fresh = PL.flagship(pages, layer, res=6)
    assert len(want) == fresh.agg(F.sum("n_pages")).first()[0]


def test_checkpoint_records_empty_buckets(spark, pages, tmp_path):
    """A bucket whose pages all miss the layer is still completed: it is
    in the manifest with a rows=0 metrics line, and a rerun skips it."""
    import json
    layer = spark.createDataFrame(
        [(0, K_wkb.dumps(Geom.box(-180.0, -90.0, -150.0, -60.0)))],
        "polygon_id long, geom binary")
    out = str(tmp_path / "ckpt")
    r1 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=16)
    assert r1["processed_parts"] == list(range(16))
    with open(os.path.join(out, "metrics.jsonl")) as f:
        rows = {m["part_id"]: m["rows"] for m in map(json.loads, f)}
    assert sorted(rows) == list(range(16))
    data = spark.read.parquet(os.path.join(out, "data"))
    per_part = {r["part_id"]: r["count"] for r in data.groupBy("part_id").count().collect()}
    assert {p: n for p, n in rows.items() if n} == per_part
    assert 0 < len(per_part) < 16          # some buckets really are empty
    r2 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=16)
    assert r2["resumed_from"] == 16 and r2["processed_parts"] == []
    # every bucket empty: no data file is written, all are still recorded
    none = PL.run_with_checkpoint(pages, layer.limit(0), str(tmp_path / "none"),
                                  res=6, num_parts=4)
    assert none["processed_parts"] == [0, 1, 2, 3]
