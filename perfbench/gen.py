"""Seeded input generator for the benchmark.

Builds every workload input with NumPy and PyArrow from the seed alone,
so a change to the program cannot change what the benchmark feeds it.
Coordinates are drawn on a 1e-4 degree lattice and written into page
text with exactly four decimals, so the parsed doubles equal
``lattice / 1e4`` bit for bit and the reference checks can use them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HOT_CITIES = np.array([(-74.0060, 40.7128), (2.3522, 48.8566),
                       (139.6917, 35.6895)])
LANGS = np.array(["en", "de", "fr", "es", "pt"])
N_FILES = 8


def _lattice_coords(rng, n, hot_frac, hot_lon_half, hot_lat_half):
    """(lon, lat) as int64 multiples of 1e-4 degrees: ``hot_frac`` of the
    rows near HOT_CITIES, the rest uniform over the globe."""
    lon = rng.integers(-1_800_000, 1_800_001, n)
    lat = rng.integers(-900_000, 900_001, n)
    hot = rng.random(n) < hot_frac
    city = rng.integers(0, len(HOT_CITIES), n)
    c = np.round(HOT_CITIES[city] * 1e4).astype(np.int64)
    lon = np.where(hot, c[:, 0] + rng.integers(-hot_lon_half, hot_lon_half + 1, n), lon)
    lat = np.where(hot, c[:, 1] + rng.integers(-hot_lat_half, hot_lat_half + 1, n), lat)
    return lon, lat, hot


def _decimal4(v: np.ndarray) -> pa.Array:
    """int64 multiples of 1e-4 -> '-12.3456'-style strings."""
    a = np.abs(v)
    sign = pa.array(np.where(v < 0, "-", ""))
    ip = pc.cast(pa.array(a // 10_000), pa.string())
    fp = pc.utf8_lpad(pc.cast(pa.array(a % 10_000), pa.string()), 4, "0")
    return pc.binary_join_element_wise(sign, ip, ".", fp, "")


def pages(seed: int, n: int, tagged_frac: float = 0.9,
          hot_frac: float = 0.2) -> tuple[pa.Table, dict]:
    """Common-Crawl-shaped pages: url, warc_ts, text, lang (+ page_id).

    ``tagged_frac`` of the pages carry a 'located at <lat>,<lon>' geotag,
    the rest no tag; ``hot_frac`` of the pages sit within 0.5 degrees of
    a hot city.  Returns the table and the reference arrays (lon/lat as
    doubles, NaN where untagged) with the measured input properties."""
    rng = np.random.default_rng([seed, 1])
    lon_i, lat_i, hot = _lattice_coords(rng, n, hot_frac, 5_000, 2_500)
    tagged = rng.random(n) < tagged_frac
    pid = np.arange(n, dtype=np.int64)
    sid = pc.cast(pa.array(pid), pa.string())
    with_tag = pc.binary_join_element_wise(
        "Page ", sid, " reports on a site located at ", _decimal4(lat_i),
        ",", _decimal4(lon_i), " with further notes.", "")
    without = pc.binary_join_element_wise(
        "Page ", sid, " has no location in its text.", "")
    text = pc.if_else(pa.array(tagged), with_tag, without)
    url = pc.binary_join_element_wise(
        "https://site", pc.cast(pa.array(pid % 1000), pa.string()),
        ".example/page/", sid, "")
    ts = pa.array((np.datetime64("2024-01-01T00:00:00", "us")
                   + pid.astype("timedelta64[s]")).astype("datetime64[us]"))
    lang = pa.array(LANGS[rng.integers(0, len(LANGS), n)])
    table = pa.table({"page_id": pid, "url": url, "warc_ts": ts,
                      "text": text, "lang": lang})
    lon = np.where(tagged, lon_i / 1e4, np.nan)
    lat = np.where(tagged, lat_i / 1e4, np.nan)
    props = {"rows": n, "tagged_frac": float(tagged.mean()),
             "hot_city_frac": float((hot & tagged).mean())}
    return table, {"lon": lon, "lat": lat, "props": props}


def points(seed: int, n: int, hot_frac: float = 0.2):
    """Global probe points on the 1e-4 lattice (no NULLs): lon, lat and
    the measured share near a hot city."""
    rng = np.random.default_rng([seed, 2])
    lon_i, lat_i, hot = _lattice_coords(rng, n, hot_frac, 5_000, 2_500)
    return lon_i / 1e4, lat_i / 1e4, float(hot.mean())


def clustered_points(seed: int, n: int, half_deg: float = 1.0):
    """Right-side POIs: all within +-half_deg of the hot cities."""
    rng = np.random.default_rng([seed, 3])
    h = int(half_deg * 1e4)
    lon_i, lat_i, _ = _lattice_coords(rng, n, 1.0, h, h)
    return lon_i / 1e4, lat_i / 1e4


def point_wkb(x: np.ndarray, y: np.ndarray) -> pa.Array:
    """Little-endian 2-D WKB POINTs, built here rather than by the program."""
    n = len(x)
    rec = np.zeros(n, dtype=[("o", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["o"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    off = pa.py_buffer((np.arange(n + 1, dtype=np.int32) * 21).tobytes())
    return pa.Array.from_buffers(pa.binary(), n, [None, off, pa.py_buffer(rec.tobytes())])


def write_parquet(table: pa.Table, path: str, n_files: int = N_FILES) -> int:
    """Write ``table`` as ``n_files`` parquet files (one Spark split
    each); returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    total = 0
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        total += os.path.getsize(f)
    return total
