"""Independent NumPy references for the benchmark's output checks.

Nothing here imports the program: WKB is parsed by a small reader of
its own, point-in-polygon is even-odd ray casting with an exact
on-boundary test (the inputs sit on a 1e-4 degree lattice and polygon
vertices on the same lattice or on integers, so the tests are exact),
and the cell id is recomputed from its documented formula.
"""

from __future__ import annotations

import struct

import numpy as np


def polygon_rings(wkb: bytes | None) -> list:
    """Rings (k x 2 arrays) of a POLYGON WKB; [] for NULL, EMPTY or any
    other type."""
    if wkb is None:
        return []
    wkb = bytes(wkb)
    e = "<" if wkb[0] == 1 else ">"
    (t,) = struct.unpack_from(e + "I", wkb, 1)
    if t != 3:
        return []
    (nr,) = struct.unpack_from(e + "I", wkb, 5)
    rings, pos = [], 9
    for _ in range(nr):
        (npt,) = struct.unpack_from(e + "I", wkb, pos)
        rings.append(np.frombuffer(wkb, e + "f8", 2 * npt, pos + 4).reshape(-1, 2))
        pos += 4 + 16 * npt
    return rings


def _covers(rings: list, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Closed point-in-polygon (boundary counts) over all rings."""
    on = np.zeros(len(px), bool)
    odd = np.zeros(len(px), bool)
    for r in rings:
        for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
            cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
            on |= (cross == 0) & (px >= min(x1, x2)) & (px <= max(x1, x2)) \
                & (py >= min(y1, y2)) & (py <= max(y1, y2))
            if y1 != y2:
                up = (y1 > py) != (y2 > py)
                with np.errstate(invalid="ignore", divide="ignore"):
                    xi = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
                odd ^= up & (px < xi)
    return on | odd


def point_polygon_pairs(px, py, ids, wkbs):
    """All (point index, polygon id) pairs where the polygon covers the
    point; NaN points match nothing."""
    ok = np.nonzero(~(np.isnan(px) | np.isnan(py)))[0]
    order = ok[np.argsort(px[ok], kind="stable")]
    sx = px[order]
    out_p, out_g = [], []
    for gid, w in zip(ids, wkbs):
        rings = polygon_rings(w)
        if not rings:
            continue
        allc = np.concatenate(rings)
        (x0, y0), (x1, y1) = allc.min(0), allc.max(0)
        sel = order[np.searchsorted(sx, x0, "left"):np.searchsorted(sx, x1, "right")]
        sel = sel[(py[sel] >= y0) & (py[sel] <= y1)]
        hit = sel[_covers(rings, px[sel], py[sel])]
        out_p.append(hit)
        out_g.append(np.full(len(hit), gid, np.int64))
    if not out_p:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_p), np.concatenate(out_g)


def cell_ids(lon, lat, res: int) -> np.ndarray:
    """(res << 56) | (iy << 28) | ix on the 2^res x 2^res lon/lat grid."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << 56) | (iy << 28) | ix


def nearest(px, py, rx, ry, rid):
    """Nearest right id per probe (lowest id among exact ties) and its
    distance, by brute force."""
    out_id = np.empty(len(px), np.int64)
    out_d = np.empty(len(px))
    for i in range(len(px)):
        d = np.hypot(px[i] - rx, py[i] - ry)
        m = d.min()
        out_id[i] = rid[d == m].min()
        out_d[i] = m
    return out_id, out_d


def same_pairs(a_left, a_right, b_left, b_right) -> bool:
    """Multiset equality of two (left, right) pair lists."""
    if len(a_left) != len(b_left):
        return False
    a = np.lexsort((a_right, a_left))
    b = np.lexsort((b_right, b_left))
    return bool(np.array_equal(np.asarray(a_left)[a], np.asarray(b_left)[b])
                and np.array_equal(np.asarray(a_right)[a], np.asarray(b_right)[b]))
