"""kNN / nearest-neighbor joins (SURVEY.md §2.6 nearest/nearest_all).

Semantics from the reference:
- ``nearest_all``: ALL equidistant nearest right items per left row
  (reference strtree.py:278-355); ``max_distance`` caps the search
  (strtree.c:941-964); distance 0 for intersecting items.
- ``nearest``: one row per left; deterministic lowest-right-id
  tie-break (documented difference from the reference's
  nondeterminism, strtree.py:235-238).

Physical plans:
- **broadcast** (default): STRtree best-first nearest per Arrow batch
  inside mapInPandas — no shuffle.  When the right side is all points
  (``nearest_lonlat``, ``nearest_all_lonlat``, and
  ``broadcast_nearest_all``'s all-points path) the worker runs the
  NumPy kernel ``_nearest_all_points`` instead: a grid ring walk
  settles probes within a few cells of data, and a lower-bound pass
  over Z-order leaf boxes of the right points settles the rest, so a
  far probe costs what the data near it costs, not the empty cells in
  between.  Both passes take np.hypot over a superset of the points at
  the minimum and keep exact-equality ties, so the output equals the
  brute-force distance matrix bit for bit.
- **cell ring expansion** (large✕large, point✕point): phase 1 probes
  growing ring shells until each left row sees a first hit at
  distance d₀; phase 2 probes the full cell disk of radius
  ceil(d₀/h) — a guaranteed superset of anything within d₀ — and
  keeps all rows at the exact minimum (tie-complete; this replaces
  the reference's 1e-6 distance-inflation trick,
  src/strtree.c:654-695, with an exact bound).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .kernel import cell as K_cell
from .kernel import wkb as K_wkb
from .kernel.strtree import STRtree
from . import functions as SG


def _lowest_id_per_left(li, rids, dd):
    """Reduce all-ties output to one row per left index, keeping the
    lowest right id — runs inside the worker, so nearest() needs no
    post-join shuffle/window at all."""
    if len(li) == 0:
        return li, rids, dd
    order = np.lexsort((rids, li))
    li, rids, dd = li[order], rids[order], dd[order]
    keep = np.ones(len(li), dtype=bool)
    keep[1:] = li[1:] != li[:-1]
    return li[keep], rids[keep], dd[keep]


def broadcast_nearest_all(left: DataFrame, right: DataFrame, *,
                          left_geom: str = "geom", right_geom: str = "geom",
                          right_id: str = "right_id",
                          max_distance: float | None = None,
                          max_right_rows: int | None = None,
                          _single: bool = False) -> DataFrame:
    """All-ties nearest join; output = left columns + right_id + distance."""
    from .join import _collect_right
    ids, geoms = _collect_right(right, "broadcast_nearest_all", right_id,
                                right_geom, max_right_rows)
    tree = STRtree(geoms)
    # all-points right side -> fully vectorized distance-matrix path
    pts = None
    if len(tree) and len(tree) <= 200_000 and all(
            geoms[i].type_id == 0 for i in tree._idx):
        txs = np.asarray([geoms[i].coords[0, 0] for i in tree._idx])
        tys = np.asarray([geoms[i].coords[0, 1] for i in tree._idx])
        pts = (txs, tys, tree._idx.copy())
    bc = left.sparkSession.sparkContext.broadcast((tree, ids, pts))
    out_schema = T.StructType(left.schema.fields + [
        T.StructField(right_id, T.LongType()),
        T.StructField("distance", T.DoubleType()),
    ])
    geom_pos = left.columns.index(left_geom)

    def run(batches):
        tree_l, ids_l, pts_l = bc.value
        for pdf in batches:
            raw = pdf.iloc[:, geom_pos].to_numpy()
            if pts_l is not None:
                arr = np.asarray([None if v is None else
                                  (v if isinstance(v, bytes) else bytes(v))
                                  for v in raw], dtype=object)
                xs, ys = K_wkb.decode_points(arr)
                nulls = np.array([v is None for v in arr])
                if bool(np.all(np.isnan(xs) == nulls)):
                    li, ri, dd = _nearest_all_points(xs, ys, *pts_l, max_distance)
                    rids = ids_l[ri]
                    if _single:
                        li, rids, dd = _lowest_id_per_left(li, rids, dd)
                    out = pdf.iloc[li].reset_index(drop=True)
                    out[right_id] = rids
                    out["distance"] = dd
                    yield out
                    continue
            geoms_b = [SG._loads_safe(v) for v in raw]
            pairs, dists = tree_l.nearest_all(geoms_b, max_distance=max_distance,
                                              return_distance=True)
            li, rids = pairs[0], ids_l[pairs[1]]
            if _single:
                li, rids, dists = _lowest_id_per_left(
                    np.asarray(li), np.asarray(rids), np.asarray(dists))
            out = pdf.iloc[li].reset_index(drop=True)
            out[right_id] = rids
            out["distance"] = dists
            yield out

    return left.mapInPandas(run, schema=out_schema)


# ring shells the grid walk visits before a probe is handed to the leaf
# bound pass: probes within a few cells of data resolve on the grid,
# probes beyond them are bounded by the data instead of empty cells
_RING_SHELLS = 2
# right points per Z-order leaf, and children per node above the leaves
_LEAF = 32
# more top-level boxes than this get one more level packed above them,
# so the per-probe bound pass never scans O(m) boxes
_TOP_MAX = 1024
# (probe row, box) pairs per chunk of the leaf bound pass
_PAIR_BUDGET = 1 << 20
# relative slack on the leaf bound: rounding in a box's lower bound
# can only admit extra candidates, never drop one
_SLACK = 1e-9


def _nearest_all_points(xs, ys, txs, tys, tpos, max_distance):
    """Vectorized all-ties nearest (the all-equidistant semantics of
    reference strtree.py:278-355).

    Two exact passes split the probes by how far they are from data.

    - **Ring walk** on a uniform grid over the right points: a probe
      whose running minimum is proven within the first ``_RING_SHELLS``
      shells (cell-index delta >= k+1 implies coordinate distance
      >= k * cell_width) gathers every tie from the cell disk of radius
      ceil(best/cw)+1 around it.
    - **Leaf bound pass** (``_leaf_bound_nearest``) for every other
      probe, so that its cost follows the data rather than the empty
      cells between a far probe and a clustered right side.

    Both passes compute np.hypot over a superset of the points at the
    exact minimum and keep ``d == best`` by float equality, so the
    result is bit-identical to the (batch x items) distance matrix of
    ``_nearest_all_points_matrix`` (verified in tests/test_knn_grid.py).
    Probes with a NaN or infinite coordinate give no row."""
    n, m = len(xs), len(txs)
    # drop non-finite right points up front: a NaN coordinate would
    # poison the grid extent here (and poisoned the old matrix path's
    # row minima into dropping every result) — a point with no finite
    # position can never be a nearest neighbor
    finite = np.isfinite(txs) & np.isfinite(tys)
    if not finite.all():
        txs, tys, tpos = txs[finite], tys[finite], tpos[finite]
        m = len(txs)
    if m == 0:
        return _no_pairs()
    if m <= 64:
        # tiny trees: one (n x m) matrix is cheaper than grid setup
        return _nearest_all_points_matrix(xs, ys, txs, tys, tpos,
                                          max_distance)
    # -- grid build over the right points -----------------------------
    xmin, xmax = txs.min(), txs.max()
    ymin, ymax = tys.min(), tys.max()
    span = max(xmax - xmin, ymax - ymin, 1e-300)
    n_side = int(np.clip(np.sqrt(m), 1, 1 << 15))
    cw = span / n_side

    def cell(v, lo):
        # clip in float: (v - lo) / cw overflows to inf for a far probe
        # or a collapsed span, and casting that to int64 is undefined
        return np.clip((v - lo) / cw, 0, n_side - 1).astype(np.int64)

    tcells = cell(tys, ymin) * n_side + cell(txs, xmin)
    order = np.argsort(tcells, kind="stable")
    txs_s, tys_s, tpos_s = txs[order], tys[order], tpos[order]
    # n_side**2 <= m, so a dense per-cell start table costs O(m)
    cstart = np.searchsorted(tcells[order], np.arange(n_side * n_side + 1))

    def gather(cells, rix):
        """flat (cell, probe_row) pairs -> per-candidate (probe_row,
        sorted-item index)."""
        lo = cstart[cells]
        counts = cstart[cells + 1] - lo
        return np.repeat(rix, counts), _expand(lo, counts)

    valid = np.isfinite(xs) & np.isfinite(ys)
    gx = cell(np.where(valid, xs, xmin), xmin)
    gy = cell(np.where(valid, ys, ymin), ymin)

    # -- ring walk: resolve probes within _RING_SHELLS shells ----------
    best = np.full(n, np.inf)
    alive = valid.copy()
    for k in range(_RING_SHELLS + 1):
        rows = np.nonzero(alive)[0]
        if not len(rows):
            break
        if k == 0:
            sdx = np.zeros(1, np.int64)
            sdy = np.zeros(1, np.int64)
        else:  # shell at Chebyshev cell distance exactly k
            e = np.arange(-k, k + 1, dtype=np.int64)
            mid = np.arange(-k + 1, k, dtype=np.int64)
            sdx = np.concatenate([e, e, np.full(len(mid), -k, np.int64),
                                  np.full(len(mid), k, np.int64)])
            sdy = np.concatenate([np.full(len(e), k, np.int64),
                                  np.full(len(e), -k, np.int64), mid, mid])
        cx = gx[rows][:, None] + sdx[None, :]
        cy = gy[rows][:, None] + sdy[None, :]
        okc = (cx >= 0) & (cx < n_side) & (cy >= 0) & (cy < n_side)
        prow, item = gather((cy * n_side + cx)[okc],
                            np.repeat(rows, okc.sum(axis=1)))
        if len(item):
            d = np.hypot(xs[prow] - txs_s[item], ys[prow] - tys_s[item])
            np.minimum.at(best, prow, d)
        done = best[rows] <= k * cw
        if max_distance is not None:
            done |= (k * cw) > max_distance
        alive[rows[done]] = False

    # -- leaf bound pass for the probes the ring walk did not settle ---
    lefts, rights, dists = [], [], []
    far = np.nonzero(alive)[0]
    if len(far):
        li, ri, dd = _leaf_bound_nearest(xs[far], ys[far], best[far],
                                         txs, tys, tpos, max_distance)
        lefts.append(far[li])
        rights.append(ri)
        dists.append(dd)

    # -- exact all-ties disk gather for the ring-resolved probes -------
    have = valid & ~alive & np.isfinite(best)
    if max_distance is not None:
        have &= best <= max_distance
    rows = np.nonzero(have)[0]
    # best <= k * cw for k <= _RING_SHELLS, so every disk is small
    kf = np.minimum(np.ceil(best[rows] / cw), _RING_SHELLS + 1) \
        .astype(np.int64) + 1
    kk = int(kf.max()) if len(rows) else 0
    e = np.arange(-kk, kk + 1, dtype=np.int64)
    ddx = np.repeat(e, 2 * kk + 1)
    ddy = np.tile(e, 2 * kk + 1)
    cheb = np.maximum(np.abs(ddx), np.abs(ddy))
    step = max(1, _PAIR_BUDGET // len(e) ** 2)
    for s in range(0, len(rows), step):
        rr, kr = rows[s:s + step], kf[s:s + step]
        cx = gx[rr][:, None] + ddx[None, :]
        cy = gy[rr][:, None] + ddy[None, :]
        okc = (cx >= 0) & (cx < n_side) & (cy >= 0) & (cy < n_side)
        okc &= cheb[None, :] <= kr[:, None]
        prow, item = gather((cy * n_side + cx)[okc],
                            np.repeat(rr, okc.sum(axis=1)))
        d = np.hypot(xs[prow] - txs_s[item], ys[prow] - tys_s[item])
        tie = d == best[prow]
        lefts.append(prow[tie])
        rights.append(tpos_s[item[tie]])
        dists.append(d[tie])
    if not lefts:
        return _no_pairs()
    li = np.concatenate(lefts)
    ri = np.concatenate(rights)
    dd = np.concatenate(dists)
    # row-major (left, right-position) order like the matrix path's
    # np.nonzero — downstream tie-breaks (lexsort) do not depend on it,
    # but keep the contract deterministic
    order3 = np.lexsort((ri, li))
    return li[order3], ri[order3], dd[order3]


def _no_pairs():
    """Empty (left index, right position, distance) result."""
    return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)


def _expand(starts, counts):
    """Concatenated ranges [starts[i], starts[i] + counts[i])."""
    tot = int(counts.sum())
    csum = np.cumsum(counts) - counts
    return (np.repeat(starts, counts)
            + np.arange(tot, dtype=np.int64) - np.repeat(csum, counts))


def _box_bounds(x, y, box, idx):
    """Lower and upper bounds on np.hypot from (x, y) to the points in
    box ``idx``: the distance to the box and to its farthest corner.
    Float subtraction is monotone, so every point of the box is at a
    computed distance between the two, up to np.hypot's last-ulp error
    that ``_SLACK`` absorbs."""
    x0, y0, x1, y1 = box
    ax, bx = x0[idx] - x, x - x1[idx]
    ay, by = y0[idx] - y, y - y1[idx]
    lo = np.hypot(np.maximum(np.maximum(ax, bx), 0.0),
                  np.maximum(np.maximum(ay, by), 0.0))
    hi = np.hypot(np.maximum(np.abs(ax), np.abs(bx)),
                  np.maximum(np.abs(ay), np.abs(by)))
    return lo, hi


def _zorder_levels(txs, tys):
    """Sort the right points in Z-order and pack bounding boxes: level 0
    holds one box per ``_LEAF`` consecutive points, each level above one
    box per ``_LEAF`` boxes below, until at most ``_TOP_MAX`` remain.
    Returns the point order and the levels, leaves first."""
    xmin, ymin = txs.min(), tys.min()
    span = max(txs.max() - xmin, tys.max() - ymin, 1e-300)

    def spread(v):  # offset -> 16-bit cell, its bits at even positions
        v = np.clip((v / span) * 65535.0, 0, 65535).astype(np.int64)
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        return (v | (v << 1)) & 0x55555555

    order = np.argsort(spread(txs - xmin) | (spread(tys - ymin) << 1),
                       kind="stable")
    px, py = txs[order], tys[order]
    cuts = np.arange(0, len(px), _LEAF)
    levels = [(np.minimum.reduceat(px, cuts), np.minimum.reduceat(py, cuts),
               np.maximum.reduceat(px, cuts), np.maximum.reduceat(py, cuts))]
    while len(levels[-1][0]) > _TOP_MAX:
        x0, y0, x1, y1 = levels[-1]
        cuts = np.arange(0, len(x0), _LEAF)
        levels.append((np.minimum.reduceat(x0, cuts),
                       np.minimum.reduceat(y0, cuts),
                       np.maximum.reduceat(x1, cuts),
                       np.maximum.reduceat(y1, cuts)))
    return order, levels


def _leaf_bound_nearest(xs, ys, ub, txs, tys, tpos, max_distance):
    """All-ties nearest for probes with finite coordinates by
    branch-and-bound over Z-order leaf boxes (the reference's
    STR-envelope nearest, strtree.c:840-1058, as whole-array passes).

    ``ub`` is an upper bound per probe (its ring-walk best, or inf).
    Level by level from the top, each probe keeps the boxes whose lower
    bound is <= its upper bound (times 1 + ``_SLACK``), and the upper
    bound drops to the nearest far-corner distance among them.  At the
    leaves it drops once more, to the exact distance to the points of
    the probe's lowest-bound leaf.  Any point at the true minimum lies
    in a kept leaf, so np.hypot over the kept leaves' points finds the
    minimum and all of its ``d == best`` ties."""
    order, levels = _zorder_levels(txs, tys)
    px, py, ppos = txs[order], tys[order], tpos[order]
    m = len(px)
    cap = np.inf if max_distance is None else max_distance
    top = levels[-1]
    n_top = len(top[0])
    kids = np.arange(_LEAF, dtype=np.int64)
    lefts, rights, dists = [], [], []
    step = max(1, _PAIR_BUDGET // n_top)
    for s in range(0, len(xs), step):
        x, y = xs[s:s + step], ys[s:s + step]
        lo, hi = _box_bounds(x[:, None], y[:, None], top,
                             np.arange(n_top)[None, :])
        bound = np.minimum(np.minimum(ub[s:s + step], hi.min(axis=1)), cap)
        prow, node = np.nonzero(lo <= bound[:, None] * (1.0 + _SLACK))
        lo = lo[prow, node]
        for box in levels[-2::-1]:
            prow, node = _children(prow, node, len(box[0]))
            lo, hi = _box_bounds(x[prow], y[prow], box, node)
            # prow is sorted: per-probe minima are segment reductions
            first = _segments(prow)
            bound[prow[first]] = np.minimum(bound[prow[first]],
                                            np.minimum.reduceat(hi, first))
            keep = lo <= bound[prow] * (1.0 + _SLACK)
            prow, node, lo = prow[keep], node[keep], lo[keep]
        # exact distance to the points of each probe's lowest-bound leaf
        first = _segments(prow)
        rows = prow[first]
        leaf = node[np.lexsort((lo, prow))[first]]
        pt = np.minimum(leaf[:, None] * _LEAF + kids, m - 1)
        bound[rows] = np.minimum(bound[rows], np.hypot(
            x[rows][:, None] - px[pt], y[rows][:, None] - py[pt]).min(axis=1))
        keep = lo <= bound[prow] * (1.0 + _SLACK)
        prow, node = prow[keep], node[keep]
        prow, pt = _children(prow, node, m)
        if not len(pt):
            continue
        d = np.hypot(x[prow] - px[pt], y[prow] - py[pt])
        first = _segments(prow)
        best = np.full(len(x), np.inf)
        best[prow[first]] = np.minimum.reduceat(d, first)
        tie = (d == best[prow]) & (d <= cap) & np.isfinite(d)
        lefts.append(prow[tie] + s)
        rights.append(ppos[pt[tie]])
        dists.append(d[tie])
    if not lefts:
        return _no_pairs()
    return np.concatenate(lefts), np.concatenate(rights), np.concatenate(dists)


def _children(prow, node, size):
    """Expand (probe row, box) pairs to (probe row, child) pairs; box j
    holds children [j * _LEAF, (j + 1) * _LEAF) of the ``size`` below."""
    cnt = np.minimum(node * _LEAF + _LEAF, size) - node * _LEAF
    return np.repeat(prow, cnt), _expand(node * _LEAF, cnt)


def _segments(sorted_keys):
    """Start index of each run of equal values in a sorted array."""
    if not len(sorted_keys):
        return np.empty(0, np.int64)
    return np.flatnonzero(np.r_[True, sorted_keys[1:] != sorted_keys[:-1]])


def _nearest_all_points_matrix(xs, ys, txs, tys, tpos, max_distance):
    """Small-tree fallback: chunked (batch ✕ items) distance matrix, and
    the reference the grid kernel is tested against.  Probes with a NaN
    or infinite coordinate give no row."""
    n, m = len(xs), len(txs)
    valid = np.isfinite(xs) & np.isfinite(ys)
    lefts, rights, dists = [], [], []
    chunk = max(1, int(4e7 // max(m, 1)))
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        cx, cy = xs[s:e], ys[s:e]
        d = np.hypot(cx[:, None] - txs[None, :], cy[:, None] - tys[None, :])
        dmin = d.min(axis=1)
        ok = valid[s:e].copy()
        if max_distance is not None:
            ok &= dmin <= max_distance
        ties = (d == dmin[:, None]) & ok[:, None]
        li, ri = np.nonzero(ties)
        lefts.append(li + s)
        rights.append(tpos[ri])
        dists.append(d[li, ri])
    if not lefts:
        return _no_pairs()
    return np.concatenate(lefts), np.concatenate(rights), np.concatenate(dists)


def nearest_all_lonlat(left: DataFrame, right: DataFrame, *,
                       lon: str = "lon", lat: str = "lat",
                       right_geom: str = "geom",
                       right_id: str = "right_id",
                       max_distance: float | None = None,
                       keep: list[str] | None = None,
                       max_right_rows: int | None = None,
                       right_lon: str | None = None,
                       right_lat: str | None = None,
                       _single: bool = False) -> DataFrame:
    """All-ties nearest straight from lon/lat DOUBLE columns — the
    broadcast_lonlat_join analogue for kNN (r6, guide §2.3/§4.1): only
    the ``keep`` columns + 16 B of lon/lat doubles cross the Python
    boundary; no WKB is encoded or decoded on the probe side.  Results
    are identical to broadcast_nearest_all over st_point(lon, lat)
    (the WKB point round-trip is coordinate-exact).

    Output: keep columns + right_id + distance.  Falls back to probing
    the STRtree with point geometries when the right side is not
    all-points.

    ``right_lon``/``right_lat`` (r6): collect the right side's
    coordinate doubles instead of WKB — the broadcast carries numpy
    arrays only (no tree, no Geom objects), removing the per-query
    st_point evaluation job and the object-pickle cost from the
    driver path."""
    from .join import _collect_right
    ids, side = _collect_right(right, "nearest_all_lonlat", right_id,
                               right_geom, max_right_rows, right_lon, right_lat)
    if right_lon is not None:
        rx, ry = side
        kp = np.nonzero(~(np.isnan(rx) | np.isnan(ry)))[0]
        tree = None
        pts = (rx[kp], ry[kp], kp.astype(np.int64))
    else:
        geoms = side
        tree = STRtree(geoms)
        pts = None
        if len(tree) and all(geoms[i].type_id == 0 for i in tree._idx):
            txs = np.asarray([geoms[i].coords[0, 0] for i in tree._idx])
            tys = np.asarray([geoms[i].coords[0, 1] for i in tree._idx])
            pts = (txs, tys, tree._idx.copy())
    bc = left.sparkSession.sparkContext.broadcast((tree, ids, pts))
    keep = keep or []
    src = left.select(*(keep + [lon, lat]))
    fields = [src.schema[c] for c in keep]
    fields.append(T.StructField(right_id, T.LongType()))
    fields.append(T.StructField("distance", T.DoubleType()))
    out_schema = T.StructType(fields)
    lon_pos, lat_pos = len(keep), len(keep) + 1

    def run(batches):
        from .kernel.geom import Geom
        tree_l, ids_l, pts_l = bc.value
        for pdf in batches:
            xs = pdf.iloc[:, lon_pos].to_numpy(dtype=np.float64,
                                               na_value=np.nan)
            ys = pdf.iloc[:, lat_pos].to_numpy(dtype=np.float64,
                                               na_value=np.nan)
            if pts_l is not None:
                li, ri, dd = _nearest_all_points(xs, ys, *pts_l,
                                                 max_distance)
                rids = ids_l[ri]
            else:
                probes = [None if np.isnan(x) else Geom.point(x, y)
                          for x, y in zip(xs, ys)]
                pairs, dd = tree_l.nearest_all(
                    probes, max_distance=max_distance,
                    return_distance=True)
                li, rids = np.asarray(pairs[0]), ids_l[pairs[1]]
                dd = np.asarray(dd)
            if _single:
                li, rids, dd = _lowest_id_per_left(li, rids, dd)
            out = pdf.iloc[li, :len(keep)].reset_index(drop=True)
            out[right_id] = rids
            out["distance"] = dd
            yield out

    return src.mapInPandas(run, schema=out_schema)


def nearest_lonlat(left: DataFrame, right: DataFrame, *,
                   lon: str = "lon", lat: str = "lat",
                   right_geom: str = "geom", right_id: str = "right_id",
                   max_distance: float | None = None,
                   keep: list[str] | None = None,
                   right_lon: str | None = None,
                   right_lat: str | None = None) -> DataFrame:
    """nearest() from lon/lat doubles: one row per left row, lowest
    right-id tie-break inside the worker — zero exchanges, no WKB."""
    return nearest_all_lonlat(left, right, lon=lon, lat=lat,
                              right_geom=right_geom, right_id=right_id,
                              max_distance=max_distance, keep=keep,
                              right_lon=right_lon, right_lat=right_lat,
                              _single=True)


def nearest(left: DataFrame, right: DataFrame, *,
            left_geom: str = "geom", right_geom: str = "geom",
            right_id: str = "right_id",
            max_distance: float | None = None) -> DataFrame:
    """nearest(): one row per left row, lowest-right-id tie-break.

    The tie-break happens INSIDE the broadcast worker (one lexsort per
    Arrow batch) — the physical plan is a single mapInPandas over the
    left side with ZERO exchanges, vs the previous per-row-id window
    that shuffled the whole joined output."""
    return broadcast_nearest_all(left, right, left_geom=left_geom,
                                 right_geom=right_geom, right_id=right_id,
                                 max_distance=max_distance, _single=True)


# ---------------------------------------------------------------------------
# cell ring-expansion kNN (large ✕ large)
# ---------------------------------------------------------------------------

def cell_nearest_all(left: DataFrame, right: DataFrame, *,
                     left_geom: str = "geom", right_geom: str = "geom",
                     left_id: str = "left_id", right_id: str = "right_id",
                     res: int = 7, max_rings: int = 16,
                     shells_per_round: int = 4,
                     max_distance: float | None = None,
                     assume_points: bool = True) -> DataFrame:
    """Distributed all-ties nearest via cell ring expansion.

    Phase 1 probes ``shells_per_round`` ring shells per driver round
    (fewer Spark jobs on sparse data; slight over-probe is harmless —
    phase 2 recomputes the exact disk anyway).  Returns (left_id,
    right_id, distance); left rows with no right point within
    ``max_rings`` cells (or ``max_distance``) are omitted —
    inner-join semantics like the reference.

    ``assume_points=True`` is the vectorized point✕point plan (lon/lat
    doubles only, Catalyst hypot).  ``assume_points=False`` accepts ANY
    geometries on both sides (reference nearest_all, strtree.py:278):
    each side explodes its st_cell_cover cells, ring/disk expansion
    runs per left cover cell, the candidate shuffle carries only ids,
    and geometries equi-join back for the exact kernel distance.  The
    disk bound stays exact: a right geom within d0 of a left geom has
    a point p within d0 of some left point q, so p's cover cell is
    within ceil(d0/h) Chebyshev cells of q's."""
    if not assume_points:
        return _cell_nearest_all_geoms(
            left, right, left_geom=left_geom, right_geom=right_geom,
            left_id=left_id, right_id=right_id, res=res,
            max_rings=max_rings, shells_per_round=shells_per_round,
            max_distance=max_distance)
    h = 180.0 / (1 << res)  # cell height (deg); width is 2h
    if max_distance is not None:
        max_rings = min(max_rings, int(np.ceil(max_distance / h)) + 1)

    l = left.select(
        F.col(left_id).alias("_lid"),
        SG.st_x(F.col(left_geom)).alias("_lx"),
        SG.st_y(F.col(left_geom)).alias("_ly"),
    ).where(~F.isnan(F.col("_lx")))
    r = (right.select(
        F.col(right_id).alias("_rid"),
        SG.st_x(F.col(right_geom)).alias("_rx"),
        SG.st_y(F.col(right_geom)).alias("_ry"))
        .where(~F.isnan(F.col("_rx")))
        .withColumn("_cell", SG.st_cell_lonlat(F.col("_rx"), F.col("_ry"), res))
        .cache())

    # phase 1: grow ring-shell groups until each left row has a first hit
    remaining = l
    first_hits = []  # DataFrames of (_lid, _lx, _ly, _d0)
    k = 0
    while k <= max_rings:
        if remaining.limit(1).count() == 0:
            break
        k_hi = min(k + shells_per_round - 1, max_rings)
        probes = remaining.withColumn(
            "_cell", F.explode(_shell_range_udf(
                SG.st_cell_lonlat(F.col("_lx"), F.col("_ly"), res), k, k_hi)))
        k = k_hi + 1
        hits = (probes.join(r, "_cell")
                .withColumn("_d", F.hypot(F.col("_lx") - F.col("_rx"),
                                          F.col("_ly") - F.col("_ry"))))
        if max_distance is not None:
            hits = hits.where(F.col("_d") <= max_distance)
        d0 = hits.groupBy("_lid", "_lx", "_ly").agg(F.min("_d").alias("_d0"))
        d0 = d0.cache()
        if d0.limit(1).count():
            first_hits.append(d0)
            remaining = remaining.join(d0.select("_lid"), "_lid", "left_anti")
    if not first_hits:
        schema = T.StructType([
            T.StructField(left_id, T.LongType()),
            T.StructField(right_id, T.LongType()),
            T.StructField("distance", T.DoubleType())])
        return left.sparkSession.createDataFrame([], schema)

    seeds = first_hits[0]
    for d in first_hits[1:]:
        seeds = seeds.unionByName(d)

    # phase 2: exact disk probe of radius ceil(d0/h) per left row
    probes = seeds.withColumn(
        "_cell", F.explode(_disk_udf(
            SG.st_cell_lonlat(F.col("_lx"), F.col("_ly"), res), F.col("_d0"), res)))
    cand = (probes.join(r, "_cell")
            .withColumn("_d", F.hypot(F.col("_lx") - F.col("_rx"),
                                      F.col("_ly") - F.col("_ry"))))
    if max_distance is not None:
        cand = cand.where(F.col("_d") <= max_distance)
    w = Window.partitionBy("_lid")
    out = (cand.withColumn("_dmin", F.min("_d").over(w))
           .where(F.col("_d") == F.col("_dmin"))
           .select(F.col("_lid").alias(left_id), F.col("_rid").alias(right_id),
                   F.col("_d").alias("distance"))
           .dropDuplicates([left_id, right_id]))
    return out


def _cell_nearest_all_geoms(left: DataFrame, right: DataFrame, *,
                            left_geom: str, right_geom: str,
                            left_id: str, right_id: str,
                            res: int, max_rings: int,
                            shells_per_round: int,
                            max_distance: float | None) -> DataFrame:
    """General-geometry ring expansion (see cell_nearest_all).  Cites
    reference strtree.py:278-355 (nearest_all over arbitrary geometry
    arrays) for the semantics; the physical plan is id-only candidate
    shuffles + per-pair exact distance after a geometry equi-join."""
    h = 180.0 / (1 << res)
    if max_distance is not None:
        max_rings = min(max_rings, int(np.ceil(max_distance / h)) + 1)

    lg = left.select(F.col(left_id).alias("_lid"),
                     F.col(left_geom).alias("_lgeom"))
    rg = right.select(F.col(right_id).alias("_rid"),
                      F.col(right_geom).alias("_rgeom"))
    l_cov = (lg.select("_lid",
                       F.explode(SG.st_cell_cover(F.col("_lgeom"), res))
                       .alias("_lcell")).cache())
    r_cells = (rg.select("_rid",
                         F.explode(SG.st_cell_cover(F.col("_rgeom"), res))
                         .alias("_cell")).cache())

    from .kernel import predicates as K_p
    dist_schema = T.StructType([
        T.StructField("_lid", left.schema[left_id].dataType),
        T.StructField("_rid", right.schema[right_id].dataType),
        T.StructField("_d", T.DoubleType())])

    def _dist_refine(batches):
        """Grouped exact pair distance: each DISTINCT left prepared
        once per Arrow batch, each right decoded once per group, the
        pairs go through the vectorized batch kernel (r4 — replaces
        the per-pair st_distance Python loop for non-point operands,
        VERDICT r3 item 7)."""
        for pdf in batches:
            pdf = pdf[pdf["_lid"].notna()].reset_index(drop=True)
            if not len(pdf):
                continue
            lraw = pdf["_lgeom"].to_numpy()
            rraw = pdf["_rgeom"].to_numpy()
            codes, uniq = pd.factorize(pdf["_lid"].to_numpy())
            first = np.zeros(len(uniq), dtype=np.int64)
            seen, fidx = np.unique(codes, return_index=True)
            first[seen] = fidx
            lgeoms = [SG._loads_safe(lraw[i]) for i in first]
            prep = K_p.prepare_batch_lefts(lgeoms)
            dvals = np.full(len(pdf), np.nan)
            for _rid, idx in pdf.groupby("_rid", sort=False).indices.items():
                gg = SG._loads_safe(rraw[idx[0]])
                dvals[idx] = K_p.batch_distance_one(prep, codes[idx], gg)
            pdf = pdf.assign(_d=dvals)
            yield pdf[["_lid", "_rid", "_d"]]

    def pair_dists(cells):
        """(_lid, _cell) probes -> exact (_lid, _rid, _d) pairs."""
        cand = (cells.join(r_cells, "_cell")
                .select("_lid", "_rid").dropDuplicates(["_lid", "_rid"]))
        p = cand.join(lg, "_lid").join(rg, "_rid")
        d = p.mapInPandas(_dist_refine, schema=dist_schema)
        if max_distance is not None:
            d = d.where(F.col("_d") <= max_distance)
        return d.where(~F.isnan("_d"))

    # per-round localCheckpoint (same discipline as text.
    # connected_components): each round's d0 is materialized once and
    # its lineage truncated, and `remaining` never accumulates a chain
    # of left_anti joins that the limit(1).count() probe would replay
    # in full every round (ADVICE r3).
    remaining = l_cov
    seeds = None
    k = 0
    while k <= max_rings:
        if remaining.limit(1).count() == 0:
            break
        k_hi = min(k + shells_per_round - 1, max_rings)
        probes = (remaining.withColumn(
            "_cell", F.explode(_shell_range_udf(F.col("_lcell"), k, k_hi)))
            .select("_lid", "_cell").dropDuplicates(["_lid", "_cell"]))
        k = k_hi + 1
        d0 = (pair_dists(probes).groupBy("_lid")
              .agg(F.min("_d").alias("_d0")).localCheckpoint(eager=True))
        if d0.limit(1).count():
            seeds = d0 if seeds is None else seeds.unionByName(d0)
            remaining = (remaining.join(d0.select("_lid"), "_lid",
                                        "left_anti")
                         .localCheckpoint(eager=True))
    if seeds is None:
        l_cov.unpersist(False)
        r_cells.unpersist(False)
        schema = T.StructType([
            T.StructField(left_id, left.schema[left_id].dataType),
            T.StructField(right_id, right.schema[right_id].dataType),
            T.StructField("distance", T.DoubleType())])
        return left.sparkSession.createDataFrame([], schema)

    # phase 2: exact disk of radius ceil(d0/h) around every left cover
    # cell — a superset of anything within d0 of the left geometry
    disk = (l_cov.join(seeds, "_lid")
            .withColumn("_cell", F.explode(
                _disk_udf(F.col("_lcell"), F.col("_d0"), res)))
            .select("_lid", "_cell").dropDuplicates(["_lid", "_cell"]))
    cand = pair_dists(disk)
    w = Window.partitionBy("_lid")
    out = (cand.withColumn("_dmin", F.min("_d").over(w))
           .where(F.col("_d") == F.col("_dmin"))
           .select(F.col("_lid").alias(left_id),
                   F.col("_rid").alias(right_id),
                   F.col("_d").alias("distance"))
           .dropDuplicates([left_id, right_id])
           # materialize, then release the round caches — the operator
           # is already eager (ring loop), so this adds no extra pass
           # and the returned frame holds no reference to them
           .localCheckpoint(eager=True))
    l_cov.unpersist(False)
    r_cells.unpersist(False)
    return out


def _shell_range_udf(cell_col, k_lo: int, k_hi: int):
    """Cells at Chebyshev distance in [k_lo, k_hi] = k_ring(k_hi) minus
    k_ring(k_lo - 1), batch-vectorized over the Arrow column (r4 —
    one stencil broadcast per batch, no per-row Python k_ring)."""
    @pandas_udf(T.ArrayType(T.LongType()))
    def _udf(c: pd.Series) -> pd.Series:
        cells = c.fillna(-1).to_numpy(dtype=np.int64)
        outer, ov = K_cell.k_ring_batch(cells, k_hi)
        if k_lo > 0:
            inner, iv = K_cell.k_ring_batch(cells, k_lo - 1)
            vals = [np.setdiff1d(outer[i][ov[i]], inner[i][iv[i]])
                    for i in range(len(cells))]
        else:
            vals = [np.unique(outer[i][ov[i]]) for i in range(len(cells))]
        return pd.Series(vals, dtype=object)
    return _udf(cell_col)


def _disk_udf(cell_col, d0_col, res: int):
    h = 180.0 / (1 << res)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _udf(c: pd.Series, d0: pd.Series) -> pd.Series:
        cells = c.fillna(-1).to_numpy(dtype=np.int64)
        ks = np.ceil(d0.fillna(0.0).to_numpy(dtype=np.float64)
                     / h).astype(np.int64)
        m = len(cells)
        vals: list = [None] * m
        # rows sorted by k and chunked so rows x stencil stays bounded
        # (one far-away d0 must not allocate a huge matrix for all rows)
        order = np.argsort(ks)
        budget = 1 << 22
        i = 0
        while i < m:
            j = i + 1
            while j < m and (j - i + 1) * \
                    (2 * int(ks[order[j]]) + 1) ** 2 <= budget:
                j += 1
            idx = order[i:j]
            out, valid = K_cell.k_ring_batch(
                cells[idx], int(ks[idx].max()), k_per_row=ks[idx])
            for p, row in enumerate(idx):
                vals[row] = np.unique(out[p][valid[p]])
            i = j
        return pd.Series(vals, dtype=object)
    return _udf(cell_col, d0_col)
