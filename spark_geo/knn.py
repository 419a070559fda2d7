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
  inside mapInPandas — no shuffle.
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


def _nearest_all_points(xs, ys, txs, tys, tpos, max_distance):
    """Vectorized all-ties nearest (the all-equidistant semantics of
    reference strtree.py:278-355).

    Physical algorithm (r6, guide §1.2 "the distributed algorithm
    first"): a uniform grid bucket index over the right points replaces
    the (batch ✕ items) distance matrix — expected work per probe is
    O(points per occupied cell), not O(m).  Exactness is preserved: the
    ring expansion stops only when the running minimum provably beats
    every unvisited cell (cell-index delta >= k+1 implies coordinate
    distance >= k * cell_width), and the final all-ties gather
    recomputes np.hypot over the full disk of radius ceil(best/cw)+1,
    keeping d == best ties by exact float equality — bit-identical to
    the former matrix path (same np.hypot, same comparisons; verified
    in tests/test_knn_grid.py)."""
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
        return (np.empty(0, np.int64),) * 2 + (np.empty(0),)
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
    tix = np.clip(((txs - xmin) / cw).astype(np.int64), 0, n_side - 1)
    tiy = np.clip(((tys - ymin) / cw).astype(np.int64), 0, n_side - 1)
    tcells = tiy * n_side + tix
    order = np.argsort(tcells, kind="stable")
    tcells_s = tcells[order]
    txs_s, tys_s, tpos_s = txs[order], tys[order], tpos[order]

    def gather(cells, rix):
        """flat (cell, probe_row) pairs -> per-candidate (probe_row,
        sorted-item index) via two searchsorted calls (the same
        candidate expansion as join._point_candidates)."""
        lo = np.searchsorted(tcells_s, cells, side="left")
        hi = np.searchsorted(tcells_s, cells, side="right")
        counts = hi - lo
        tot = int(counts.sum())
        if tot == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        starts = np.repeat(lo, counts)
        csum = np.cumsum(counts) - counts
        intra = np.arange(tot, dtype=np.int64) - np.repeat(csum, counts)
        return np.repeat(rix, counts), starts + intra

    valid = ~(np.isnan(xs) | np.isnan(ys))
    sxs = np.where(valid, xs, 0.0)
    sys_ = np.where(valid, ys, 0.0)
    gx = np.clip(((sxs - xmin) / cw).astype(np.int64), 0, n_side - 1)
    gy = np.clip(((sys_ - ymin) / cw).astype(np.int64), 0, n_side - 1)

    # -- phase 1: ring expansion until the minimum is proven ----------
    best = np.full(n, np.inf)
    alive = valid.copy()
    k = 0
    while alive.any() and k <= n_side:
        rows = np.nonzero(alive)[0]
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
        k += 1

    # -- phase 2: exact all-ties disk gather --------------------------
    have = valid & np.isfinite(best)
    if max_distance is not None:
        have &= best <= max_distance
    rows = np.nonzero(have)[0]
    if not len(rows):
        return (np.empty(0, np.int64),) * 2 + (np.empty(0),)
    kf = np.minimum(np.ceil(best[rows] / cw), float(n_side)) \
        .astype(np.int64) + 1
    lefts, rights, dists = [], [], []
    order2 = np.argsort(kf)
    budget = 1 << 22
    i = 0
    while i < len(rows):
        j = i + 1
        while j < len(rows) and (j - i + 1) * \
                (2 * int(kf[order2[j]]) + 1) ** 2 <= budget:
            j += 1
        sel = order2[i:j]
        kk = int(kf[sel].max())
        e = np.arange(-kk, kk + 1, dtype=np.int64)
        ddx = np.repeat(e, 2 * kk + 1)
        ddy = np.tile(e, 2 * kk + 1)
        rr = rows[sel]
        cx = gx[rr][:, None] + ddx[None, :]
        cy = gy[rr][:, None] + ddy[None, :]
        okc = (cx >= 0) & (cx < n_side) & (cy >= 0) & (cy < n_side)
        okc &= np.maximum(np.abs(ddx), np.abs(ddy))[None, :] \
            <= kf[sel][:, None]
        prow, item = gather((cy * n_side + cx)[okc],
                            np.repeat(rr, okc.sum(axis=1)))
        if len(item):
            d = np.hypot(xs[prow] - txs_s[item], ys[prow] - tys_s[item])
            tie = d == best[prow]
            lefts.append(prow[tie])
            rights.append(tpos_s[item[tie]])
            dists.append(d[tie])
        i = j
    if not lefts:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0),)
    li = np.concatenate(lefts)
    ri = np.concatenate(rights)
    dd = np.concatenate(dists)
    # row-major (left, right-position) order like the matrix path's
    # np.nonzero — downstream tie-breaks (lexsort) do not depend on it,
    # but keep the contract deterministic
    order3 = np.lexsort((ri, li))
    return li[order3], ri[order3], dd[order3]


def _nearest_all_points_matrix(xs, ys, txs, tys, tpos, max_distance):
    """Small-tree fallback: chunked (batch ✕ items) distance matrix."""
    n, m = len(xs), len(txs)
    lefts, rights, dists = [], [], []
    chunk = max(1, int(4e7 // max(m, 1)))
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        cx, cy = xs[s:e], ys[s:e]
        d = np.hypot(cx[:, None] - txs[None, :], cy[:, None] - tys[None, :])
        dmin = d.min(axis=1)
        ok = ~np.isnan(dmin)
        if max_distance is not None:
            ok &= dmin <= max_distance
        ties = (d == dmin[:, None]) & ok[:, None]
        li, ri = np.nonzero(ties)
        lefts.append(li + s)
        rights.append(tpos[ri])
        dists.append(d[li, ri])
    if not lefts:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0),)
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
