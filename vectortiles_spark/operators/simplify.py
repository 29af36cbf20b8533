"""Zoom-dependent geometry generalization: Douglas-Peucker simplification.

The reference codec encodes whatever vertices it is given (there is no
generalization pass in fosskers/vectortiles); a tiling ENGINE needs one —
re-encoding a z=14 road at z=6 without thinning wastes tile bytes and
decoder time on sub-pixel vertices. This operator simplifies the engine's
nested-array geometry (parts x rings x points x [x, y], tile-local
integers) with classic Douglas-Peucker before command-stream encoding:

* tolerance is in tile-local units (extent px) — pick ~extent/512 for
  "invisible at this zoom" thinning, larger for aggressive generalization;
* every surviving vertex is an ORIGINAL vertex (no resampling), endpoints
  always survive, removed vertices lie within tolerance of the chord that
  replaced them (the DP guarantee), and simplification is idempotent;
* closed polygon rings stay closed; rings that collapse below 4 points
  (closure included — the MVT minimum, LineTo count >= 2) are dropped,
  and a part whose exterior ring collapses is dropped whole (consistent
  with the decoder's degenerate-ring rejection, Internal.hs:202-206);
* points are only rounded to the grid (consecutive duplicates collapse).

Scale shape: one whole-batch NumPy kernel inside ``mapInArrow``
(simplify_buffers) — embarrassingly parallel, no shuffle, runs wherever
the feature rows already are (slot it between the geometry source and
``geom_features``). The geometry stays in the column's offset/value
buffers: one keep-mask over the batch's flat points, Douglas-Peucker for
every line and ring of the batch in one level-synchronous pass
(dp_keep_mask_batch), the drop rules as masks, and the output offsets
rebuilt from the surviving counts. simplify_parts / simplify_ring /
dp_keep_mask are the scalar oracles it is tested against.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..mvt.geometry import GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON
from .arrow_geom import geom_array, geom_buffers, starts_of
from .clip import _rot


def dp_keep_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Boolean keep-mask of Douglas-Peucker at `tol` over an (n, 2) array.
    Endpoints are always kept. Distance is point-to-chord-SEGMENT (the
    projection parameter is clamped to [0, 1], as in JTS/GEOS), not to the
    infinite line — with the line metric an out-and-back spur thousands of
    px past the chord endpoints measures only its lateral offset and
    silently vanishes. A degenerate chord (first == last, e.g. a closed
    ring) reduces to point distance to the anchor, which makes the first
    split land on the farthest vertex — the standard ring anchor."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    P = pts.astype(np.float64)
    t2 = float(tol) * float(tol)
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = P[i + 1 : j]
        d = P[j] - P[i]
        l2 = float(d @ d)
        if l2 == 0.0:
            dist2 = ((seg - P[i]) ** 2).sum(axis=1)
        else:
            t = np.clip(((seg - P[i]) @ d) / l2, 0.0, 1.0)
            proj = P[i] + t[:, None] * d
            dist2 = ((seg - proj) ** 2).sum(axis=1)
        kmax = int(np.argmax(dist2))
        if dist2[kmax] > t2:
            k = i + 1 + kmax
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return keep


def dp_keep_mask_batch(
    P: np.ndarray, starts: np.ndarray, lengths: np.ndarray, tol2: np.ndarray
) -> np.ndarray:
    """Douglas-Peucker keep-masks for MANY polylines at once: `P` is the
    concatenation of all rings' points, `starts`/`lengths` delimit rings,
    `tol2` is the squared tolerance per ring.

    Level-synchronous formulation of the classic recursion: every round
    processes ALL active (i, j) intervals of every ring together — the
    interior points of all intervals go through one vectorized
    point-to-segment distance pass, the per-interval (first) argmax comes
    from paired maximum/minimum.reduceat, and intervals that split feed
    the next round. Identical keep decisions to dp_keep_mask (the scalar
    kernel processes intervals in a different ORDER, but keeps are
    order-independent); ~one round per split-tree LEVEL instead of ~20
    NumPy dispatches per interval, which is what makes whole-batch
    simplification of planet tile fragments cheap."""
    M = len(P)
    keep = np.zeros(M, bool)
    if M == 0:
        return keep
    P = P.astype(np.float64, copy=False)
    nz = lengths > 0
    ends = starts + lengths - 1
    keep[starts[nz]] = True
    keep[ends[nz]] = True
    big = lengths > 2
    act_i = starts[big]
    act_j = ends[big]
    act_t2 = tol2[big].astype(np.float64)
    while len(act_i):
        L = act_j - act_i - 1  # interior points per interval (>= 1)
        total = int(L.sum())
        iv = np.repeat(np.arange(len(act_i)), L)
        row_start = np.concatenate(([0], np.cumsum(L)[:-1]))
        gidx = np.repeat(act_i + 1, L) + (np.arange(total) - np.repeat(row_start, L))
        Pi = P[act_i][iv]
        d = (P[act_j] - P[act_i])[iv]
        seg = P[gidx]
        l2 = (d * d).sum(1)
        sp = ((seg - Pi) * d).sum(1)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.clip(np.where(l2 > 0, sp / l2, 0.0), 0.0, 1.0)
        proj = Pi + t[:, None] * d
        dist2 = ((seg - proj) ** 2).sum(1)
        maxv = np.maximum.reduceat(dist2, row_start)
        # FIRST argmax per interval (np.argmax semantics)
        cand = np.where(dist2 == maxv[iv], np.arange(total), total)
        first = np.minimum.reduceat(cand, row_start)
        split = maxv > act_t2
        ks = gidx[first[split]]
        keep[ks] = True
        ni = np.concatenate([act_i[split], ks])
        nj = np.concatenate([ks, act_j[split]])
        nt = np.concatenate([act_t2[split], act_t2[split]])
        deep = nj > ni + 1
        act_i, act_j, act_t2 = ni[deep], nj[deep], nt[deep]
    return keep


def _to_int_pts(ring) -> np.ndarray:
    """Round (never truncate) to the integer grid and collapse consecutive
    duplicates that sub-pixel rounding creates — a zero-length LineTo or a
    doubled ring vertex is forbidden downstream."""
    pts = np.rint(np.asarray(ring, dtype=np.float64)).astype(np.int64).reshape(-1, 2)
    if len(pts) > 1:
        keep = np.concatenate(([True], np.any(pts[1:] != pts[:-1], axis=1)))
        pts = pts[keep]
    return pts


def simplify_ring(ring: list, tol: float, closed: bool) -> list | None:
    """Simplify one point list. Returns None when the result is too
    degenerate to encode: ring < 4 closed points or ZERO AREA (the
    decoder groups polygons by ring-area sign, so an area-0 ring — e.g. a
    collinear out-and-back spur the segment-distance metric rightly keeps
    — would corrupt exterior/hole classification), line < 2 points after
    duplicate collapse."""
    pts = _to_int_pts(ring)
    if len(pts) <= 2:
        return pts.tolist() if (not closed and len(pts) == 2) else None
    kept = pts[dp_keep_mask(pts, tol)]
    if closed:
        # input rings are closed (first == last); DP keeps both endpoints,
        # so closure survives by construction
        if len(kept) < 4:
            return None
        x, y = kept[:-1, 0], kept[:-1, 1]
        if np.dot(x, _rot(y)) - np.dot(y, _rot(x)) == 0:
            return None
    elif len(kept) < 2:
        return None
    return kept.tolist()


def simplify_parts(geom_type: int, parts: list | None, tol: float) -> list:
    """Apply DP to every ring of a nested-array geometry; enforce the
    drop rules described in the module docstring."""
    parts = parts or []
    if geom_type == GEOM_POINT:
        # pass through, normalized to int lists (inputs may arrive as
        # float ndarray views from the Arrow unnest; round, don't
        # truncate, in case a double-typed geom carries fractions —
        # consecutive-duplicate collapse is a no-op for distinct points)
        return [[_to_int_pts(r).tolist() for r in part] for part in parts]
    out_parts = []
    if geom_type == GEOM_LINESTRING:
        for part in parts:
            if len(part) == 0 or len(part[0]) == 0:
                continue
            line = simplify_ring(part[0], tol, closed=False)
            if line is not None:
                out_parts.append([line])
        return out_parts
    if geom_type == GEOM_POLYGON:
        for part in parts:
            rings = [simplify_ring(r, tol, closed=True) for r in part]
            if not rings or rings[0] is None:
                continue  # exterior collapsed: the whole part goes
            out_parts.append([r for r in rings if r is not None])
        return out_parts
    raise ValueError("Geometry type of UNKNOWN given.")


def simplify_buffers(gt, tol, n_parts, n_rings, n_pts, flat):
    """Batch form of simplify_parts over one column's geom_buffers: `gt`
    and `tol` give each feature's geometry type and tolerance; returns
    the simplified int64 geometry column. One keep-mask over the flat
    points (round + consecutive-dedupe, then dp_keep_mask_batch for every
    line and ring) and the drop rules as masks over rings and parts; the
    output offsets are the surviving counts."""
    part_f = np.repeat(np.arange(len(n_parts)), n_parts)
    ring_p = np.repeat(np.arange(len(n_rings)), n_rings)
    pt_ring = np.repeat(np.arange(len(n_pts)), n_pts)
    part_ring = starts_of(n_rings)
    ring_gt = gt[part_f[ring_p]]
    # a line part keeps only its first ring
    enter = (ring_gt != GEOM_LINESTRING) | (np.arange(len(ring_p)) == part_ring[ring_p])
    # _to_int_pts per ring: round (never truncate), collapse consecutive
    # duplicates; each ring's first point always stays
    ip = np.rint(flat).astype(np.int64)
    keep = np.ones(len(ip), bool)
    keep[1:] = np.any(ip[1:] != ip[:-1], axis=1)
    keep[starts_of(n_pts)[:-1][n_pts > 0]] = True
    keep &= enter[pt_ring]
    # Douglas-Peucker over every line and polygon ring at once
    dp_ring = enter & (ring_gt != GEOM_POINT)
    idx = np.flatnonzero(keep & dp_ring[pt_ring])
    dlens = np.bincount(pt_ring[idx], minlength=len(n_pts))[dp_ring]
    t2 = tol[part_f[ring_p]][dp_ring] ** 2
    dp = dp_keep_mask_batch(ip[idx].astype(np.float64), starts_of(dlens)[:-1], dlens, t2)
    keep[idx[~dp]] = False
    kcount = np.bincount(pt_ring[keep], minlength=len(n_pts))
    # twice the integer shoelace area of each polygon ring over its kept
    # points minus the closing one (simplify_ring's zero-area rule; int64
    # wraps the same way np.dot does)
    poly = enter & (ring_gt == GEOM_POLYGON)
    pidx = np.flatnonzero(keep & poly[pt_ring])
    K = ip[pidx]
    m = kcount[pt_ring[pidx]]
    pstart = starts_of(np.where(poly, kcount, 0))
    i = np.arange(len(K))
    j = i - pstart[pt_ring[pidx]]
    nxt = np.where(j <= m - 3, i + 1, i - j)
    cross = K[:, 0] * K[nxt, 1] - K[:, 1] * K[nxt, 0]
    cross[j == m - 1] = 0
    csum = starts_of(cross)
    area2 = csum[pstart[1:]] - csum[pstart[:-1]]
    # drop rules: a line needs 2 points, a ring 4 and a non-zero area; a
    # part whose exterior (first ring) drops, or that has no ring, goes
    # whole; points pass through with every part and ring
    ring_ok = enter & np.where(
        ring_gt == GEOM_POINT,
        True,
        np.where(ring_gt == GEOM_LINESTRING, kcount >= 2, (kcount >= 4) & (area2 != 0)),
    )
    ring0_ok = np.zeros(len(n_rings), bool)
    has = n_rings > 0
    ring0_ok[has] = ring_ok[part_ring[:-1][has]]
    part_ok = (gt[part_f] == GEOM_POINT) | ring0_ok
    ring_keep = ring_ok & part_ok[ring_p]
    keep &= ring_keep[pt_ring]
    return geom_array(
        np.bincount(part_f[part_ok], minlength=len(n_parts)),
        np.bincount(ring_p[ring_keep], minlength=len(n_rings))[part_ok],
        kcount[ring_keep],
        ip[keep],
    )


def simplify_geoms(
    df: DataFrame,
    tolerance: float,
    geom_type_col: str = "geom_type",
    geom_col: str = "geom",
    tolerance_by_zoom: dict | None = None,
    zoom_col: str = "tile_z",
) -> DataFrame:
    """DataFrame pass: simplify the nested-array geometry column in place
    (schema unchanged). Parts/rings that collapse below the MVT minimums
    are dropped; a row whose geometry empties entirely is kept with an
    empty parts array — geom_features then emits an empty command stream
    and the sink drops the feature, mirroring its degenerate-input path.

    ``tolerance_by_zoom`` maps tile_z -> tolerance for the multi-zoom
    pyramid output of ``clip_features(z=[...])`` (tolerance is in tile
    px, so even a constant already generalizes more aggressively at lower
    zooms in world terms — the per-zoom map is for when a tileset spec
    demands explicit budgets); zooms not in the map fall back to
    ``tolerance``."""
    if tolerance < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance}")
    if tolerance_by_zoom:
        bad = [z for z, t in tolerance_by_zoom.items() if t < 0]
        if bad:
            raise ValueError(f"negative tolerance for zooms {bad}")
        if zoom_col not in df.columns:
            raise ValueError(f"tolerance_by_zoom needs a {zoom_col!r} column")

    def run(batches):
        for b in batches:
            gt = np.asarray(b[geom_type_col].to_numpy(zero_copy_only=False))
            if not np.isin(gt, (GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON)).all():
                raise ValueError("Geometry type of UNKNOWN given.")
            tol = np.full(len(gt), float(tolerance))
            if tolerance_by_zoom:
                zooms = b[zoom_col].to_numpy(zero_copy_only=False)
                for z, t in tolerance_by_zoom.items():
                    tol[zooms == z] = t
            geom = simplify_buffers(gt, tol, *geom_buffers(b[geom_col]))
            cols = {name: b[name] for name in b.schema.names}
            cols[geom_col] = geom.cast(b.schema.field(geom_col).type)
            yield pa.record_batch(cols)

    from ._fuse import compose, tag, tagged

    up = tagged(df)
    if up is not None:
        # fuse with the upstream mapInArrow (same parent, composed
        # generators): one Python worker and zero intermediate JVM hops
        # for e.g. clip -> simplify; df.schema is unchanged either way
        parent, prev = up
        fused = compose(prev, run)
        return tag(parent.mapInArrow(fused, df.schema), parent, fused)
    return tag(df.mapInArrow(run, df.schema), df, run)
