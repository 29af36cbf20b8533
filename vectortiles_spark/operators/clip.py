"""Geometry-to-tile clipping: world-space features -> per-tile tile-local
features.

The reference codec encodes tile-LOCAL geometry it is handed
(lib/Geography/VectorTile/Geometry.hs:30-31 — the grid is per tile); how a
world-space road or lake becomes N per-tile fragments is the tiler's job.
This operator is that stage: project each feature to global pixel space at
zoom z (tiles are then axis-aligned `extent`-sized squares), explode it
over the tiles its bbox covers, clip against each (optionally buffered)
tile rectangle, and emit tile-local integer geometry ready for
``geom_features`` -> ``encode_tiles``.

Algorithms (both the planet-standard choices for rectangular clips):
* polygons: EXACT multi-piece clipping via sequential half-plane
  SPLITTING (clip_polygon_exact): per half-plane, every ring's kept arcs
  are collected, the crossing points of all rings sorted along the cut
  line pair up by Jordan parity into the line intervals interior to the
  polygon, and arcs stitch through those connectors into separate simple
  rings. A concave polygon whose tile intersection is disconnected
  therefore comes back as genuinely separate polygons with exact total
  area — naive per-ring Sutherland-Hodgman (still available as
  ``clip_ring``, and the documented fallback for non-simple input)
  bridges such pieces with interior chords and double-winds the area.
  Holes split/merge by the same parity and regroup to the exterior piece
  containing them; rings that collapse below 4 closed points or to zero
  area drop, parts whose exterior drops are dropped whole — mirroring
  simplify.py / the decoder's degenerate-ring rejection;
* polylines: Liang-Barsky per segment (vectorized over the segments of a
  part), contiguous surviving segments re-chain into sub-polylines, so
  one world line becomes k clipped lines in a tile (a Multi* is just more
  parts, VectorTile.hs:118-119);
* points: kept when inside the buffered tile rect.

``buffer_px`` extends each tile's clip rect symmetrically — renderers
need geometry slightly past the edge so strokes/fills survive tile seams
(0 = exact tiling, no duplication; 64 is the common renderer default).
With buffer_px > 0, geometry in the overlap band is intentionally
duplicated into both neighbors.

Scale shape: one ``mapInArrow`` pass, no shuffle — the downstream
``encode_tiles`` shuffle on (z, x, y) is where fragments meet their tile.
LINESTRING rows clip as one whole-batch kernel on the geometry column's
offset/value buffers (_clip_lines_batched) and leave as buffers too;
point and polygon rows take a per-feature lane, since the exact polygon
clipper is a per-ring algorithm.
Row amplification equals true tile coverage (bbox explode, then exact
clip drops empty intersections), the same fan-out any planet tiler pays.

Contract (same as pip_join, per RFC 7946 §3.1.9): geometries must NOT
cross the antimeridian — split them into two features at lon=±180
upstream. A crossing line/polygon fed in raw is interpreted the long way
around the globe (its bbox spans most x tiles), which both amplifies the
tile fan-out and draws the wrong geometry.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..mvt.geometry import GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON, points_in_ring
from .arrow_geom import GEOM_INT64, feature_parts, geom_array, geom_buffers, starts_of

DEFAULT_EXTENT = 4096


def project_equirect(lon: np.ndarray, lat: np.ndarray, z: int, extent: int):
    """Equirectangular global-pixel projection: lon in [-180, 180] ->
    [0, 2^z * extent], lat in [85, -85] -> [0, 2^z * extent] (top-left
    origin, matching the tile grid). Pure +*/ arithmetic — SQL-replayable
    exactly (no trig), which is why the oracle query uses it."""
    span = float((1 << z) * extent)
    px = (np.asarray(lon, np.float64) + 180.0) / 360.0 * span
    py = (85.0 - np.asarray(lat, np.float64)) / 170.0 * span
    return px, py


def project_webmercator(lon: np.ndarray, lat: np.ndarray, z: int, extent: int):
    """WebMercator global-pixel projection (production default; matches
    functions/tiles.py tile math)."""
    span = float((1 << z) * extent)
    px = (np.asarray(lon, np.float64) + 180.0) / 360.0 * span
    rad = np.radians(np.asarray(lat, np.float64))
    py = (1.0 - np.arcsinh(np.tan(rad)) / math.pi) / 2.0 * span
    return px, py


_PROJECTIONS = {"equirect": project_equirect, "webmercator": project_webmercator}

# row bound for one _clip_lines_batched slice (segments x covered tiles);
# ~20 temporaries of this length peak around 300-600 MB
_CHUNK_ROWS = 2_000_000


def _rot(a: np.ndarray, k: int = 1) -> np.ndarray:
    """``np.roll(a, -k, axis=0)`` by slicing — same values, but without
    roll's per-call axis normalization, which dominates on the tiny rings
    the clip kernels see (~8x measured). Bit-identical downstream."""
    return np.concatenate((a[k:], a[:k]))


def _clip_ring_halfplane(pts: np.ndarray, axis: int, bound: float, keep_le: bool):
    """One Sutherland-Hodgman pass: keep the side of `axis == bound` given
    by `keep_le`. `pts` is an OPEN ring (no closing duplicate); returns
    the clipped open ring, possibly empty. Fully vectorized: crossing
    intersections and surviving vertices are interleaved by cumulative
    output positions, no per-vertex Python loop."""
    if not len(pts):
        return pts
    vals = pts[:, axis]
    inside = vals <= bound if keep_le else vals >= bound
    if inside.all():
        return pts
    if not inside.any():
        return pts[:0]
    nxt = _rot(pts)
    inside_n = _rot(inside)
    crossing = inside != inside_n
    # intersection of each crossing edge with the boundary line
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(crossing, (bound - vals) / (nxt[:, axis] - vals), 0.0)
    inter = pts + t[:, None] * (nxt - pts)
    inter[:, axis] = bound  # exact on the boundary, no fp drift
    # per edge (curr -> next), standard S-H emits: the intersection when
    # the edge crosses, then `next` when `next` is inside
    emit_i = crossing
    emit_n = inside_n
    counts = emit_i.astype(np.int64) + emit_n.astype(np.int64)
    pos = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out = np.empty((int(counts.sum()), 2), dtype=np.float64)
    out[pos[emit_i]] = inter[emit_i]
    out[pos[emit_n] + emit_i[emit_n]] = nxt[emit_n]
    return out


def clip_ring(ring_px: np.ndarray, x0: float, y0: float, x1: float, y1: float):
    """Clip an open ring against [x0, x1] x [y0, y1]. Returns the open
    clipped ring (possibly empty)."""
    r = _clip_ring_halfplane(ring_px, 0, x0, keep_le=False)
    r = _clip_ring_halfplane(r, 0, x1, keep_le=True)
    r = _clip_ring_halfplane(r, 1, y0, keep_le=False)
    r = _clip_ring_halfplane(r, 1, y1, keep_le=True)
    return r


def _ring_arcs(ring: np.ndarray, axis: int, bound: float, keep_le: bool):
    """Split one open ring into its maximal arcs on the KEPT side of the
    half-plane. Each arc starts and ends with a crossing point exactly ON
    the boundary line. Returns ([], fully_inside) where fully_inside=True
    means the whole ring is on the kept side (caller passes it through).
    Points exactly on the line count as inside; arcs that lie entirely ON
    the line (tangent touches, collinear grazes) are topologically void
    and dropped so they cannot corrupt the crossing parity. Vectorized:
    transitions, crossings, and run slices come from array ops — the only
    Python loop is one iteration per ARC."""
    vals = ring[:, axis]
    inside = vals <= bound if keep_le else vals >= bound
    if inside.all():
        return [], True
    if not inside.any():
        return [], False
    k = int(np.argmin(inside))  # rotate to start at an outside vertex
    r = _rot(ring, k) if k else ring
    ins = _rot(inside, k) if k else inside
    n = len(r)
    # edge i transitions when ins[i] != ins[i+1]; r[0] is outside, so
    # transitions alternate entry, exit, entry, exit, ... with no wrap
    trans = np.flatnonzero(ins != _rot(ins))
    i = trans
    j = (trans + 1) % n
    vr = r[:, axis]
    tt = (bound - vr[i]) / (vr[j] - vr[i])
    cr = r[i] + tt[:, None] * (r[j] - r[i])
    cr[:, axis] = bound
    arcs = []
    for a_idx in range(0, len(trans), 2):
        e_in, e_out = trans[a_idx], trans[a_idx + 1]
        arc = np.concatenate(
            [cr[a_idx : a_idx + 1], r[e_in + 1 : e_out + 1], cr[a_idx + 1 : a_idx + 2]]
        )
        if not np.all(arc[:, axis] == bound):  # drop on-line-only arcs
            arcs.append(arc)
    return arcs, False


def _split_rings_halfplane(rings: list, axis: int, bound: float, keep_le: bool):
    """Clip a consistently-wound simple-polygon boundary (all rings of one
    part: exterior + holes) by a half-plane, SPLITTING into the correct
    set of simple rings. Crossing points of ALL rings sorted along the
    boundary line pair up (0-1, 2-3, ...) as the line intervals interior
    to the polygon (Jordan parity); each pair joins an arc end to an arc
    start, and walking arc -> connector -> arc stitches the output rings.
    This is what naive Sutherland-Hodgman gets wrong for concave parts
    whose intersection is disconnected: S-H bridges pieces with interior
    chords and double-winds the area."""
    out = []
    arcs = []
    for ring in rings:
        a, fully_inside = _ring_arcs(ring, axis, bound, keep_le)
        if fully_inside:
            out.append(ring)
        arcs.extend(a)
    if not arcs:
        return out
    other = 1 - axis
    events = []  # (s, is_end, arc_id)
    for aid, a in enumerate(arcs):
        events.append((a[0, other], False, aid))
        events.append((a[-1, other], True, aid))
    # Connector DIRECTION is fixed by orientation, not by whichever event
    # types land in a pair: with exterior-positive canonical winding the
    # clipped boundary walks every on-line interval with the kept interior
    # on its LEFT, so for (axis==0)==keep_le connectors run in +other and
    # each interior interval is (arc END, arc START) in sorted order —
    # otherwise the mirror. A pair whose event types contradict this is a
    # parity corruption (tangency, self-intersection, mis-wound input);
    # stitching it anyway emits a reversed piece that the sign-based
    # grouping would misread as a hole and LOSE, so raise to the fallback
    # instead. Ties on s sort the expected-first type first so zero-length
    # interior intervals (arc start meeting arc end at one point) pair in
    # the orientation-consistent order.
    end_first = (axis == 0) == keep_le
    events.sort(key=lambda e: (e[0], e[1] != end_first))
    if len(events) % 2:
        raise ValueError("unpaired crossing (degenerate geometry)")
    next_arc = {}
    for i in range(0, len(events), 2):
        (s1, end1, a1), (s2, end2, a2) = events[i], events[i + 1]
        if end1 == end2:
            raise ValueError("crossing parity violated (degenerate geometry)")
        if end1 != end_first:
            raise ValueError(
                "crossing pattern contradicts boundary orientation "
                "(non-simple or degenerate geometry)"
            )
        if end_first:
            next_arc[a1] = a2
        else:
            next_arc[a2] = a1
    used = set()
    for start in range(len(arcs)):
        if start in used:
            continue
        pts = [arcs[start]]
        used.add(start)
        cur = next_arc[start]
        while cur != start:
            if cur in used:
                raise ValueError("arc revisited (degenerate geometry)")
            used.add(cur)
            pts.append(arcs[cur])
            cur = next_arc[cur]
        out.append(np.concatenate(pts))
    return out


def _ring_signed_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.dot(x, _rot(y)) - np.dot(y, _rot(x)))


def clip_polygon_exact(rings: list, x0: float, y0: float, x1: float, y1: float):
    """Clip one polygon part (open exterior ring + open hole rings, any
    winding) against a rectangle, EXACTLY: disconnected pieces come back
    as separate polygons, holes split/merge correctly via crossing
    parity. Returns a list of parts, each ``[exterior, hole, ...]`` open
    float rings with the input exterior's winding. Falls back to plain
    per-ring Sutherland-Hodgman only if a degenerate crossing pattern
    defeats the parity pairing (non-simple input)."""
    if not rings or len(rings[0]) < 3:
        return []
    # canonicalize to a FIXED internal convention — exterior positive,
    # holes negative (the parity pairing needs consistent orientation and
    # the output grouping keys on the sign); flip back on return so the
    # caller keeps its winding
    rings = [
        r[:-1] if len(r) > 1 and np.array_equal(r[0], r[-1]) else r for r in rings
    ]  # tolerate closed input: a duplicated closing point makes zero-length
    #    edges whose crossings corrupt the parity sort
    flip = _ring_signed_area(rings[0]) < 0
    canon = []
    a0 = 0.0
    for k, r in enumerate(rings):
        rr = r[::-1] if flip else r
        a = _ring_signed_area(rr)
        if (a > 0) != (k == 0) and a != 0:
            rr = rr[::-1]
        if k == 0:
            a0 = a
        canon.append(rr)
    if len(canon) == 1:
        # hole-free part entirely inside the box: the four passes would
        # return the ring untouched and _group_pieces would emit [[ring]]
        # (or drop it when its area is zero) — reproduce both outcomes
        # without the passes. This is the common case when tiling a
        # relation whose parts are small against the tile grid.
        r0 = canon[0]
        if (
            r0[:, 0].min() >= x0 and r0[:, 0].max() <= x1
            and r0[:, 1].min() >= y0 and r0[:, 1].max() <= y1
        ):
            if a0 == 0:
                return []
            return [[r0[::-1]]] if flip else [[r0]]
    try:
        cur = canon
        for axis, bound, keep_le in (
            (0, x0, False), (0, x1, True), (1, y0, False), (1, y1, True),
        ):
            cur = _split_rings_halfplane(cur, axis, bound, keep_le)
            if not cur:
                return []
        parts = _group_pieces(cur)
    except ValueError:
        # degenerate/non-simple input: best-effort S-H per ring, with
        # ring ROLES preserved — if the exterior collapses the whole part
        # drops (a surviving hole must never be promoted to exterior)
        ext = clip_ring(canon[0], x0, y0, x1, y1)
        if len(ext) < 3 or _ring_signed_area(ext) == 0:
            return []
        sh = [ext] + [
            c for r in canon[1:] if len(c := clip_ring(r, x0, y0, x1, y1)) >= 3
        ]
        return [[r[::-1] if flip else r for r in sh]]
    if flip:
        parts = [[r[::-1] for r in part] for part in parts]
    return parts


def _group_pieces(cur: list):
    """Group stitched rings: positive rings are exteriors, negatives are
    holes of the exterior containing them. Containment is decided by ANY
    hole vertex testing strictly inside (the ray cast is
    boundary-exclusive, so a single vertex lying exactly on a clip edge
    must not veto); a hole whose every vertex sits on the boundary falls
    back to bbox containment. A negative ring contained in NO exterior is
    a mis-wound piece (the signature of a corrupted parity stitch) —
    raise so the caller takes the fallback rather than silently losing
    its area."""
    exts = [r for r in cur if _ring_signed_area(r) > 0]
    holes = [r for r in cur if _ring_signed_area(r) < 0]
    parts = [[e] for e in exts]
    for h in holes:
        assigned = False
        for gi, e in enumerate(exts):
            closed = np.concatenate([e, e[:1]])
            if points_in_ring(h[:, 0], h[:, 1], closed).any():
                parts[gi].append(h)
                assigned = True
                break
        if not assigned:
            for gi, e in enumerate(exts):
                if (
                    h[:, 0].min() >= e[:, 0].min()
                    and h[:, 0].max() <= e[:, 0].max()
                    and h[:, 1].min() >= e[:, 1].min()
                    and h[:, 1].max() <= e[:, 1].max()
                ):
                    parts[gi].append(h)
                    assigned = True
                    break
        if not assigned:
            raise ValueError(
                "negative ring contained in no exterior (mis-wound piece)"
            )
    return parts


def clip_polyline(pts: np.ndarray, x0: float, y0: float, x1: float, y1: float):
    """Liang-Barsky over all segments of one polyline, vectorized; chains
    contiguous surviving segments back into sub-polylines. Returns a list
    of (k, 2) float arrays, each with k >= 2."""
    if len(pts) < 2:
        return []
    a = pts[:-1].astype(np.float64)
    bb = pts[1:].astype(np.float64)
    d = bb - a
    # slab entry/exit parameters per axis; p==0 handled via +-inf
    with np.errstate(divide="ignore", invalid="ignore"):
        tx0 = np.where(d[:, 0] != 0, (x0 - a[:, 0]) / d[:, 0], np.where(a[:, 0] >= x0, -np.inf, np.inf))
        tx1 = np.where(d[:, 0] != 0, (x1 - a[:, 0]) / d[:, 0], np.where(a[:, 0] <= x1, np.inf, -np.inf))
        ty0 = np.where(d[:, 1] != 0, (y0 - a[:, 1]) / d[:, 1], np.where(a[:, 1] >= y0, -np.inf, np.inf))
        ty1 = np.where(d[:, 1] != 0, (y1 - a[:, 1]) / d[:, 1], np.where(a[:, 1] <= y1, np.inf, -np.inf))
    tmin = np.maximum(np.minimum(tx0, tx1), np.minimum(ty0, ty1))
    tmax = np.minimum(np.maximum(tx0, tx1), np.maximum(ty0, ty1))
    t0 = np.clip(tmin, 0.0, 1.0)
    t1 = np.clip(tmax, 0.0, 1.0)
    ok = t0 < t1  # strict: zero-length survivors add nothing
    if not ok.any():
        return []
    if ok.all() and not t0.any() and (t1 == 1.0).all():
        # fully inside: the common case for features spanning few tiles —
        # skip chain assembly entirely
        return [pts.astype(np.float64)]
    # Vectorized chain assembly (was a per-segment Python loop — the
    # dominant cost of the whole clip stage at planet scale). A kept
    # segment CONTINUES the previous chain iff the previous segment was
    # kept, ran through its end (t1 == 1), and this one starts at its
    # beginning (t0 == 0); otherwise it STARTS a new chain. Starts emit
    # (entry point, exit point); continuations emit only their exit —
    # interleaved into one buffer by cumulative offsets, then split at
    # the chain-start positions.
    keep = np.flatnonzero(ok)
    ak, bk, dk = a[keep], bb[keep], d[keep]
    t0k, t1k = t0[keep], t1[keep]
    # exact original vertices at t==0/t==1: recomputing a + t*d in float
    # re-derives the endpoint with rounding (a + 1.0*(b - a) != b for
    # ~40% of mixed-magnitude pairs) and used to break the
    # chain-continuity check, splitting continuous lines
    p0 = np.where((t0k == 0.0)[:, None], ak, ak + t0k[:, None] * dk)
    p1 = np.where((t1k == 1.0)[:, None], bk, ak + t1k[:, None] * dk)
    prev_ok = np.concatenate(([False], ok[:-1]))
    prev_t1 = np.concatenate(([0.0], t1[:-1]))
    cont = prev_ok[keep] & (prev_t1[keep] == 1.0) & (t0k == 0.0)
    start = ~cont
    start_i = start.astype(np.int64)
    counts = 1 + start_i
    pos = np.concatenate(([0], np.cumsum(counts)[:-1]))
    buf = np.empty((int(counts.sum()), 2), np.float64)
    buf[pos[start]] = p0[start]
    buf[pos + start_i] = p1
    return np.split(buf, pos[start][1:])


def _clip_lines_batched(
    seg_a: np.ndarray,
    seg_b: np.ndarray,
    sc: np.ndarray,
    feat_of_part: np.ndarray,
    covers: np.ndarray,
    extent: int,
    buffer_px: int,
    n: int,
):
    """Whole-batch polyline clipping: every (part, covered tile) emission
    of every LINESTRING feature in one set of array operations.

    The per-feature path costs ~20 NumPy dispatches per (feature, tile)
    on ~50-segment arrays — dispatch overhead, not compute, dominates the
    clip stage. Here the emission expansion, Liang-Barsky parameters,
    chain assembly, tile localization, rounding dedupe, the exact-tiling
    high-edge ownership test and the grouping into output rows all run
    ONCE over the concatenated rows (segments repeated per covered tile),
    with per-row rect bounds; no Python loop runs per feature, tile or
    chain. Semantics are identical to clip_polyline + _localize_line per
    tile (the differential test in tests/test_clip.py pins this).

    Inputs: seg_a/seg_b = concatenated segment endpoints over all parts
    (feature order), sc = segment count per part, feat_of_part = owning
    feature index per part (non-decreasing), covers = (F, 4) int array
    of tx_lo/tx_hi/ty_lo/ty_hi per feature.

    Returns buffers ``(row_fi, row_tx, row_ty, row_nchains, chain_npts,
    pts)``: one output row per (feature, tile) with clipped geometry, in
    (feature, ty, tx) order, holding the next ``row_nchains`` chains (in
    part order); chain c holds the next ``chain_npts[c]`` rows of the
    (n, 2) int64 tile-local `pts`.
    """
    # emissions ordered (feature, ty, tx, part): emission k of feature f
    # is ((ty - ty_lo) * ntx + (tx - tx_lo)) * nparts + part
    live_part = np.flatnonzero(sc > 0)
    nparts = np.bincount(feat_of_part[live_part], minlength=len(covers))
    ntx = covers[:, 1] - covers[:, 0] + 1
    n_em = ntx * (covers[:, 3] - covers[:, 2] + 1) * nparts
    em_f = np.repeat(np.arange(len(covers)), n_em)
    k = np.arange(len(em_f)) - starts_of(n_em)[:-1][em_f]
    tile = k // nparts[em_f]
    em_part = live_part[starts_of(nparts)[:-1][em_f] + k % nparts[em_f]]
    em_tx = covers[em_f, 0] + tile % ntx[em_f]
    em_ty = covers[em_f, 2] + tile // ntx[em_f]
    # Bound peak memory: total rows = segments x covered tiles, and ONE
    # long feature spanning a wide bbox at high zoom (a 5k-segment ferry
    # track over 100x100 tiles) would materialize ~20 temporaries of 25M
    # rows in one go where the per-tile loop peaked at O(segments).
    # Emissions are independent through chain assembly, so process them
    # in row-bounded chunks; rows are grouped after concatenation, which
    # stitches (fi, tx, ty) groups straddling a chunk boundary.
    cum = np.cumsum(sc[em_part])
    total = int(cum[-1]) if len(cum) else 0
    cuts = np.searchsorted(cum, np.arange(_CHUNK_ROWS, total, _CHUNK_ROWS)) + 1
    bounds = np.unique(np.concatenate(([0], cuts, [len(em_part)])))
    chunks = [
        _clip_lines_emissions(
            seg_a, seg_b, sc, feat_of_part,
            em_part[s:e], em_tx[s:e], em_ty[s:e], extent, buffer_px, n,
        )
        for s, e in zip(bounds[:-1], bounds[1:])
    ] or [_NO_CHAINS]
    c_fi, c_tx, c_ty, chain_npts, pts = (np.concatenate(c) for c in zip(*chunks))
    # chains are in (feature, ty, tx) order because emissions were: a
    # row is each run of equal keys
    new_row = np.ones(len(c_fi), bool)
    new_row[1:] = (
        (c_fi[1:] != c_fi[:-1]) | (c_tx[1:] != c_tx[:-1]) | (c_ty[1:] != c_ty[:-1])
    )
    row_start = np.flatnonzero(new_row)
    row_nchains = np.diff(np.append(row_start, len(c_fi)))
    return (
        c_fi[row_start], c_tx[row_start], c_ty[row_start],
        row_nchains, chain_npts, pts,
    )


# per-chain buffers of an emission slice that yields nothing
_NO_CHAINS = (
    np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0, np.int64),
    np.zeros(0, np.int64), np.zeros((0, 2), np.int64),
)


def _clip_lines_emissions(
    seg_a, seg_b, sc, feat_of_part, em_part, em_tx, em_ty, extent, buffer_px, n
):
    """Row-wise half of _clip_lines_batched for one emission slice:
    ``(chain_fi, chain_tx, chain_ty, chain_npts, pts)`` of its surviving
    chains, in emission order."""
    seg_base = starts_of(sc)[:-1]
    lens = sc[em_part]
    total = int(lens.sum())
    em_row_start = starts_of(lens)[:-1]
    gidx = np.repeat(seg_base[em_part], lens) + (
        np.arange(total) - np.repeat(em_row_start, lens)
    )
    row_em = np.repeat(np.arange(len(em_part)), lens)
    a = seg_a[gidx]
    b = seg_b[gidx]
    d = b - a
    fx0 = np.repeat((em_tx * extent - buffer_px).astype(np.float64), lens)
    fx1 = np.repeat(((em_tx + 1) * extent + buffer_px).astype(np.float64), lens)
    fy0 = np.repeat((em_ty * extent - buffer_px).astype(np.float64), lens)
    fy1 = np.repeat(((em_ty + 1) * extent + buffer_px).astype(np.float64), lens)
    with np.errstate(divide="ignore", invalid="ignore"):
        tx0 = np.where(d[:, 0] != 0, (fx0 - a[:, 0]) / d[:, 0], np.where(a[:, 0] >= fx0, -np.inf, np.inf))
        tx1 = np.where(d[:, 0] != 0, (fx1 - a[:, 0]) / d[:, 0], np.where(a[:, 0] <= fx1, np.inf, -np.inf))
        ty0 = np.where(d[:, 1] != 0, (fy0 - a[:, 1]) / d[:, 1], np.where(a[:, 1] >= fy0, -np.inf, np.inf))
        ty1 = np.where(d[:, 1] != 0, (fy1 - a[:, 1]) / d[:, 1], np.where(a[:, 1] <= fy1, np.inf, -np.inf))
    tmin = np.maximum(np.minimum(tx0, tx1), np.minimum(ty0, ty1))
    tmax = np.minimum(np.maximum(tx0, tx1), np.maximum(ty0, ty1))
    t0 = np.clip(tmin, 0.0, 1.0)
    t1 = np.clip(tmax, 0.0, 1.0)
    ok = t0 < t1
    if not ok.any():
        return _NO_CHAINS
    first_row = np.zeros(total, bool)
    first_row[em_row_start] = True
    prev_ok = np.concatenate(([False], ok[:-1]))
    prev_t1 = np.concatenate(([0.0], t1[:-1]))
    cont = ok & prev_ok & (prev_t1 == 1.0) & (t0 == 0.0) & ~first_row
    keep = np.flatnonzero(ok)
    ak, bk, dk = a[keep], b[keep], d[keep]
    t0k, t1k = t0[keep], t1[keep]
    # exact original vertices at t==0/1 (see clip_polyline)
    p0 = np.where((t0k == 0.0)[:, None], ak, ak + t0k[:, None] * dk)
    p1 = np.where((t1k == 1.0)[:, None], bk, ak + t1k[:, None] * dk)
    startk = ~cont[keep]
    sk = startk.astype(np.int64)
    counts = 1 + sk
    pos = starts_of(counts)[:-1]
    buf = np.empty((int(counts.sum()), 2), np.float64)
    buf[pos[startk]] = p0[startk]
    buf[pos + sk] = p1
    chain_starts = pos[startk]                      # (C,) buffer offsets
    chain_em = row_em[keep][startk]                 # emission per chain
    n_chain = len(chain_starts)
    chain_len = np.diff(np.concatenate((chain_starts, [len(buf)])))
    buf_chain = np.repeat(np.arange(n_chain), chain_len)
    # exact-tiling high-edge ownership, on the UNROUNDED floats: a chain
    # lying entirely on the (unbuffered) high edge belongs to the next
    # tile. all(v == edge) <=> min == max == edge, via reduceat.
    if buffer_px == 0:
        ex1 = ((em_tx[chain_em] + 1) * extent).astype(np.float64)
        ey1 = ((em_ty[chain_em] + 1) * extent).astype(np.float64)
        min_x = np.minimum.reduceat(buf[:, 0], chain_starts)
        max_x = np.maximum.reduceat(buf[:, 0], chain_starts)
        min_y = np.minimum.reduceat(buf[:, 1], chain_starts)
        max_y = np.maximum.reduceat(buf[:, 1], chain_starts)
        on_hi_x = (min_x == ex1) & (max_x == ex1) & (em_tx[chain_em] < n - 1)
        on_hi_y = (min_y == ey1) & (max_y == ey1) & (em_ty[chain_em] < n - 1)
        edge_drop = on_hi_x | on_hi_y
    else:
        edge_drop = np.zeros(n_chain, bool)
    # localize + round + consecutive-dedupe, all rows at once
    off = np.column_stack(
        ((em_tx[chain_em] * extent).astype(np.float64), (em_ty[chain_em] * extent).astype(np.float64))
    )
    ip = np.rint(buf - off[buf_chain]).astype(np.int64)
    first_pt = np.zeros(len(buf), bool)
    first_pt[chain_starts] = True
    same_prev = np.concatenate(([False], np.all(ip[1:] == ip[:-1], axis=1)))
    keep_pt = first_pt | ~same_prev
    kept_per_chain = np.add.reduceat(keep_pt.astype(np.int64), chain_starts)
    live = (kept_per_chain >= 2) & ~edge_drop
    live_em = chain_em[live]
    return (
        feat_of_part[em_part[live_em]], em_tx[live_em], em_ty[live_em],
        kept_per_chain[live], ip[keep_pt & live[buf_chain]],
    )


def _dedupe_consecutive(ipts: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicate integer vertices (rounding collapses)."""
    if len(ipts) <= 1:
        return ipts
    diff = np.any(ipts[1:] != ipts[:-1], axis=1)
    return ipts[np.concatenate(([True], diff))]


def _localize_ring(r: np.ndarray, ox: float, oy: float):
    """Open float ring -> closed tile-local int ring, or None if it
    collapses below the MVT minimum (4 closed points)."""
    ip = np.rint(r - (ox, oy)).astype(np.int64)
    ip = _dedupe_consecutive(ip)
    if len(ip) > 1 and np.array_equal(ip[0], ip[-1]):
        ip = ip[:-1]
    if len(ip) < 3:
        return None
    # rounding can flatten a thin clipped sliver to collinear points OR
    # flip its winding sign; either corrupts the decoder's sign-based
    # exterior/hole grouping (polygon_from_commands: a negative ring
    # attaches to the PRECEDING polygon), so drop the ring when the int
    # shoelace is zero or disagrees in sign with the float ring
    x, y = ip[:, 0], ip[:, 1]
    int_area2 = np.dot(x, _rot(y)) - np.dot(y, _rot(x))
    fx, fy = r[:, 0], r[:, 1]
    float_area2 = np.dot(fx, _rot(fy)) - np.dot(fy, _rot(fx))
    if int_area2 == 0 or (int_area2 > 0) != (float_area2 > 0):
        return None
    return np.concatenate([ip, ip[:1]]).tolist()


def _localize_line(ln: np.ndarray, ox: float, oy: float):
    ip = _dedupe_consecutive(np.rint(ln - (ox, oy)).astype(np.int64))
    return ip.tolist() if len(ip) >= 2 else None


def clip_features(
    df: DataFrame,
    z,
    extent: int = DEFAULT_EXTENT,
    buffer_px: int = 0,
    projection: str = "webmercator",
    layer_col: str = "layer",
    geom_type_col: str = "geom_type",
    geom_col: str = "geom",
    feature_id_col: str = "feature_id",
) -> DataFrame:
    """World-space features -> per-tile tile-local integer features.

    Input rows: (layer, geom_type, feature_id, geom) with geom =
    parts x rings x points x [lon, lat] doubles (points/lines use one
    ring per part). Output: one row per (feature, covered tile) with
    tile_z/tile_x/tile_y and geom in tile-local ints — feed straight
    into ``geom_features``. Features clipped away entirely emit nothing.

    ``z`` may be a single zoom or a sequence of zooms: a whole tileset
    pyramid (z0..z14) is emitted from ONE source scan and ONE projection
    — global pixel coordinates at lower zooms are the top zoom's divided
    by a power of two, which is exact in float64. The alternative, one
    clip_features call per zoom, re-reads and re-projects the full
    feature table Z times. (Pair with a per-zoom ``simplify_geoms``
    tolerance downstream; tolerance is in tile px, so a constant value
    already generalizes more aggressively at lower zooms in world terms.)
    """
    if projection not in _PROJECTIONS:
        raise ValueError(f"projection must be one of {sorted(_PROJECTIONS)}")
    proj = _PROJECTIONS[projection]
    zs = [int(z)] if np.isscalar(z) else sorted({int(v) for v in z})
    if not zs or zs[0] < 0:
        raise ValueError(f"need at least one zoom >= 0, got {z!r}")
    z_top = zs[-1]

    def project_block(flat):
        px, py = proj(flat[:, 0], flat[:, 1], z_top, extent)
        return np.column_stack([px, py])

    def covers_at(bbox, zz):
        """(F, 4) tx_lo/tx_hi/ty_lo/ty_hi of z_top-pixel bboxes at zoom
        zz. Lower zooms reuse the z_top projection: dividing by a power
        of two is exact in float64. Both ends clamp into [0, n):
        geometry exactly on the world east/south edge has
        floor(span/extent) == n, and an unclamped lo would empty the
        range and drop it."""
        scale = float(1 << (z_top - zz))
        n = 1 << zz
        covers = np.empty((len(bbox), 4), np.int64)
        covers[:, 0] = np.clip(np.floor((bbox[:, 0] / scale - buffer_px) / extent), 0, n - 1)
        covers[:, 1] = np.clip(np.floor((bbox[:, 2] / scale + buffer_px) / extent), 0, n - 1)
        covers[:, 2] = np.clip(np.floor((bbox[:, 1] / scale - buffer_px) / extent), 0, n - 1)
        covers[:, 3] = np.clip(np.floor((bbox[:, 3] / scale + buffer_px) / extent), 0, n - 1)
        return covers

    def point_polygon_rows(b, rows):
        """Per-feature lane for the batch rows selected by the mask `rows`
        (POINT and POLYGON; the exact polygon clipper is a per-ring
        algorithm): (batch row, z, x, y, geom_type) per output row plus
        the geometry, built from Python lists."""
        idx = np.flatnonzero(rows)
        gts = b[geom_type_col].take(idx).to_pylist()
        keys, geoms = [], []
        # shared Arrow-native unnest (arrow_geom.feature_parts) with the
        # lon/lat -> global-pixel projection applied to the flat point
        # block in ONE vectorized call; ring views below are zero-copy
        # slices of the projected block
        for j, gt, raw_parts in zip(
            idx, gts, feature_parts(b[geom_col].take(idx), np.float64, transform=project_block)
        ):
            # drop only ring-less parts; EMPTY rings keep their slot —
            # filtering them would promote a polygon's first hole into
            # exterior position when the exterior ring is empty/null
            proj_parts = [part for part in raw_parts if len(part)]
            if not any(len(r) for part in proj_parts for r in part):
                continue
            allpts = np.concatenate([r for p in proj_parts for r in p if len(r)])
            if not np.isfinite(allpts).all():
                # one corrupt coordinate (NaN/inf lon/lat or a
                # projection-domain blowup) must drop THIS feature, not
                # crash the task and kill a planet-scale job
                continue
            bbox = np.concatenate([allpts.min(axis=0), allpts.max(axis=0)])[None]
            for zz in zs:
                scale = float(1 << (z_top - zz))
                n = 1 << zz
                zparts = (
                    proj_parts
                    if scale == 1.0
                    else [[r / scale for r in part] for part in proj_parts]
                )
                tx_lo, tx_hi, ty_lo, ty_hi = covers_at(bbox, zz)[0].tolist()
                if gt == GEOM_POLYGON:
                    # strip closing duplicates ONCE per feature+zoom —
                    # inside the tile loops this identical work would
                    # repeat for every covered tile (hundreds for a large
                    # polygon at high zoom)
                    poly_open_parts = [
                        [
                            ring[:-1]
                            if len(ring) > 1 and np.array_equal(ring[0], ring[-1])
                            else ring
                            for ring in part
                            if len(ring)
                        ]
                        for part in zparts
                        if len(part) and len(part[0])
                    ]
                for ty in range(ty_lo, ty_hi + 1):
                    for tx in range(tx_lo, tx_hi + 1):
                        x0, y0 = tx * extent - buffer_px, ty * extent - buffer_px
                        x1, y1 = (tx + 1) * extent + buffer_px, (ty + 1) * extent + buffer_px
                        ox, oy = float(tx * extent), float(ty * extent)
                        # exact-tiling edge ownership (buffer_px == 0): the
                        # high edge x1/y1 belongs to the NEXT tile (same
                        # line is its local 0), except at the world edge
                        # where there is no next tile — otherwise
                        # boundary-lattice points emit twice. With a
                        # buffer, duplication in the overlap band is the
                        # documented intent.
                        open_hi_x = buffer_px == 0 and tx < n - 1
                        open_hi_y = buffer_px == 0 and ty < n - 1
                        out_parts = []
                        if gt == GEOM_POINT:
                            for part in zparts:
                                p = part[0]
                                m = (
                                    (p[:, 0] >= x0)
                                    & ((p[:, 0] < x1) if open_hi_x else (p[:, 0] <= x1))
                                    & (p[:, 1] >= y0)
                                    & ((p[:, 1] < y1) if open_hi_y else (p[:, 1] <= y1))
                                )
                                if m.any():
                                    kept = np.rint(p[m] - (ox, oy)).astype(np.int64)
                                    out_parts.extend([[pt.tolist()]] for pt in kept)
                        elif gt == GEOM_POLYGON:
                            for open_rings in poly_open_parts:
                                # exact multi-piece clip: disconnected
                                # pieces become separate parts, holes
                                # regroup by containment (see
                                # clip_polygon_exact — naive S-H
                                # double-winds concave splits)
                                for piece in clip_polygon_exact(open_rings, x0, y0, x1, y1):
                                    rings = []
                                    for k, r in enumerate(piece):
                                        loc = _localize_ring(r, ox, oy)
                                        if k == 0 and loc is None:
                                            rings = None  # exterior gone
                                            break
                                        if loc is not None:
                                            rings.append(loc)
                                    if rings:
                                        out_parts.append(rings)
                        else:
                            raise ValueError("Geometry type of UNKNOWN given.")
                        if out_parts:
                            keys.append((j, zz, tx, ty, gt))
                            geoms.append(out_parts)
        keys = np.asarray(keys, np.int64).reshape(-1, 5)
        return keys, pa.array(geoms, GEOM_INT64)

    def line_rows(b, rows):
        """Whole-batch LINESTRING lane for the batch rows selected by the
        mask `rows`, on the column's offset/value buffers: (batch row,
        z, x, y, geom_type) per output row plus the geometry column,
        built by offset arithmetic."""
        idx = np.flatnonzero(rows)
        n_parts, n_rings, n_pts, flat = geom_buffers(b[geom_col].take(idx))
        flat = project_block(flat)
        ring_start = starts_of(n_pts)
        part_ring = starts_of(n_rings)
        feat_part = starts_of(n_parts)
        f_lo = ring_start[part_ring[feat_part[:-1]]]
        f_hi = ring_start[part_ring[feat_part[1:]]]
        # per-feature point ranges are contiguous: a feature with no
        # points, or any non-finite one (NaN/inf lon/lat or a
        # projection-domain blowup), is dropped, not fatal to the task
        n_bad = starts_of(~np.isfinite(flat).all(axis=1))
        has_pts = f_hi > f_lo
        ok = has_pts & (n_bad[f_hi] == n_bad[f_lo])
        kept = idx[ok]
        lo = np.minimum.reduceat(flat, f_lo[has_pts], axis=0)[ok[has_pts]]
        hi = np.maximum.reduceat(flat, f_lo[has_pts], axis=0)[ok[has_pts]]
        bbox = np.concatenate([lo, hi], axis=1)
        # each ringed part of a kept feature clips its FIRST ring
        part_f = np.repeat(np.arange(len(n_parts)), n_parts)
        use = np.flatnonzero(ok[part_f] & (n_rings > 0))
        r0 = part_ring[use]
        sc = np.maximum(n_pts[r0] - 1, 0)
        feat_of_part = (np.cumsum(ok) - 1)[part_f[use]]
        seg = np.repeat(ring_start[r0], sc) + (
            np.arange(int(sc.sum())) - np.repeat(starts_of(sc)[:-1], sc)
        )
        seg_a0, seg_b0 = flat[seg], flat[seg + 1]
        keys, nchains, npts, pts = [], [], [], []
        for zz in zs:
            scale = float(1 << (z_top - zz))
            sa = seg_a0 if scale == 1.0 else seg_a0 / scale
            sb = seg_b0 if scale == 1.0 else seg_b0 / scale
            fi, tx, ty, row_nchains, chain_npts, zpts = _clip_lines_batched(
                sa, sb, sc, feat_of_part, covers_at(bbox, zz), extent, buffer_px, 1 << zz
            )
            keys.append(np.column_stack((
                kept[fi], np.full(len(fi), zz), tx, ty, np.full(len(fi), GEOM_LINESTRING),
            )))
            nchains.append(row_nchains)
            npts.append(chain_npts)
            pts.append(zpts)
        npts = np.concatenate(npts)
        geom = geom_array(
            np.concatenate(nchains), np.ones(len(npts), np.int64), npts, np.concatenate(pts)
        )
        return np.concatenate(keys).astype(np.int64), geom

    def run(batches):
        import pyarrow.compute as pc

        for b in batches:
            is_line = np.asarray(
                pc.fill_null(pc.equal(b[geom_type_col], GEOM_LINESTRING), False)
            )
            # point/polygon rows first, then the line lane's rows
            (k1, g1), (k2, g2) = point_polygon_rows(b, ~is_line), line_rows(b, is_line)
            keys = np.concatenate([k1, k2])
            yield pa.record_batch(
                {
                    "tile_z": pa.array(keys[:, 1], pa.int32()),
                    "tile_x": pa.array(keys[:, 2], pa.int32()),
                    "tile_y": pa.array(keys[:, 3], pa.int32()),
                    "layer": b[layer_col].take(keys[:, 0]).cast(pa.string()),
                    "geom_type": pa.array(keys[:, 4], pa.int32()),
                    "feature_id": b[feature_id_col].take(keys[:, 0]).cast(pa.int64()),
                    "geom": pa.concat_arrays([g1, g2]),
                }
            )

    schema = (
        "tile_z int, tile_x int, tile_y int, layer string, geom_type int, "
        "feature_id bigint, geom array<array<array<array<bigint>>>>"
    )
    from ._fuse import tag

    sel = df.select(layer_col, geom_type_col, feature_id_col, geom_col)
    return tag(sel.mapInArrow(run, schema), sel, run)
