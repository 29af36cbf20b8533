"""Geometry-to-tile clipping: kernel properties (exact rectangle overlap,
polygon area conservation, line length conservation) and the distributed
pass through the encode pipeline."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.mvt import codec
from vectortiles_spark.mvt.geometry import GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON
from vectortiles_spark.operators import tiling
from vectortiles_spark.operators.clip import (
    clip_features,
    clip_polyline,
    clip_ring,
    project_equirect,
)

EXT = 4096


def _shoelace(ring):
    r = np.asarray(ring, dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _rect_ring(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)


def test_clip_ring_rect_overlap_exact():
    """Axis-aligned rect clipped by a rect == the overlap rectangle."""
    ring = _rect_ring(100, 200, 900, 700)
    out = clip_ring(ring, 0, 0, 500, 500)
    assert _shoelace(out) == (500 - 100) * (500 - 200)
    # disjoint -> empty
    assert len(clip_ring(ring, 2000, 2000, 3000, 3000)) == 0
    # fully inside -> unchanged area
    assert _shoelace(clip_ring(ring, 0, 0, 1000, 1000)) == 800 * 500


def test_clip_ring_general_polygon_area_conservation():
    """A convex polygon clipped by the 4 quadrants of a box conserves
    total area (intersections are exact within fp tolerance)."""
    rng = np.random.Generator(np.random.PCG64(9))
    for _ in range(20):
        pts = rng.uniform(0, 1000, size=(8, 2))
        hull = pts[np.argsort(np.arctan2(*(pts - pts.mean(0)).T[::-1]))]
        total = _shoelace(hull)
        quads = [(0, 0, 500, 500), (500, 0, 1000, 500), (0, 500, 500, 1000), (500, 500, 1000, 1000)]
        clipped = sum(
            _shoelace(c) for q in quads if len(c := clip_ring(hull, *q)) >= 3
        )
        assert abs(clipped - total) < 1e-6 * max(total, 1.0)


def test_clip_polyline_length_conservation_and_chaining():
    """Segments inside the box keep their length; a line that exits and
    re-enters splits into the right number of sub-lines."""
    # M-shaped line crossing the box twice
    line = np.array([[-100, 100], [200, 100], [200, -100], [300, -100], [300, 100], [600, 100]], dtype=np.float64)
    subs = clip_polyline(line, 0, 0, 500, 500)
    assert len(subs) == 2
    lengths = [np.sqrt(((s[1:] - s[:-1]) ** 2).sum(1)).sum() for s in subs]
    assert lengths[0] == pytest.approx(200 + 100)  # (0,100)->(200,100)->(200,0)
    assert lengths[1] == pytest.approx(100 + 200)  # (300,0)->(300,100)->(500,100)
    # fully inside: one sub-line, identical
    inside = np.array([[10, 10], [50, 50], [90, 10]], dtype=np.float64)
    subs = clip_polyline(inside, 0, 0, 100, 100)
    assert len(subs) == 1 and np.allclose(subs[0], inside)
    # fully outside (same slab): nothing
    assert clip_polyline(np.array([[600.0, 0], [600, 400]]), 0, 0, 500, 500) == []


def _px_to_lonlat(px, py, z):
    span = (1 << z) * EXT
    return px * 360.0 / span - 180.0, 85.0 - py * 170.0 / span


def test_equirect_projection_roundtrips_lattice():
    z = 3
    rng = np.random.Generator(np.random.PCG64(2))
    px = rng.integers(0, (1 << z) * EXT, 100).astype(np.float64)
    py = rng.integers(0, (1 << z) * EXT, 100).astype(np.float64)
    lon, lat = _px_to_lonlat(px, py, z)
    bx, by = project_equirect(lon, lat, z, EXT)
    assert np.array_equal(bx, px) and np.array_equal(by, py)


def test_clip_features_distributed_rects_and_points(spark):
    """Distributed pass: world rects on the exact pixel lattice at z=2 ->
    per-tile area sums equal the integer overlap; clipped output encodes
    and decodes through the reference-semantics sink."""
    z = 2
    rng = np.random.Generator(np.random.PCG64(31))
    rows = []
    truth = {}  # (fid, tx, ty) -> overlap area
    for fid in range(25):
        x0, y0 = rng.integers(0, 3 * EXT, 2)
        w, h = rng.integers(100, int(1.5 * EXT), 2)
        x1, y1 = min(int(x0 + w), 4 * EXT), min(int(y0 + h), 4 * EXT)
        lons, lats = _px_to_lonlat(np.array([x0, x1], float), np.array([y0, y1], float), z)
        lons, lats = [float(v) for v in lons], [float(v) for v in lats]
        ring = [
            [lons[0], lats[0]], [lons[1], lats[0]],
            [lons[1], lats[1]], [lons[0], lats[1]], [lons[0], lats[0]],
        ]
        rows.append(("boxes", GEOM_POLYGON, fid, [[ring]]))
        for tx in range(4):
            for ty in range(4):
                ox = max(0, min(x1, (tx + 1) * EXT) - max(x0, tx * EXT))
                oy = max(0, min(y1, (ty + 1) * EXT) - max(y0, ty * EXT))
                if ox > 0 and oy > 0:
                    truth[(fid, tx, ty)] = ox * oy
    df = spark.createDataFrame(
        rows,
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    clipped = clip_features(df, z=z, projection="equirect")
    got = {}
    for r in clipped.collect():
        assert r.tile_z == z
        area = sum(_shoelace(ring) for part in r.geom for ring in part)
        got[(r.feature_id, r.tile_x, r.tile_y)] = area
    assert got == truth
    # e2e: the clipped fragments are encodable + decodable
    feats = tiling.geom_features(clipped)
    tiles = tiling.encode_tiles(feats).collect()
    n_feats = sum(
        len(layer.features) for t in tiles for layer in codec.decode_tile(t.mvt).values()
    )
    assert n_feats == len(truth)


def test_clip_features_buffer_duplicates_edge_geometry(spark):
    """buffer_px > 0 duplicates near-edge geometry into the neighbor tile
    (seam rendering); buffer 0 does not."""
    z = 1
    # a point 10px left of the tile-0/tile-1 boundary
    lon, lat = _px_to_lonlat(np.array([EXT - 10.0]), np.array([EXT / 2.0]), z)
    df = spark.createDataFrame(
        [("pts", GEOM_POINT, 1, [[[[float(lon[0]), float(lat[0])]]]])],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    no_buf = clip_features(df, z=z, projection="equirect", buffer_px=0).collect()
    assert {(r.tile_x, r.tile_y) for r in no_buf} == {(0, 0)}
    buf = clip_features(df, z=z, projection="equirect", buffer_px=64).collect()
    assert {(r.tile_x, r.tile_y) for r in buf} == {(0, 0), (1, 0)}
    # the duplicated copy sits in the neighbor's buffer zone (negative x)
    by_tile = {(r.tile_x, r.tile_y): r.geom for r in buf}
    assert by_tile[(1, 0)][0][0][0][0] == -10


def test_clip_features_line_splits_into_parts(spark):
    """A line that leaves and re-enters one tile arrives as 2 parts there."""
    z = 1
    px = np.array([100.0, EXT + 200, EXT + 200, 100.0, 100.0], float)
    py = np.array([100.0, 100.0, 600.0, 600.0, 2000.0], float)
    lon, lat = _px_to_lonlat(px, py, z)
    line = [[float(lo), float(la)] for lo, la in zip(lon, lat)]
    df = spark.createDataFrame(
        [("roads", GEOM_LINESTRING, 7, [[line]])],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    out = {(r.tile_x, r.tile_y): r.geom for r in clip_features(df, z=z, projection="equirect").collect()}
    assert set(out) == {(0, 0), (1, 0)}
    assert len(out[(0, 0)]) == 2  # exits through the right edge, comes back
    assert len(out[(1, 0)]) == 1


def test_clip_features_no_shuffle(spark):
    """The clip pass is embarrassingly parallel — its plan must contain no
    shuffle Exchange (fan-out happens in the downstream encode shuffle)."""
    from vectortiles_spark.plans import audit

    df = spark.createDataFrame(
        [("l", GEOM_POLYGON, 1, [[[[0.0, 10.0], [10.0, 10.0], [10.0, 0.0], [0.0, 10.0]]]])],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    assert audit.count_shuffles(clip_features(df, z=3)) == 0


def test_clip_features_random_polygons_area_conserved(spark):
    """Operator-path property: random convex world polygons clipped over
    the whole z=2 grid conserve total area within the integer-rounding
    bound (perimeter/2 per fragment)."""
    z, span = 2, 4 * EXT
    rng = np.random.Generator(np.random.PCG64(41))
    rows = []
    true_areas = {}
    for fid in range(15):
        c = rng.uniform(0.2 * span, 0.8 * span, 2)
        pts = c + rng.uniform(-0.3 * span, 0.3 * span, size=(10, 2))
        pts = np.clip(pts, 0, span - 1)
        hull = pts[np.argsort(np.arctan2(*(pts - pts.mean(0)).T[::-1]))]
        lon, lat = _px_to_lonlat(hull[:, 0], hull[:, 1], z)
        ring = [[float(a), float(b)] for a, b in zip(lon, lat)]
        ring.append(ring[0])
        rows.append(("p", GEOM_POLYGON, fid, [[ring]]))
        true_areas[fid] = _shoelace(hull)
    df = spark.createDataFrame(
        rows,
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    got = {}
    slack = {}
    for r in clip_features(df, z=z, projection="equirect").collect():
        for part in r.geom:
            ring = np.asarray(part[0], dtype=np.float64)
            got[r.feature_id] = got.get(r.feature_id, 0.0) + _shoelace(ring)
            per = np.sqrt(((ring[1:] - ring[:-1]) ** 2).sum(1)).sum()
            slack[r.feature_id] = slack.get(r.feature_id, 0.0) + per
    for fid, a in true_areas.items():
        assert abs(got[fid] - a) <= 0.5 * slack[fid] + 1e-6, (fid, got[fid], a)


def test_clip_polyline_no_spurious_splits_on_float_recompute():
    """A fully-inside polyline must come back as ONE sub-line even when
    a + 1.0*(b - a) != b in float64 (mixed-magnitude coordinates)."""
    pts = np.array(
        [[291081.01803218387, 100.0], [6226.188985027142, 200.0], [50000.0, 300.0]]
    )
    subs = clip_polyline(pts, 0, 0, 1e6, 1e6)
    assert len(subs) == 1 and np.allclose(subs[0], pts)


def test_boundary_lattice_ownership_no_duplication(spark):
    """buffer_px=0 is EXACT tiling: geometry on a tile boundary belongs to
    the higher tile only (its local 0), except at the world edge."""
    z = 1
    # point exactly on the 0/1 boundary; point exactly on the world east edge
    lon, lat = _px_to_lonlat(np.array([float(EXT), 2.0 * EXT]), np.array([100.0, 100.0]), z)
    df = spark.createDataFrame(
        [
            ("pts", GEOM_POINT, 1, [[[[float(lon[0]), float(lat[0])]]]]),
            ("pts", GEOM_POINT, 2, [[[[float(lon[1]), float(lat[1])]]]]),
        ],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    got = {(r.feature_id, r.tile_x, r.tile_y) for r in clip_features(df, z=z, projection="equirect").collect()}
    assert got == {(1, 1, 0), (2, 1, 0)}  # boundary -> right tile; world edge -> last tile keeps it
    # a vertical line exactly along the boundary: one copy, in the right tile
    ly = np.array([100.0, 900.0])
    llon, llat = _px_to_lonlat(np.array([float(EXT)] * 2), ly, z)
    line = [[float(a), float(b)] for a, b in zip(llon, llat)]
    ldf = spark.createDataFrame(
        [("roads", GEOM_LINESTRING, 5, [[line]])],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    lgot = [(r.tile_x, r.tile_y, r.geom) for r in clip_features(ldf, z=z, projection="equirect").collect()]
    assert [(t[0], t[1]) for t in lgot] == [(1, 0)]
    assert all(p[0] == 0 for p in lgot[0][2][0][0])  # local x == 0 in the owner


def test_clip_webmercator_agrees_with_tile_math(spark):
    """Points clipped under the production webmercator projection land in
    exactly the tile functions/tiles.py assigns them (the engine's one
    source of truth for the grid)."""
    from vectortiles_spark.functions.tiles import tile_xy_np

    rng = np.random.Generator(np.random.PCG64(6))
    lon = rng.uniform(-179.9, 179.9, 40)
    lat = rng.uniform(-84.0, 84.0, 40)
    df = spark.createDataFrame(
        [
            ("p", GEOM_POINT, i, [[[[float(lon[i]), float(lat[i])]]]])
            for i in range(40)
        ],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    z = 5
    got = {r.feature_id: (r.tile_x, r.tile_y) for r in clip_features(df, z=z).collect()}
    tx, ty = tile_xy_np(lon, lat, z)
    assert got == {i: (int(tx[i]), int(ty[i])) for i in range(40)}


def test_line_near_edge_rounds_onto_boundary_not_lost(spark):
    """A line 0.3 px INSIDE a tile's high edge rounds onto the boundary;
    it must stay with the tile that clipped it (the neighbor's unrounded
    clip drops it), not vanish from both."""
    z = 1
    px = np.array([EXT - 0.3, EXT - 0.3])
    py = np.array([100.0, 900.0])
    lon, lat = _px_to_lonlat(px, py, z)
    df = spark.createDataFrame(
        [("r", GEOM_LINESTRING, 1, [[[[float(a), float(b)] for a, b in zip(lon, lat)]]])],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    got = [(r.tile_x, r.tile_y) for r in clip_features(df, z=z, projection="equirect").collect()]
    assert got == [(0, 0)]


def test_empty_exterior_does_not_promote_hole(spark):
    """A polygon part whose exterior ring is empty must drop whole — the
    first hole must NOT be promoted to exterior position."""
    hole = np.array([[100.0, 100.0], [100.0, 200.0], [200.0, 200.0], [100.0, 100.0]])  # CCW-ish
    lon, lat = _px_to_lonlat(hole[:, 0], hole[:, 1], 1)
    ring = [[float(a), float(b)] for a, b in zip(lon, lat)]
    df = spark.createDataFrame(
        [("p", GEOM_POLYGON, 1, [[[], ring]])],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    assert clip_features(df, z=1, projection="equirect").collect() == []


def test_clip_polyline_partitions_length_across_grid():
    """Clipping the same polyline against every tile of a grid must
    PARTITION its length: no double-counted overlaps, no boundary gaps
    (random floats never land exactly on a boundary)."""
    rng = np.random.Generator(np.random.PCG64(13))
    for _ in range(10):
        pts = rng.uniform(0, 2000, size=(30, 2))
        seg = pts[1:] - pts[:-1]
        total = np.sqrt((seg**2).sum(1)).sum()
        clipped = 0.0
        for tx in range(4):
            for ty in range(4):
                for sub in clip_polyline(pts, tx * 500, ty * 500, (tx + 1) * 500, (ty + 1) * 500):
                    d = sub[1:] - sub[:-1]
                    clipped += np.sqrt((d**2).sum(1)).sum()
        assert abs(clipped - total) < 1e-6 * total


def test_clip_polygon_exact_concave_star_area_conservation():
    """The exact clipper conserves area for CONCAVE simple polygons whose
    tile intersections disconnect — the case naive S-H double-winds.
    Star-shaped polygons (sorted angles, random radii) are always simple;
    every piece must itself have positive area and the per-tile pieces
    must sum to the whole."""
    from hypothesis import given, settings, strategies as st

    from vectortiles_spark.operators.clip import clip_polygon_exact

    @settings(max_examples=60, deadline=None)
    @given(st.integers(0, 2**32 - 1))
    def run(seed):
        rng = np.random.Generator(np.random.PCG64(seed))
        k = int(rng.integers(4, 16))
        # equally-spaced jittered angles keep every wedge < pi, which
        # (with positive radii) guarantees the radial polygon is SIMPLE —
        # raw sorted-uniform angles can produce self-intersections when a
        # gap exceeds pi (found by this very test)
        ang = (np.arange(k) + rng.uniform(0.05, 0.95, k)) * (2 * np.pi / k)
        rad = rng.uniform(50, 900, k)
        cx, cy = rng.uniform(200, 800, 2)
        hull = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        total = _shoelace(hull)
        clipped = 0.0
        for gx in range(-2, 4):
            for gy in range(-2, 4):
                for piece in clip_polygon_exact(
                    [hull], gx * 500, gy * 500, (gx + 1) * 500, (gy + 1) * 500
                ):
                    for ri, r in enumerate(piece):
                        a = _shoelace(r)
                        assert a > 0 or ri > 0, (seed, "non-positive exterior")
                        clipped += a if ri == 0 else -a
        assert abs(clipped - total) < 1e-6 * max(total, 1.0), (seed, clipped, total)

    run()


def test_clip_polygon_exact_annulus_hole_handling():
    """Square-with-square-hole (axis-aligned, integer coords) clipped by
    rects that bisect the hole: per-piece (exterior - holes) areas are
    integer-exact, holes regroup to the right piece, and totals match the
    closed-form overlap difference."""
    from vectortiles_spark.operators.clip import clip_polygon_exact

    ext = _rect_ring(100, 100, 900, 900)            # CCW (positive here)
    hole = _rect_ring(300, 300, 700, 700)[::-1]     # opposite winding
    def area_of(pieces):
        tot = 0.0
        for p in pieces:
            tot += _shoelace(p[0]) - sum(_shoelace(h) for h in p[1:])
        return tot
    # clip rect bisects the hole vertically: each half keeps an L-shaped
    # region = ext-overlap minus hole-overlap
    left = clip_polygon_exact([ext, hole], 0, 0, 500, 1000)
    assert area_of(left) == (500 - 100) * 800 - (500 - 300) * 400
    right = clip_polygon_exact([ext, hole], 500, 0, 1000, 1000)
    assert area_of(right) == (900 - 500) * 800 - (700 - 500) * 400
    # clip rect strictly inside the hole -> nothing
    assert clip_polygon_exact([ext, hole], 400, 400, 600, 600) == []
    # clip rect containing everything -> unchanged, hole still attached
    whole = clip_polygon_exact([ext, hole], 0, 0, 1000, 1000)
    assert len(whole) == 1 and len(whole[0]) == 2
    assert area_of(whole) == 800 * 800 - 400 * 400
    # clip rect inside the solid band: plain square, no hole
    band = clip_polygon_exact([ext, hole], 120, 120, 280, 280)
    assert len(band) == 1 and len(band[0]) == 1
    assert area_of(band) == 160 * 160


def test_clip_polygon_exact_rectilinear_masks_conserve_area():
    """Adversarial degeneracy fuzz: random binary masks traced to
    rectilinear multi-ring polygons (holes, and every edge collinear with
    some clip boundary at scale 250) must conserve EXACT integer area
    through the clipper across a 2x2 tile grid."""
    from vectortiles_spark.operators.clip import clip_polygon_exact
    from vectortiles_spark.operators.raster import mask_to_polygons

    rng = np.random.Generator(np.random.PCG64(19))
    for trial in range(15):
        mask = rng.random((8, 8)) < 0.55
        if not mask.any():
            continue
        scale = 250  # cell edges land exactly on the 500-px clip lines
        truth = int(mask.sum()) * scale * scale
        parts = mask_to_polygons(mask.astype(np.uint8), scale=scale)
        clipped = 0.0
        for tx in range(4):
            for ty in range(4):
                for part in parts:
                    open_rings = [
                        r[:-1] if np.array_equal(r[0], r[-1]) else r
                        for r in (np.asarray(rr, dtype=np.float64) for rr in part)
                    ]
                    for piece in clip_polygon_exact(
                        open_rings, tx * 500, ty * 500, (tx + 1) * 500, (ty + 1) * 500
                    ):
                        clipped += _shoelace(piece[0]) - sum(
                            _shoelace(h) for h in piece[1:]
                        )
        assert clipped == truth, (trial, clipped, truth)


def test_clip_features_concave_split_e2e(spark):
    """A U-shaped polygon whose intersection with one tile is DISCONNECTED
    must arrive there as two separate parts, encode, and decode back to
    two polygons with the exact closed-form areas."""
    z = 1
    # U opening rightward: left bar x 1000-3000, arms reach x 3000-6000
    # at y 500-1500 (top) and 2500-3500 (bottom); tile 1 (x >= 4096) sees
    # only two disjoint arm tips
    u = [
        [1000, 500], [6000, 500], [6000, 1500], [3000, 1500],
        [3000, 2500], [6000, 2500], [6000, 3500], [1000, 3500],
    ]
    pts = np.array(u, dtype=np.float64)
    lon, lat = _px_to_lonlat(pts[:, 0], pts[:, 1], z)
    ring = [[float(a), float(b)] for a, b in zip(lon, lat)]
    ring.append(ring[0])
    df = spark.createDataFrame(
        [("u", GEOM_POLYGON, 9, [[ring]])],
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    out = {(r.tile_x, r.tile_y): r.geom for r in clip_features(df, z=z, projection="equirect").collect()}
    assert set(out) == {(0, 0), (1, 0)}
    # tile 1: two disjoint arm tips, each (6000-4096) x 1000
    tile1 = out[(1, 0)]
    assert len(tile1) == 2 and all(len(part) == 1 for part in tile1)
    areas = sorted(_shoelace(part[0]) for part in tile1)
    assert areas == [(6000 - 4096) * 1000] * 2
    # tile 0: one connected C-shape
    tile0 = out[(0, 0)]
    assert len(tile0) == 1
    assert _shoelace(tile0[0][0]) == (4096 - 1000) * 3000 - (4096 - 3000) * 1000
    # and the fragments survive the real encode -> decode loop
    tiles = tiling.encode_tiles(tiling.geom_features(clip_features(df, z=z, projection="equirect"))).collect()
    by_tile = {(t.tile_x, t.tile_y): t for t in tiles}
    feats = codec.decode_tile(bytes(by_tile[(1, 0)].mvt))["u"].features
    assert len(feats) == 1 and len(feats[0].geom) == 2  # one feature, two polygons


def test_clip_features_multizoom_equals_per_zoom_union(spark):
    """clip_features(z=[1, 2, 3]) from one scan must equal the union of
    three separate per-zoom runs, geometry included."""
    lines = []
    rng = np.random.Generator(np.random.PCG64(29))
    rows = []
    for i in range(12):
        walk = np.cumsum(rng.integers(-300, 301, size=(20, 2)), axis=0) + 3 * EXT
        walk = np.clip(walk, 0, 8 * EXT - 1).astype(float)
        lon, lat = _px_to_lonlat(walk[:, 0], walk[:, 1], 3)
        rows.append(
            ("r", GEOM_LINESTRING, i, [[[[float(a), float(b)] for a, b in zip(lon, lat)]]])
        )
    df = spark.createDataFrame(
        rows,
        "layer string, geom_type int, feature_id long, geom array<array<array<array<double>>>>",
    )
    key = lambda r: (r.tile_z, r.tile_x, r.tile_y, r.feature_id,
                     tuple(tuple(tuple(tuple(p) for p in ring) for ring in part) for part in r.geom))
    multi = sorted(map(key, clip_features(df, z=[1, 2, 3], projection="equirect").collect()))
    single = sorted(
        k
        for zz in (1, 2, 3)
        for k in map(key, clip_features(df, z=zz, projection="equirect").collect())
    )
    assert multi == single and len(multi) > 36


def _signed_shoelace(ring):
    r = np.asarray(ring, dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _raster_clip_area(poly, x0, y0, x1, y1, n=300):
    """Ground-truth polygon∩rect area by even-odd ray-cast over an n x n
    midpoint grid inside the rect (error ~ perimeter * cell size)."""
    xs = np.linspace(x0, x1, n, endpoint=False) + (x1 - x0) / n / 2
    ys = np.linspace(y0, y1, n, endpoint=False) + (y1 - y0) / n / 2
    gx, gy = np.meshgrid(xs, ys)
    px, py = gx.ravel(), gy.ravel()
    inside = np.zeros(len(px), bool)
    vx, vy = poly[:, 0], poly[:, 1]
    for i in range(len(poly)):
        j = i - 1
        cond = (vy[i] > py) != (vy[j] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (vx[j] - vx[i]) * (py - vy[i]) / (vy[j] - vy[i]) + vx[i]
        inside ^= cond & (px < xint)
    return inside.mean() * (x1 - x0) * (y1 - y0)


def test_clip_polygon_exact_random_concave_vs_rasterization():
    """ADVICE regression (round 2): randomized rasterization cross-check
    for concave polygons against single arbitrary rects — the parity
    stitcher must never lose a piece (mis-wound exterior dropped as an
    orphan hole). Sorted-angle radial stars are provably simple; every
    surviving piece must be positively wound and the signed piece sum
    must match the rasterized polygon∩rect area."""
    import random

    from vectortiles_spark.operators.clip import clip_polygon_exact

    for seed in range(40):
        rng = random.Random(seed)
        k = 14
        ang = sorted(rng.uniform(0, 2 * math.pi) for _ in range(k))
        rad = [rng.uniform(1, 10) for _ in range(k)]
        hull = np.array(
            [[5 + r * math.cos(a), 5 + r * math.sin(a)] for a, r in zip(ang, rad)]
        )
        if _signed_shoelace(hull) < 0:
            hull = hull[::-1]
        x0 = rng.uniform(-5, 10)
        y0 = rng.uniform(-5, 10)
        x1 = x0 + rng.uniform(1, 12)
        y1 = y0 + rng.uniform(1, 12)
        truth = _raster_clip_area(hull, x0, y0, x1, y1)
        pieces = clip_polygon_exact([hull], x0, y0, x1, y1)
        got = 0.0
        for piece in pieces:
            for ri, r in enumerate(piece):
                a = _signed_shoelace(r)
                assert (a > 0) == (ri == 0), (seed, "mis-wound ring in output")
                got += a
        assert abs(got - truth) <= max(0.03 * max(truth, 1.0), 0.05), (
            seed, got, truth,
        )
        # closed input (duplicate last point) must behave identically
        closed = np.vstack([hull, hull[:1]])
        got_closed = sum(
            _signed_shoelace(r) for p in clip_polygon_exact([closed], x0, y0, x1, y1) for r in p
        )
        assert abs(got_closed - got) < 1e-9


def _scalar_line_clip_reference(parts_l, pf, bbox, extent, buffer_px, n):
    """Per-(feature, tile) reference built from clip_polyline +
    _localize_line — the semantics _clip_lines_batched must reproduce."""
    from vectortiles_spark.operators.clip import _localize_line, clip_polyline

    out = {}
    nfeat = len(bbox)
    parts_by_f = {}
    for p, f in zip(parts_l, pf):
        parts_by_f.setdefault(f, []).append(p)
    for fi in range(nfeat):
        xm, ym, xM, yM = bbox[fi]
        tx_lo = min(n - 1, max(0, int(math.floor((xm - buffer_px) / extent))))
        tx_hi = min(n - 1, max(0, int(math.floor((xM + buffer_px) / extent))))
        ty_lo = min(n - 1, max(0, int(math.floor((ym - buffer_px) / extent))))
        ty_hi = min(n - 1, max(0, int(math.floor((yM + buffer_px) / extent))))
        for ty in range(ty_lo, ty_hi + 1):
            for tx in range(tx_lo, tx_hi + 1):
                x0, y0 = tx * extent - buffer_px, ty * extent - buffer_px
                x1, y1 = (tx + 1) * extent + buffer_px, (ty + 1) * extent + buffer_px
                open_x = buffer_px == 0 and tx < n - 1
                open_y = buffer_px == 0 and ty < n - 1
                parts = []
                for part in parts_by_f.get(fi, []):
                    for sub in clip_polyline(part, x0, y0, x1, y1):
                        if (open_x and (sub[:, 0] == x1).all()) or (
                            open_y and (sub[:, 1] == y1).all()
                        ):
                            continue
                        loc = _localize_line(sub, float(tx * extent), float(ty * extent))
                        if loc is not None:
                            parts.append(loc)
                if parts:
                    out[(fi, tx, ty)] = parts
    return out


def _batched_rows(out):
    """_clip_lines_batched's row/chain/point buffers as the scalar
    reference's {(fi, tx, ty): [chain point lists]} dict."""
    row_fi, row_tx, row_ty, row_nchains, chain_npts, pts = out
    chains = np.split(pts, np.cumsum(chain_npts)[:-1]) if len(chain_npts) else []
    grouped = np.split(np.arange(len(chains)), np.cumsum(row_nchains)[:-1])
    return {
        (int(f), int(x), int(y)): [chains[c].tolist() for c in cs]
        for f, x, y, cs in zip(row_fi, row_tx, row_ty, grouped)
    }


@pytest.mark.parametrize("buffer_px", [0, 8])
def test_clip_lines_batched_equals_scalar_reference(buffer_px, monkeypatch):
    """The whole-batch line-clip kernel must reproduce the per-tile
    clip_polyline + _localize_line semantics exactly — including the
    unbuffered high-edge ownership rule and lattice geometry landing ON
    tile boundaries — and the memory-bounding CHUNKED path must agree
    with the unchunked one."""
    import vectortiles_spark.operators.clip as C

    rng = np.random.default_rng(19)
    extent, n = 1000, 8
    parts_l, pf, bbox = [], [], []
    for fi in range(300):
        nparts = 1 if fi % 4 else 2
        rings = []
        for _ in range(nparts):
            k = int(rng.integers(2, 40))
            if fi % 5 == 0:  # lattice-aligned (exactly on boundaries)
                r = rng.integers(0, 2 * n, (k, 2)).astype(np.float64) * (extent / 2)
            else:
                r = np.cumsum(rng.normal(0, 300, (k, 2)), axis=0) + 3000
            rings.append(r)
        allp = np.concatenate(rings)
        bbox.append((allp[:, 0].min(), allp[:, 1].min(), allp[:, 0].max(), allp[:, 1].max()))
        for r in rings:
            parts_l.append(r)
            pf.append(fi)
    sc = np.asarray([max(0, len(p) - 1) for p in parts_l], np.int64)
    ne = [p for p in parts_l if len(p) >= 2]
    seg_a = np.concatenate([p[:-1] for p in ne])
    seg_b = np.concatenate([p[1:] for p in ne])
    bb = np.asarray(bbox)
    covers = np.empty((len(bb), 4), np.int64)
    covers[:, 0] = np.clip(np.floor((bb[:, 0] - buffer_px) / extent), 0, n - 1)
    covers[:, 1] = np.clip(np.floor((bb[:, 2] + buffer_px) / extent), 0, n - 1)
    covers[:, 2] = np.clip(np.floor((bb[:, 1] - buffer_px) / extent), 0, n - 1)
    covers[:, 3] = np.clip(np.floor((bb[:, 3] + buffer_px) / extent), 0, n - 1)
    want = _scalar_line_clip_reference(parts_l, pf, bbox, extent, buffer_px, n)
    got = _batched_rows(
        C._clip_lines_batched(seg_a, seg_b, sc, np.asarray(pf), covers, extent, buffer_px, n)
    )
    assert got == want
    # CHUNKED path: shrink the row bound so the same input goes through
    # the chunk-and-stitch branch — results must be identical, including
    # (feature, tile) groups straddling a chunk boundary
    monkeypatch.setattr(C, "_CHUNK_ROWS", 500)
    got_chunked = _batched_rows(
        C._clip_lines_batched(seg_a, seg_b, sc, np.asarray(pf), covers, extent, buffer_px, n)
    )
    assert got_chunked == want
    monkeypatch.setattr(C, "_CHUNK_ROWS", 2_000_000)
    big_parts = [np.column_stack([np.linspace(0, n * extent, 3000), np.full(3000, 1.0)])]
    big_pf = [0]
    big_bbox = [(0.0, 1.0, float(n * extent), 1.0)]
    sc2 = np.asarray([2999], np.int64)
    covers2 = np.asarray([[0, n - 1, 0, 0]], np.int64)
    got_big = C._clip_lines_batched(
        big_parts[0][:-1].copy(), big_parts[0][1:].copy(), sc2, np.asarray(big_pf),
        covers2, extent, buffer_px, n,
    )
    want_big = _scalar_line_clip_reference(big_parts, big_pf, big_bbox, extent, buffer_px, n)
    got_big_d = _batched_rows(got_big)
    assert got_big_d == want_big
