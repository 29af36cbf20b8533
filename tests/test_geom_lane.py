"""Differential tests for the columnar geometry lane.

clip_features -> simplify_geoms -> geom_features pass geometry between
them as Arrow offset/value buffers. Every stage must equal its scalar
oracle feature by feature: clip_polyline + _localize_line (lines),
clip_polygon_exact + _localize_ring (polygons), simplify_parts, and
geom_to_stream under geom_features' degenerate-part rules.

The kernel-level tests need no Spark session: a stand-in plan object
lets the operators build their (fused) mapInArrow kernels, which then run
on hand-made Arrow batches. Tests named ``test_spark_*`` run real plans
(`pytest tests/test_geom_lane.py -k "not spark"` skips them).
"""

import math

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vectortiles_spark.mvt.geometry import (
    GEOM_LINESTRING,
    GEOM_POINT,
    GEOM_POLYGON,
    geom_to_stream,
)
from vectortiles_spark.operators import clip as C
from vectortiles_spark.operators.arrow_geom import geom_buffers
from vectortiles_spark.operators.simplify import simplify_geoms, simplify_parts
from vectortiles_spark.operators.tiling import geom_streams

EXTENT = C.DEFAULT_EXTENT


def _nested(t):
    return ArrayType(ArrayType(ArrayType(ArrayType(t))))


WORLD_SCHEMA = StructType([
    StructField("layer", StringType()),
    StructField("geom_type", IntegerType()),
    StructField("feature_id", LongType()),
    StructField("geom", _nested(DoubleType())),
])
TILE_SCHEMA = StructType([
    StructField("tile_z", IntegerType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("layer", StringType()),
    StructField("geom_type", IntegerType()),
    StructField("feature_id", LongType()),
    StructField("geom", _nested(LongType())),
])
WORLD_T = pa.list_(pa.list_(pa.list_(pa.list_(pa.float64()))))
TILE_T = pa.list_(pa.list_(pa.list_(pa.list_(pa.int64()))))


class _Plan:
    """Just enough of a DataFrame for the operators to build their
    mapInArrow kernels without a Spark session: ``kernel`` is the batch
    generator the plan would run (fused with its upstream when tagged)."""

    def __init__(self, schema, kernel=None):
        self.schema = schema
        self.columns = schema.fieldNames()
        self.kernel = kernel

    def select(self, *cols):
        return self

    def mapInArrow(self, kernel, schema):
        # clip declares its output as a DDL string: the tile schema
        return _Plan(TILE_SCHEMA if isinstance(schema, str) else schema, kernel)


def _one(kernel, batch):
    (out,) = list(kernel([batch]))
    return out


def _streams(batch):
    """geom_features' encode on one batch: (values, offsets) per row."""
    return geom_streams(
        batch["geom_type"].to_numpy(zero_copy_only=False),
        *geom_buffers(batch["geom"], np.int64),
    )


# ---------------------------------------------------------------- oracles


def _clip_oracle(feats, zs, buffer_px):
    """Scalar clip of (layer, gt, fid, geom) features: rows (z, x, y,
    layer, gt, fid, parts) in the operator's order — point/polygon
    features first (feature, zoom, ty, tx), then lines (zoom, feature,
    ty, tx)."""
    z_top = zs[-1]
    other, lines = [], {zz: [] for zz in zs}
    for layer, gt, fid, geom in feats:
        parts = []
        for part in geom or []:
            rings = []
            for r in part or []:
                a = np.asarray(r or [], np.float64).reshape(-1, 2)
                px, py = C.project_webmercator(a[:, 0], a[:, 1], z_top, EXTENT)
                rings.append(np.column_stack([px, py]))
            if rings:
                parts.append(rings)
        pts = [r for p in parts for r in p if len(r)]
        if not pts or not np.isfinite(np.concatenate(pts)).all():
            continue
        allp = np.concatenate(pts)
        for zz in zs:
            scale = float(1 << (z_top - zz))
            n = 1 << zz

            def tile_range(lo, hi):
                return (
                    min(n - 1, max(0, int(math.floor((lo / scale - buffer_px) / EXTENT)))),
                    min(n - 1, max(0, int(math.floor((hi / scale + buffer_px) / EXTENT)))),
                )

            tx_lo, tx_hi = tile_range(allp[:, 0].min(), allp[:, 0].max())
            ty_lo, ty_hi = tile_range(allp[:, 1].min(), allp[:, 1].max())
            zparts = [[r / scale for r in p] for p in parts]
            for ty in range(ty_lo, ty_hi + 1):
                for tx in range(tx_lo, tx_hi + 1):
                    x0, y0 = tx * EXTENT - buffer_px, ty * EXTENT - buffer_px
                    x1, y1 = (tx + 1) * EXTENT + buffer_px, (ty + 1) * EXTENT + buffer_px
                    ox, oy = float(tx * EXTENT), float(ty * EXTENT)
                    open_x = buffer_px == 0 and tx < n - 1
                    open_y = buffer_px == 0 and ty < n - 1
                    out = []
                    if gt == GEOM_POINT:
                        for p in (part[0] for part in zparts):
                            m = (
                                (p[:, 0] >= x0) & ((p[:, 0] < x1) if open_x else (p[:, 0] <= x1))
                                & (p[:, 1] >= y0) & ((p[:, 1] < y1) if open_y else (p[:, 1] <= y1))
                            )
                            out += [[[q]] for q in np.rint(p[m] - (ox, oy)).astype(np.int64).tolist()]
                    elif gt == GEOM_LINESTRING:
                        for part in zparts:
                            for sub in C.clip_polyline(part[0], x0, y0, x1, y1):
                                if (open_x and (sub[:, 0] == x1).all()) or (
                                    open_y and (sub[:, 1] == y1).all()
                                ):
                                    continue  # the next tile owns its high edge
                                loc = C._localize_line(sub, ox, oy)
                                if loc is not None:
                                    out.append([loc])
                    else:
                        for part in zparts:
                            if not len(part[0]):
                                continue
                            rings = [
                                r[:-1] if len(r) > 1 and np.array_equal(r[0], r[-1]) else r
                                for r in part
                                if len(r)
                            ]
                            for piece in C.clip_polygon_exact(rings, x0, y0, x1, y1):
                                locs = [C._localize_ring(r, ox, oy) for r in piece]
                                if locs[0] is not None:
                                    out.append([r for r in locs if r is not None])
                    if out:
                        row = (zz, tx, ty, layer, gt, fid, out)
                        (lines[zz] if gt == GEOM_LINESTRING else other).append(row)
    return other + [r for zz in zs for r in lines[zz]]


def _stream_oracle(gt, parts):
    """geom_features' degenerate-part rules, then geom_to_stream."""
    parts = [[r or [] for r in (p or [])] for p in (parts or [])]
    if gt == GEOM_POINT:
        g = np.asarray([q for p in parts for r in p for q in r], np.int64).reshape(-1, 2)
        degenerate = not len(g)
    elif gt == GEOM_LINESTRING:
        g = [np.asarray(p[0], np.int64) for p in parts if p and len(p[0]) >= 2]
        degenerate = not g
    else:
        g = [
            [np.asarray(r, np.int64) for r in p if len(r) >= 4]
            for p in parts
            if p and len(p[0]) >= 4
        ]
        degenerate = not g
    return [] if degenerate else geom_to_stream(gt, g).astype(np.int64).tolist()


def _tol(zoom, tolerance, by_zoom):
    return (by_zoom or {}).get(zoom, tolerance)


# ------------------------------------------------------------- strategies

_maybe_null = st.integers(0, 19)  # 0 -> NULL, 1 -> empty, else a value


@st.composite
def _world_ring(draw, gt):
    if gt == GEOM_POINT:
        k = 1
    elif gt == GEOM_LINESTRING:
        k = draw(st.sampled_from([0, 1, 2, 3, 6, 12, 24]))
    else:
        k = draw(st.sampled_from([3, 5, 8, 12]))
    cx = draw(st.floats(-2.0, 2.0))
    cy = draw(st.floats(-2.0, 2.0))
    if gt == GEOM_POLYGON:
        # star-shaped simple ring around (cx, cy), closed
        rad = draw(st.floats(0.01, 1.5))
        ang = np.sort(draw(st.lists(st.floats(0, 2 * math.pi), min_size=k, max_size=k)))
        rr = rad * np.asarray(draw(st.lists(st.floats(0.3, 1.0), min_size=k, max_size=k)))
        pts = np.column_stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)])
        pts = np.vstack([pts, pts[:1]])
    elif draw(st.booleans()):
        step = draw(st.sampled_from([0.001, 0.05, 0.5]))
        steps = draw(st.lists(st.tuples(st.floats(-1, 1), st.floats(-1, 1)), min_size=k, max_size=k))
        pts = np.asarray([cx, cy]) + step * np.cumsum(np.asarray(steps).reshape(-1, 2), axis=0)
    else:
        # lattice vertices: every even i is a z=8 tile edge (exact in
        # float64 after projection), lat 0 is a horizontal one — lines
        # run ALONG tile edges, where edge ownership decides
        i = draw(st.lists(st.integers(250, 262), min_size=k, max_size=k))
        lat = draw(st.lists(st.sampled_from([-1.0, 0.0, 1.0]), min_size=k, max_size=k))
        pts = np.column_stack([-180.0 + np.asarray(i) * (360.0 / 512), lat]).reshape(-1, 2)
    ring = pts.tolist()
    if ring and draw(st.integers(0, 29)) == 0:
        ring[draw(st.integers(0, len(ring) - 1))][draw(st.integers(0, 1))] = float("nan")
    return ring


@st.composite
def _world_feature(draw, fid):
    gt = draw(st.sampled_from([GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON]))
    if draw(_maybe_null) == 0:
        return ("a", gt, fid, None)
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        tag = draw(_maybe_null)
        if tag <= 1:
            parts.append(None if tag == 0 else [])
            continue
        nr = draw(st.integers(1, 2)) if gt != GEOM_POINT else 1
        rings = []
        for _ in range(nr):
            tag = draw(_maybe_null)
            rings.append(None if tag == 0 else [] if tag == 1 else draw(_world_ring(gt)))
        parts.append(rings)
    return (draw(st.sampled_from(["a", "b"])), gt, fid, parts)


@st.composite
def _world_batch(draw):
    n = draw(st.integers(0, 12))
    return [draw(_world_feature(fid)) for fid in range(n)]


@st.composite
def _tile_ring(draw):
    k = draw(st.sampled_from([0, 1, 2, 3, 4, 5, 8, 16]))
    start = draw(st.tuples(st.integers(-64, 4160), st.integers(-64, 4160)))
    step = draw(st.sampled_from([1, 4, 64, 600]))
    d = draw(st.lists(
        st.tuples(st.integers(-step, step), st.integers(-step, step)), min_size=k, max_size=k
    ))
    pts = (np.asarray(start) + np.cumsum(np.asarray(d, np.int64).reshape(-1, 2), axis=0)).tolist()
    if pts and draw(st.booleans()):
        pts.append(pts[0])  # closed
    return pts


@st.composite
def _tile_batch(draw):
    rows = []
    for fid in range(draw(st.integers(0, 12))):
        gt = draw(st.sampled_from([GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON]))
        if draw(_maybe_null) == 0:
            geom = None
        else:
            geom = []
            for _ in range(draw(st.integers(0, 3))):
                tag = draw(_maybe_null)
                if tag <= 1:
                    geom.append(None if tag == 0 else [])
                    continue
                rings = []
                for _ in range(draw(st.integers(1, 3))):
                    tag = draw(_maybe_null)
                    rings.append(None if tag == 0 else [] if tag == 1 else draw(_tile_ring()))
                geom.append(rings)
        rows.append((draw(st.sampled_from([6, 8])), gt, fid, geom))
    return rows


def _world_arrow(feats):
    return pa.record_batch({
        "layer": pa.array([f[0] for f in feats], pa.string()),
        "geom_type": pa.array([f[1] for f in feats], pa.int32()),
        "feature_id": pa.array([f[2] for f in feats], pa.int64()),
        "geom": pa.array([f[3] for f in feats], WORLD_T),
    })


def _tile_arrow(rows):
    n = len(rows)
    return pa.record_batch({
        "tile_z": pa.array([r[0] for r in rows], pa.int32()),
        "tile_x": pa.array([0] * n, pa.int32()),
        "tile_y": pa.array([0] * n, pa.int32()),
        "layer": pa.array(["t"] * n, pa.string()),
        "geom_type": pa.array([r[1] for r in rows], pa.int32()),
        "feature_id": pa.array([r[2] for r in rows], pa.int64()),
        "geom": pa.array([r[3] for r in rows], TILE_T),
    })


_LANE = settings(max_examples=80, deadline=None, suppress_health_check=[HealthCheck.too_slow])

# ------------------------------------------------------------------ tests


@_LANE
@given(
    feats=_world_batch(),
    z=st.sampled_from([8, [6, 8]]),
    buffer_px=st.sampled_from([0, 8]),
    tolerance=st.sampled_from([0.0, 2.0, 8.0]),
    by_zoom=st.sampled_from([None, {6: 1.0, 8: 24.0}]),
)
def test_chain_equals_scalar_oracles(feats, z, buffer_px, tolerance, by_zoom):
    """World features through the fused clip -> simplify kernel and
    geom_features' encode equal the scalar oracles row by row, with
    NULLs at the feature/part/ring levels, empty parts, one-point lines
    and NaN coordinates in the batch."""
    zs = [z] if isinstance(z, int) else z
    batch = _world_arrow(feats)
    clipped = C.clip_features(_Plan(WORLD_SCHEMA), z=z, buffer_px=buffer_px)
    simplified = simplify_geoms(clipped, tolerance, tolerance_by_zoom=by_zoom)
    got_clip = _one(clipped.kernel, batch)
    got = _one(simplified.kernel, batch)  # clip and simplify, fused
    assert got_clip.schema == got.schema
    assert got.schema.names == TILE_SCHEMA.fieldNames()
    want = _clip_oracle(feats, zs, buffer_px)
    assert [
        (r["tile_z"], r["tile_x"], r["tile_y"], r["layer"], r["geom_type"],
         r["feature_id"], r["geom"])
        for r in got_clip.to_pylist()
    ] == want
    vals, offs = _streams(got)
    for i, (zz, _, _, _, gt, fid, parts) in enumerate(want):
        simple = simplify_parts(gt, parts, _tol(zz, tolerance, by_zoom))
        assert got["geom"][i].as_py() == simple, fid
        assert vals[offs[i]:offs[i + 1]].tolist() == _stream_oracle(gt, simple), fid


@_LANE
@given(rows=_tile_batch(), tolerance=st.sampled_from([0.0, 3.0, 40.0]),
       by_zoom=st.sampled_from([None, {6: 0.0, 8: 12.0}]))
def test_simplify_and_encode_equal_oracles_on_raw_geometry(rows, tolerance, by_zoom):
    """The simplify and encode kernels on tile geometry that no clip
    produced: NULL and empty parts/rings, one-point lines, unclosed and
    zero-area rings, duplicate vertices."""
    batch = _tile_arrow(rows)
    simplified = simplify_geoms(_Plan(TILE_SCHEMA), tolerance, tolerance_by_zoom=by_zoom)
    got = _one(simplified.kernel, batch)
    assert got.schema == batch.schema
    raw_vals, raw_offs = _streams(batch)
    vals, offs = _streams(got)
    for i, (zz, gt, fid, geom) in enumerate(rows):
        parts = [[r or [] for r in (p or [])] for p in (geom or [])]
        simple = simplify_parts(gt, parts, _tol(zz, tolerance, by_zoom))
        assert got["geom"][i].as_py() == simple, fid
        assert vals[offs[i]:offs[i + 1]].tolist() == _stream_oracle(gt, simple), fid
        assert raw_vals[raw_offs[i]:raw_offs[i + 1]].tolist() == _stream_oracle(gt, geom), fid


@pytest.mark.parametrize("gt", [0, 4, None])
def test_unknown_geometry_type_raises(gt):
    batch = _tile_arrow([(8, GEOM_LINESTRING, 0, [[[[0, 0], [5, 5]]]])])
    batch = batch.set_column(4, "geom_type", pa.array([gt], pa.int32()))
    with pytest.raises(ValueError, match="UNKNOWN"):
        _one(simplify_geoms(_Plan(TILE_SCHEMA), 1.0).kernel, batch)
    with pytest.raises(ValueError, match="UNKNOWN"):
        _streams(batch)


def test_empty_and_all_clipped_away_batches_keep_schema():
    """Zero input rows, and rows that all clip away (NULL, one-point and
    NaN lines, a line north of the WebMercator world whose tile cover
    clamps to row 0 but misses it), give zero output rows with the
    declared schema."""
    feats = [
        ("a", GEOM_LINESTRING, 0, None),
        ("a", GEOM_LINESTRING, 1, [[[[1.0, 1.0]]]]),
        ("a", GEOM_LINESTRING, 2, [[[[1.0, 1.0], [float("nan"), 1.0]]]]),
        ("a", GEOM_LINESTRING, 3, [[[[0.0, 89.0], [1.0, 89.5]]]]),
        ("a", GEOM_POLYGON, 4, [[None, [[0.0, 0.0], [1.0, 0.0], [0.0, 0.0]]]]),
    ]
    for batch in (_world_arrow([]), _world_arrow(feats)):
        clipped = C.clip_features(_Plan(WORLD_SCHEMA), z=8)
        simplified = simplify_geoms(clipped, 4.0)
        out = _one(simplified.kernel, batch)
        assert out.num_rows == 0
        assert out.schema.names == TILE_SCHEMA.fieldNames()
        assert out.schema.field("geom").type == TILE_T
        vals, offs = _streams(out)
        assert len(vals) == 0 and offs.tolist() == [0]


# ------------------------------------------------------------ Spark plans


def _world_df(spark, feats):
    return spark.createDataFrame(
        feats, "layer string, geom_type int, feature_id bigint, "
        "geom array<array<array<array<double>>>>",
    )


def test_spark_empty_and_clipped_away_batches(spark):
    """Fused and unfused plans: an empty input and an input that clips
    away entirely end as zero rows — the unfused plan ships zero-row
    geometry batches between Python workers, which must not crash them
    (arrow_geom._unwrap)."""
    from vectortiles_spark.operators import tiling

    feats = [
        ("a", GEOM_LINESTRING, 1, [[[[1.0, 1.0]]]]),
        ("a", GEOM_LINESTRING, 2, [[[[1.0, 1.0], [float("nan"), 1.0]]]]),
        ("a", GEOM_POLYGON, 3, None),
    ]
    for src in (_world_df(spark, []), _world_df(spark, feats).repartition(2)):
        fused = tiling.geom_features(
            simplify_geoms(C.clip_features(src, z=[6, 8]), 4.0)
        )
        unfused = tiling.geom_features(
            simplify_geoms(C.clip_features(src, z=[6, 8]).select("*"), 4.0).select("*")
        )
        for df in (fused, unfused):
            assert df.collect() == []
            assert tiling.encode_tiles(df).collect() == []
        assert fused.schema == unfused.schema


def test_spark_fused_equals_unfused_plan(spark):
    """simplify -> geom_features fused into one MapInArrow equals the
    two-node plan, including a coordinate outside int32: the fused
    encode narrows it the way the unfused plan's bigint -> int cast does
    with ANSI mode off (with ANSI on, that cast raises instead)."""
    from vectortiles_spark.operators import tiling
    from vectortiles_spark.plans import audit

    rows = [
        (8, 1, 2, "a", GEOM_LINESTRING, 0, [[[[0, 0], [(1 << 32) + 7, 9], [30, 40]]]]),
        (8, 1, 2, "a", GEOM_POLYGON, 1,
         [[[[0, 0], [90, 0], [90, 90], [0, 90], [0, 0]], [[10, 10], [10, 20], [20, 20], [10, 10]]]]),
        (6, 0, 0, "b", GEOM_POINT, 2, [[[[5, 6]]], [[[5, 6]]], None]),
        (6, 0, 0, "b", GEOM_LINESTRING, 3, [None, [[[1, 1]]], [[[1, 1], [1, 1], [4, 5]]]]),
    ]
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")  # before the plans: a cast fixes its mode when built
    try:
        df = spark.createDataFrame(rows, TILE_SCHEMA).repartition(2)
        simplified = simplify_geoms(df, 2.0, tolerance_by_zoom={6: 0.0})
        fused = tiling.geom_features(simplified)
        unfused = tiling.geom_features(simplified.select("*"))
        assert audit.plan_of(fused).count("MapInArrow") == 1
        assert audit.plan_of(unfused).count("MapInArrow") == 2
        got = sorted(map(tuple, fused.collect()))
        want = sorted(map(tuple, unfused.collect()))
    finally:
        spark.conf.set(key, prev)
    assert got == want
    assert [r[-1] for r in got if r[5] == 0] != [[]]  # the wrapped line still encodes
