"""Raster-tile -> vector-feature conversion (SURVEY.md §2.D7).

A raster tile (single-band uint8 grid) is thresholded to a mask; the mask's
region boundaries are traced into closed integer rings whose winding obeys
the reference contract (exterior shoelace POSITIVE, holes NEGATIVE, under
the top-left origin — Geometry.hs:58-74); rings are grouped into polygons
(exterior + its holes); polygons become MVT command streams ready for the
tile sink.

Tracing walks directed boundary edges (interior on the left), which makes
orientation automatic: outer boundaries come out positive, hole boundaries
negative — the exact sign convention surveyor (C15) classifies by. Edge
extraction is vectorized NumPy; only the loop-chaining walks a dict (linear
in boundary length, not grid area).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..mvt.geometry import GEOM_POLYGON, geom_to_stream, points_in_ring, surveyor
from .tiling import FEATURE_SCHEMA

# direction vectors: 0=right 1=down 2=left 3=up (x right, y down)
_DXY = {0: (1, 0), 1: (0, 1), 2: (-1, 0), 3: (0, -1)}


def _boundary_edges(mask: np.ndarray) -> dict:
    """Directed boundary edges with interior on the LEFT, as {start: [end]}.

    For a single filled pixel at (row 0, col 0) this produces the loop
    (0,0)->(1,0)->(1,1)->(0,1)->(0,0), whose surveyor value is +1 — the
    reference's exterior winding (tested against Test.hs:52-54 semantics).
    """
    m = mask.astype(bool)
    p = np.pad(m, 1)
    h, w = m.shape
    # "filled pixel with an empty neighbor" per direction, all shifted-slice
    # comparisons (no gathers), laid out (H, W, 4) in top/right/bottom/left
    # order so the row-major flatnonzero reproduces the per-pixel insertion
    # order the ring chaining relies on; endpoint coordinates are computed
    # ONLY for the boundary subset via per-direction offset tables — Python
    # never loops over pixels (microbench: 256x256 half-filled mask 15.2ms
    # per-pixel loop -> <1ms, edges identical)
    nb = np.stack(
        [~p[:-2, 1:-1], ~p[1:-1, 2:], ~p[2:, 1:-1], ~p[1:-1, :-2]], axis=2
    )
    idx = np.flatnonzero(nb & m[:, :, None])
    pi, d = idx >> 2, idx & 3
    r, c = pi // w, pi % w
    sx_off = np.array([0, 1, 1, 0]); sy_off = np.array([0, 0, 1, 1])
    ex_off = np.array([1, 1, 0, 0]); ey_off = np.array([0, 1, 1, 0])
    starts = np.stack([c + sx_off[d], r + sy_off[d]], axis=1)
    ends = np.stack([c + ex_off[d], r + ey_off[d]], axis=1)

    edges: dict[tuple, list] = {}
    for s, e in zip(map(tuple, starts.tolist()), map(tuple, ends.tolist())):
        edges.setdefault(s, []).append(e)
    return edges


def _chain_rings(edges: dict) -> list[np.ndarray]:
    """Chain directed edges into closed rings. At checkerboard junctions
    (two outgoing edges) take the tightest RIGHT turn — with the top-left
    origin and this module's edge directions that is the turn that keeps
    hugging the current region, so diagonally touching regions stay
    separate loops (verified on the 2x2 checkerboard in tests)."""
    rings = []
    while edges:
        start = next(iter(edges))
        ring = [start]
        cur = start
        prev_dir = None
        while True:
            outs = edges.get(cur)
            if not outs:
                break
            if len(outs) == 1 or prev_dir is None:
                nxt = outs.pop(0)
            else:
                # tightest RIGHT turn keeps hugging the current region, so
                # diagonally touching regions stay separate loops
                def turn_rank(nx):
                    d = (nx[0] - cur[0], nx[1] - cur[1])
                    dirs = [(1, 0), (0, 1), (-1, 0), (0, -1)]
                    di = dirs.index(d)
                    pi = dirs.index(prev_dir)
                    return (pi - di + 1) % 4  # 0 = right turn, 1 = straight, ...
                outs.sort(key=turn_rank)
                nxt = outs.pop(0)
            if not edges[cur]:
                del edges[cur]
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            ring.append(cur)
            if cur == start:
                break
        if len(ring) >= 4 and ring[0] == ring[-1]:
            rings.append(np.asarray(ring, dtype=np.int64))
    return rings


def mask_to_polygons(mask: np.ndarray, scale: int = 1) -> list[list[np.ndarray]]:
    """Binary mask -> polygons (exterior ring + holes, reference winding).

    Holes are attached to the smallest-area exterior that contains them."""
    rings = _chain_rings(_boundary_edges(mask))
    if scale != 1:
        rings = [r * scale for r in rings]
    areas = [(r, surveyor(r)) for r in rings]  # one shoelace pass per ring
    exts = [(r, a) for r, a in areas if a > 0]
    holes = [r for r, a in areas if a < 0]
    exts.sort(key=lambda t: t[1])  # smallest first -> innermost wins
    polys = [[r] for r, _ in exts]
    for h in holes:
        # representative point just right of the first edge — i.e. inside
        # the FILLED region the hole ring borders, which is what the
        # containing-exterior test needs (the cavity itself is outside)
        a, b = h[0].astype(np.float64), h[1].astype(np.float64)
        mid = (a + b) / 2.0
        d = b - a
        rep = mid + np.array([-d[1], d[0]]) * 0.25  # right normal (y down)
        for i, (ext, _) in enumerate(exts):
            if points_in_ring(np.array([rep[0]]), np.array([rep[1]]), ext)[0]:
                polys[i].append(h)
                break
    return polys


def raster_to_features(
    rasters: DataFrame,
    layer: str = "contours",
    threshold: int = 128,
    extent: int = 4096,
) -> DataFrame:
    """(tile_z, tile_x, tile_y, w, h, px BINARY) -> canonical polygon
    feature rows for the MVT sink. Pixel coords scale by extent // w.

    mapInArrow: each Arrow batch is decoded/traced with NumPy; output
    plugs straight into operators.tiling.encode_tiles.
    """

    def trace(batches):
        for batch in batches:
            tz = batch["tile_z"].to_pylist()
            txs = batch["tile_x"].to_pylist()
            tys = batch["tile_y"].to_pylist()
            ws = batch["w"].to_pylist()
            hs = batch["h"].to_pylist()
            pxs = batch["px"].to_pylist()
            rows = {k: [] for k in (
                "tile_z", "tile_x", "tile_y", "layer", "geom_type",
                "feature_id", "meta", "geom_cmds",
            )}
            for z, x, y, w, h, raw in zip(tz, txs, tys, ws, hs, pxs):
                # corrupt input drops THIS raster, never the task: one bad
                # object must not kill a planet-scale job (clip.py policy)
                if (
                    raw is None
                    or w is None
                    or h is None
                    or w <= 0
                    or h <= 0
                    or len(raw) < w * h
                ):
                    continue
                grid = np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
                mask = grid >= threshold
                if not mask.any():
                    continue
                scale = max(extent // w, 1)
                for fid, poly in enumerate(mask_to_polygons(mask, scale)):
                    stream = geom_to_stream(GEOM_POLYGON, [poly])
                    area = sum(surveyor(r) for r in poly)
                    rows["tile_z"].append(z)
                    rows["tile_x"].append(x)
                    rows["tile_y"].append(y)
                    rows["layer"].append(layer)
                    rows["geom_type"].append(GEOM_POLYGON)
                    rows["feature_id"].append(fid)
                    rows["meta"].append([
                        {"key": "area", "tag": 3, "s": None, "d": float(area), "i": None, "b": None}
                    ])
                    rows["geom_cmds"].append(stream.astype(np.int64).tolist())
            yield pa.record_batch(rows, schema=pa.schema([
                pa.field("tile_z", pa.int32()), pa.field("tile_x", pa.int32()),
                pa.field("tile_y", pa.int32()), pa.field("layer", pa.string()),
                pa.field("geom_type", pa.int32()), pa.field("feature_id", pa.int64()),
                pa.field("meta", pa.list_(pa.struct([
                    pa.field("key", pa.string()), pa.field("tag", pa.int32()),
                    pa.field("s", pa.string()), pa.field("d", pa.float64()),
                    pa.field("i", pa.int64()), pa.field("b", pa.bool_()),
                ]))),
                pa.field("geom_cmds", pa.list_(pa.int64())),
            ]))

    return rasters.mapInArrow(trace, schema=FEATURE_SCHEMA)


# ---------------- vector -> raster (points to density grids) ----------------


def rasterize_points(
    df: DataFrame,
    z: int,
    cells: int = 16,
    lon: str = "lon",
    lat: str = "lat",
    weight: str | None = None,
    projection: str = "webmercator",
    extent: int = 4096,
) -> DataFrame:
    """Bin world-space points into per-tile density grids — the inverse of
    ``raster_to_features``: vector rows in, raster cell aggregates out
    (heatmap tiles, coverage masks, decimated preview layers).

    Output is one row per NON-EMPTY (tile, cell): ``(tile_z, tile_x,
    tile_y, cell_x, cell_y, n[, w_sum])`` — the sparse representation, so
    an all-ocean tile costs nothing and a dense metro tile costs at most
    cells^2 rows regardless of input skew. Rows feed ``raster_to_features``
    (densify to a grid per tile) or a client heatmap directly.

    Scale shape: pure Column arithmetic (projection + floor bins, JVM
    whole-stage codegen) into ONE hash aggregate keyed on (tile, cell);
    map-side partial aggregation collapses each partition to <= tiles x
    cells^2 rows before the exchange, so shuffle volume is bounded by the
    OUTPUT size, not the input row count — hot tiles cannot skew the
    exchange the way raw feature shuffles can (cf. cap_features_per_tile
    for the feature-sink analogue).

    ``projection='webmercator'`` uses the engine's tile grid
    (functions.tiles); ``'equirect'`` is the pure-arithmetic grid that the
    DuckDB oracle replays bit-for-bit (plans.queries.Q_RASTERIZE_SQL).
    """
    from pyspark.sql import functions as F

    from ..functions import tiles as T

    if extent % cells:
        raise ValueError(f"cells={cells} must divide extent={extent}")
    if projection not in ("webmercator", "equirect"):
        raise ValueError(f"unknown projection {projection!r}")
    tx, ty, px, py = T.projected_tile_pixel(
        F.col(lon), F.col(lat), z, extent, projection
    )
    # integer floor division, NOT a bit shift: extent//cells need not be a
    # power of two (e.g. cells=10, extent=1000), and px/py are >= 0 so
    # floor == truncate; the DuckDB oracle's `px // size` replays exactly
    size = extent // cells
    binned = df.select(
        F.lit(z).alias("tile_z"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        F.floor(px / F.lit(size)).cast("int").alias("cell_x"),
        F.floor(py / F.lit(size)).cast("int").alias("cell_y"),
        *([F.col(weight).alias("_w")] if weight else []),
    )
    aggs = [F.count("*").alias("n")]
    if weight:
        aggs.append(F.round(F.sum("_w"), 2).alias("w_sum"))
    return binned.groupBy("tile_z", "tile_x", "tile_y", "cell_x", "cell_y").agg(*aggs)


# --------------- vector -> raster (polygon scanline fill, D7 inverse) -------


def fill_polygons_mask(
    rings: list[np.ndarray], w: int, h: int, extent: int
) -> np.ndarray:
    """Even-odd scanline fill of ``rings`` (extent-coord closed rings, any
    mix of exteriors and holes — holes toggle parity back off) into an
    (h, w) boolean mask sampled at pixel CENTERS with half-open edge
    rules: center (cx, cy) is covered iff the count of edge crossings at
    x <= cx on the scanline [ymin <= cy < ymax) is odd. For an
    axis-aligned rectangle [x0,x1)x[y0,y1) that is exactly
    x0 <= cx < x1 and y0 <= cy < y1 — integer-exact when extent divides
    by w/h (vertical edges cross at x = x1 with no division), which is
    what the DuckDB oracle replays.

    Vectorized: per-edge scanline ranges via two searchsorted calls on the
    exact center array (same float comparisons as a dense matrix would
    make, so boundary semantics are identical), expanded with
    repeat/arange — O(E log h + actual crossings) time and O(E +
    crossings) memory, never a dense (E, h) matrix (a 200k-edge coastline
    at h=1024 would otherwise allocate ~200 MB of booleans per task);
    then one np.add.at column scatter and one cumsum-parity — no
    per-pixel Python. O(h*w) fill per tile."""
    mask_delta = np.zeros((h, w + 1), dtype=np.int32)
    sy = extent / h
    sx = extent / w
    ys = (np.arange(h, dtype=np.float64) + 0.5) * sy
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 2:
            continue
        if (r[0] != r[-1]).any():  # defensive: decode emits closed rings
            r = np.concatenate([r, r[:1]])
        x1, y1 = r[:-1, 0], r[:-1, 1]
        x2, y2 = r[1:, 0], r[1:, 1]
        keep = y1 != y2  # horizontal edges never cross a scanline
        if not keep.any():
            continue
        x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
        ymin = np.minimum(y1, y2)
        ymax = np.maximum(y1, y2)
        # scanline j crosses edge i iff ymin_i <= ys_j < ymax_i (half-open
        # => shared vertices count once): first/last j per edge via exact
        # comparisons against the sorted center array
        j0 = np.searchsorted(ys, ymin, side="left")
        j1 = np.searchsorted(ys, ymax, side="left") - 1
        counts = np.maximum(j1 - j0 + 1, 0)
        total = int(counts.sum())
        if total == 0:
            continue
        ei = np.repeat(np.arange(len(counts)), counts)
        starts = np.repeat(np.concatenate([[0], np.cumsum(counts)[:-1]]), counts)
        yj = j0[ei] + (np.arange(total) - starts)
        xs = x1[ei] + (ys[yj] - y1[ei]) * (x2[ei] - x1[ei]) / (y2[ei] - y1[ei])
        # crossing toggles every center with cx >= xs: activate from column
        # c0 = ceil(xs/sx - 0.5); c0 > w-1 never lands, c0 < 0 clamps to 0
        c0 = np.ceil(xs / sx - 0.5).astype(np.int64)
        inb = c0 <= w - 1
        np.add.at(mask_delta, (yj[inb], np.maximum(c0[inb], 0)), 1)
    return (np.cumsum(mask_delta[:, :-1], axis=1) & 1).astype(bool)


def rasterize_polygons(
    feats: DataFrame,
    w: int = 256,
    h: int = 256,
    extent: int = 4096,
    value: int = 255,
    output: str = "raster",
) -> DataFrame:
    """Polygon features -> raster tiles: the exact inverse stage of
    raster_to_features (D7). Canonical FEATURE_SCHEMA rows (geom_cmds
    command streams, extent coords) are grouped per tile and scanline-
    filled (even-odd, pixel-center sampling — fill_polygons_mask) into a
    single-band uint8 grid; grid-aligned shapes roundtrip bit-exactly
    through raster_to_features.

    ``output='raster'`` emits (tile_z, tile_x, tile_y, w, h, px BINARY)
    — the same shape raster_to_features consumes. ``output='cells'``
    emits one sparse row per covered pixel (tile key + cell_x, cell_y),
    the join/oracle-friendly twin.

    Scale shape: ONE shuffle on the tile key (groupBy + applyInPandas);
    per-task memory is h*w + the tile's vertex count, independent of
    relation size. Raises on non-polygon rows (callers filter first —
    same loud contract as merge_lines) and on w/h not dividing extent
    (pixel-center arithmetic must stay integer-exact for the oracle).
    """
    import pandas as pd

    from ..mvt.geometry import geom_from_stream

    if extent % w or extent % h:
        raise ValueError(
            f"w={w} and h={h} must divide extent={extent} "
            "(pixel centers must land on exact grid coordinates)"
        )
    if output not in ("raster", "cells"):
        raise ValueError(f"unknown output {output!r}")
    if not 0 < value < 256:
        raise ValueError(f"value must be a uint8 byte, got {value}")

    key = ["tile_z", "tile_x", "tile_y"]

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        bad = pdf[pdf["geom_type"] != GEOM_POLYGON]
        if len(bad):
            raise ValueError(
                "rasterize_polygons: non-polygon feature "
                f"(geom_type={int(bad['geom_type'].iloc[0])}, "
                f"feature_id={int(bad['feature_id'].iloc[0])}) — filter "
                "to polygons first"
            )
        # even-odd WITHIN a feature (holes cancel), UNION ACROSS features
        # (two overlapping features must not xor each other out)
        mask = np.zeros((h, w), dtype=bool)
        for stream in pdf["geom_cmds"]:
            rings = [
                ring
                for poly in geom_from_stream(
                    GEOM_POLYGON, np.asarray(stream, dtype=np.uint32)
                )
                for ring in poly
            ]
            mask |= fill_polygons_mask(rings, w, h, extent)
        z, x, y = (int(pdf[k].iloc[0]) for k in key)
        if output == "raster":
            px = (mask * np.uint8(value)).tobytes()
            return pd.DataFrame(
                {"tile_z": [z], "tile_x": [x], "tile_y": [y],
                 "w": [w], "h": [h], "px": [px]}
            )
        cy, cx = np.nonzero(mask)
        return pd.DataFrame(
            {"tile_z": z, "tile_x": x, "tile_y": y,
             "cell_x": cx.astype(np.int32), "cell_y": cy.astype(np.int32)}
        )

    schema = (
        "tile_z int, tile_x int, tile_y int, w int, h int, px binary"
        if output == "raster"
        else "tile_z int, tile_x int, tile_y int, cell_x int, cell_y int"
    )
    return feats.groupBy(*key).applyInPandas(fill, schema=schema)


ZONAL_SCHEMA = (
    "tile_z int, tile_x int, tile_y int, feature_id bigint, "
    "n_px bigint, sum_val bigint, min_val int, max_val int, mean_val double"
)


def zonal_stats(
    feats: DataFrame, rasters: DataFrame, extent: int = 4096
) -> DataFrame:
    """Zonal statistics: for every polygon feature, aggregate the raster
    pixels under its even-odd mask (fill_polygons_mask pixel-center rule)
    — count, integer-exact sum, min/max, and mean (sum/count, so the
    DuckDB oracle replays it as exact integer arithmetic + one division).

    ``feats`` is the canonical FEATURE_SCHEMA relation (polygons only —
    loud error otherwise); ``rasters`` the (tile key, w, h, px BINARY)
    relation raster_to_features consumes. Inner-join semantics: a feature
    whose tile has no raster emits no row; a feature whose mask covers no
    pixel emits n_px=0 with NULL min/max/mean. Two rasters for one tile
    key raise (an upstream dedup bug should stop a stats job, not
    silently double-count).

    Scale shape: ONE cogroup shuffle on the tile key for each side; the
    raster is decoded once per tile and every feature's mask is filled
    against it; per-task memory is h*w + the tile's vertex count.
    """
    import pandas as pd

    from ..mvt.geometry import geom_from_stream

    key = ["tile_z", "tile_x", "tile_y"]

    def stats(fpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame(
                {c: [] for c in (
                    "tile_z", "tile_x", "tile_y", "feature_id",
                    "n_px", "sum_val", "min_val", "max_val", "mean_val",
                )}
            )
        if len(rpdf) > 1:
            z, x, y = (int(rpdf[k].iloc[0]) for k in key)
            raise ValueError(
                f"zonal_stats: {len(rpdf)} rasters for tile "
                f"({z},{x},{y}) — dedupe the raster relation first"
            )
        bad = fpdf[fpdf["geom_type"] != GEOM_POLYGON]
        if len(bad):
            raise ValueError(
                "zonal_stats: non-polygon feature (geom_type="
                f"{int(bad['geom_type'].iloc[0])}) — filter to polygons first"
            )
        w, h = int(rpdf["w"].iloc[0]), int(rpdf["h"].iloc[0])
        raw = rpdf["px"].iloc[0]
        if extent % w or extent % h:
            raise ValueError(
                f"raster {w}x{h} must divide extent={extent} "
                "(pixel centers must land on exact grid coordinates)"
            )
        grid = np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
        out = {c: [] for c in (
            "feature_id", "n_px", "sum_val", "min_val", "max_val", "mean_val",
        )}
        for fid, stream in zip(fpdf["feature_id"], fpdf["geom_cmds"]):
            rings = [
                ring
                for poly in geom_from_stream(
                    GEOM_POLYGON, np.asarray(stream, dtype=np.uint32)
                )
                for ring in poly
            ]
            mask = fill_polygons_mask(rings, w, h, extent)
            vals = grid[mask]
            n = int(vals.size)
            out["feature_id"].append(int(fid))
            out["n_px"].append(n)
            out["sum_val"].append(int(vals.sum()) if n else 0)
            out["min_val"].append(int(vals.min()) if n else None)
            out["max_val"].append(int(vals.max()) if n else None)
            out["mean_val"].append(float(vals.sum()) / n if n else None)
        z, x, y = (int(rpdf[k].iloc[0]) for k in key)
        res = pd.DataFrame(out)
        res.insert(0, "tile_z", z)
        res.insert(1, "tile_x", x)
        res.insert(2, "tile_y", y)
        return res

    return (
        feats.groupBy(*key)
        .cogroup(rasters.groupBy(*key))
        .applyInPandas(stats, schema=ZONAL_SCHEMA)
    )


RASTER_SCHEMA = "tile_z int, tile_x int, tile_y int, w int, h int, px binary"


def _raster_dims(w, h, raw):
    """(w, h) as ints when the row is usable, else None. Guards every
    corrupt shape the pandas paths can see: NULL payloads, NULL dims —
    which pandas renders as NaN in an otherwise-int column, so ``is
    None`` alone NEVER fires there — non-positive dims, short payloads.
    One bad object must not kill a planet-scale task (clip.py policy)."""
    if raw is None or w is None or h is None or w != w or h != h:
        return None
    w, h = int(w), int(h)
    if w <= 0 or h <= 0 or len(raw) < w * h:
        return None
    return w, h


def composite_rasters(
    rasters: DataFrame, method: str = "max"
) -> DataFrame:
    """Mosaic overlapping raster tiles: every (tile key) group's grids are
    reduced per-pixel to one composite — ``max`` (brightest-pixel mosaic,
    the satellite-imagery classic), ``min``, or ``mean`` (floor of the
    integer mean, exact: sum // n). One shuffle on the tile key; per-task
    memory is one h*w accumulator regardless of how many snapshots
    overlap.

    Corrupt rows (NULL/short payloads, bad dims) drop like
    raster_to_features — one bad object must not kill the mosaic job; a
    tile whose every row is corrupt leaves the relation. Mixed dimensions
    within one tile raise (that is an upstream grid bug, not noise).
    """
    import pandas as pd

    if method not in ("max", "min", "mean"):
        raise ValueError(f"unknown method {method!r}")
    key = ["tile_z", "tile_x", "tile_y"]

    def reduce_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        grids = []
        dims = None
        for w, h, raw in zip(pdf["w"], pdf["h"], pdf["px"]):
            wh = _raster_dims(w, h, raw)
            if wh is None:
                continue
            w, h = wh
            if dims is None:
                dims = (w, h)
            elif dims != (w, h):
                z, x, y = (int(pdf[k].iloc[0]) for k in key)
                raise ValueError(
                    f"composite_rasters: mixed dims {dims} vs {(w, h)} in "
                    f"tile ({z},{x},{y}) — resample to one grid first"
                )
            grids.append(
                np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
            )
        if not grids:
            return pd.DataFrame({c: [] for c in (
                "tile_z", "tile_x", "tile_y", "w", "h", "px",
            )})
        if method == "max":
            out = np.maximum.reduce(grids)
        elif method == "min":
            out = np.minimum.reduce(grids)
        else:  # mean: exact integer floor, immune to float fold order
            acc = np.zeros(grids[0].shape, dtype=np.int64)
            for g in grids:
                acc += g
            out = (acc // len(grids)).astype(np.uint8)
        z, x, y = (int(pdf[k].iloc[0]) for k in key)
        return pd.DataFrame(
            {"tile_z": [z], "tile_x": [x], "tile_y": [y],
             "w": [dims[0]], "h": [dims[1]], "px": [out.tobytes()]}
        )

    return rasters.groupBy(*key).applyInPandas(reduce_tile, schema=RASTER_SCHEMA)


_HALO_PART_SCHEMA = (
    "tile_z int, tile_x int, tile_y int, su tinyint, sv tinyint, "
    "sw int, sh int, px binary"
)


def _emit_halo_parts(batches):
    """Per tile: its own grid plus the 4 one-pixel edge strips + 4 corner
    pixels each neighbor needs, keyed by the NEIGHBOR that reads them —
    the shared halo-exchange stage under focal_map and isolines
    (~1.07x-minimal shuffle bytes for a 64x64 tile, never 9x)."""
    import pandas as pd

    for pdf in batches:
        out = {c: [] for c in (
            "tile_z", "tile_x", "tile_y", "su", "sv", "sw", "sh", "px",
        )}
        for z, x, y, w, h, raw in zip(
            pdf["tile_z"], pdf["tile_x"], pdf["tile_y"],
            pdf["w"], pdf["h"], pdf["px"],
        ):
            wh = _raster_dims(w, h, raw)
            if wh is None:
                continue  # corrupt row drops, never the task
            z, x, y, (w, h) = int(z), int(x), int(y), wh
            g = np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
            for u in (-1, 0, 1):
                cols = g[:, -1:] if u == 1 else (g[:, :1] if u == -1 else g)
                for v in (-1, 0, 1):
                    strip = (
                        cols[-1:, :] if v == 1
                        else (cols[:1, :] if v == -1 else cols)
                    )
                    out["tile_z"].append(z)
                    out["tile_x"].append(x + u)
                    out["tile_y"].append(y + v)
                    # side of the TARGET's padded frame this strip
                    # fills: the neighbor at (+u,+v) sees this tile
                    # on its (-u,-v) side
                    out["su"].append(-u)
                    out["sv"].append(-v)
                    out["sw"].append(strip.shape[1])
                    out["sh"].append(strip.shape[0])
                    out["px"].append(np.ascontiguousarray(strip).tobytes())
        yield pd.DataFrame(out)



def focal_map(
    rasters: DataFrame,
    op: str = "max",
    default: int = 0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """3x3 focal filter over a tiled raster mosaic with cross-tile HALO
    EXCHANGE: each output pixel is a function of its 3x3 neighborhood in
    the GLOBAL mosaic, so tile borders need one pixel of context from up
    to 8 neighbor tiles. Ops (all replayable in SQL):

    - ``max`` / ``min``: 9-pixel window extremum (dilation / erosion).
    - ``grad``: central-difference gradient magnitude
      ``min(255, |E - W| + |S - N|)`` — the classic slope/edge measure,
      saturated to the uint8 range.
    - ``hillshade``: Horn's-method terrain shading treating pixel values
      as elevations (``azimuth_deg``/``altitude_deg`` light the scene,
      ``z_factor`` exaggerates relief). The trigonometry is rewritten out
      of the per-pixel path: with Horn's exact dyadic-rational gradients
      ``dzdx = ((ne+2e+se) - (nw+2w+sw)) / 8`` (and the N/S twin) the
      shade is ``255 * (sinAlt + zf*cosAlt*(sinAz*dzdy - cosAz*dzdx)) /
      sqrt(1 + zf^2*(dzdx^2 + dzdy^2))`` — no atan/aspect, no divide by
      a zero gradient (flat cells shade to 255*sinAlt exactly). The four
      sin/cos constants are computed ONCE in Python and embedded as
      double literals in both the kernel and the SQL twin, so the only
      engine-evaluated float ops are shared-IEEE +,*,/,sqrt in a pinned
      order — the whole surface replays bit-for-bit.

    Pixels whose window reaches past the edge of the EXISTING tile set
    (missing neighbor, global mosaic border) read ``default`` there —
    a deterministic zero-pad-style policy the oracle replays in closed
    form. Output tiles are exactly the input tiles (a halo strip sent to
    a tile that has no raster of its own evaporates).

    Scale shape: stage 1 is a zero-shuffle ``mapInPandas`` that emits,
    per tile, its own grid plus the 4 one-pixel edge strips and 4 corner
    pixels its neighbors need — shuffled bytes are ``h*w + 2(h+w) + 4``
    per tile, ~1.07x the minimum for a 64x64 tile, and NOT 9x (no tile
    is ever shipped whole to a neighbor). Stage 2 is ONE shuffle on the
    tile key; group size is bounded at 9 parts so the op is skew-proof by
    construction; per-task memory is one (h+2)x(w+2) int32 accumulator.
    Duplicate rasters for one tile raise (upstream dedup bug — same
    policy as zonal_stats); corrupt rows drop (raster_to_features
    policy); neighbor strips whose shared dimension disagrees with the
    center tile raise (grid bug, not noise).
    """
    import math

    import pandas as pd

    if op not in ("max", "min", "grad", "hillshade"):
        raise ValueError(f"unknown op {op!r}")
    if not 0 <= default <= 255:
        raise ValueError(f"default {default} outside uint8 range")
    if op == "hillshade" and not 0.0 < altitude_deg <= 90.0:
        raise ValueError(f"altitude_deg {altitude_deg} outside (0, 90]")
    # hillshade constants, computed ONCE here (never by an engine):
    # ESRI's azimuth-to-math-angle rotation, aspect folded away above
    _alt = math.radians(altitude_deg)
    _azm = math.radians(360.0 - azimuth_deg + 90.0)
    hs_sin_alt = math.sin(_alt)
    hs_zf_cos_alt = float(z_factor) * math.cos(_alt)
    hs_sin_az = math.sin(_azm)
    hs_cos_az = math.cos(_azm)
    hs_zf2 = float(z_factor) * float(z_factor)
    key = ["tile_z", "tile_x", "tile_y"]

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        center = pdf[(pdf["su"] == 0) & (pdf["sv"] == 0)]
        if len(center) == 0:
            # halo strips addressed to a tile with no raster of its own
            return pd.DataFrame({c: [] for c in (
                "tile_z", "tile_x", "tile_y", "w", "h", "px",
            )})
        z, x, y = (int(pdf[k].iloc[0]) for k in key)
        if len(center) > 1:
            raise ValueError(
                f"focal_map: {len(center)} rasters for tile ({z},{x},{y}) "
                "— dedupe the raster relation first"
            )
        w = int(center["sw"].iloc[0])
        h = int(center["sh"].iloc[0])
        pad = np.full((h + 2, w + 2), default, dtype=np.int32)
        for su, sv, sw, sh, raw in zip(
            pdf["su"], pdf["sv"], pdf["sw"], pdf["sh"], pdf["px"]
        ):
            su, sv, sw, sh = int(su), int(sv), int(sw), int(sh)
            # side (su, sv) of the padded frame: -1 = the 1-wide halo
            # lane at index 0, 0 = the interior, +1 = the far halo lane
            rs = slice(0, 1) if sv == -1 else (
                slice(h + 1, h + 2) if sv == 1 else slice(1, h + 1)
            )
            cs = slice(0, 1) if su == -1 else (
                slice(w + 1, w + 2) if su == 1 else slice(1, w + 1)
            )
            want = (rs.stop - rs.start, cs.stop - cs.start)
            if (sh, sw) != want:
                raise ValueError(
                    f"focal_map: strip {sh}x{sw} on side ({su},{sv}) of "
                    f"tile ({z},{x},{y}) does not match the {h}x{w} "
                    "center — resample the grid to one tile size first"
                )
            pad[rs, cs] = np.frombuffer(
                raw, dtype=np.uint8, count=sh * sw
            ).reshape(sh, sw)
        if op == "grad":
            gx = np.abs(pad[1:h + 1, 2:] - pad[1:h + 1, :w])
            gy = np.abs(pad[2:, 1:w + 1] - pad[:h, 1:w + 1])
            res = np.minimum(gx + gy, 255)
        elif op == "hillshade":
            nw, n_, ne = pad[:h, :w], pad[:h, 1:w + 1], pad[:h, 2:]
            w_, e_ = pad[1:h + 1, :w], pad[1:h + 1, 2:]
            sw_, s_, se = pad[2:, :w], pad[2:, 1:w + 1], pad[2:, 2:]
            # Horn gradients: integer sums, then one exact dyadic division
            dzdx = ((ne + 2 * e_ + se) - (nw + 2 * w_ + sw_)) / 8.0
            dzdy = ((sw_ + 2 * s_ + se) - (nw + 2 * n_ + ne)) / 8.0
            num = hs_sin_alt + hs_zf_cos_alt * (
                hs_sin_az * dzdy - hs_cos_az * dzdx
            )
            den = np.sqrt(1.0 + hs_zf2 * (dzdx * dzdx + dzdy * dzdy))
            val = 255.0 * num / den
            res = np.floor(np.minimum(np.maximum(val, 0.0), 255.0) + 0.5)
        else:
            reduce = np.maximum.reduce if op == "max" else np.minimum.reduce
            res = reduce([
                pad[r:r + h, c:c + w] for r in range(3) for c in range(3)
            ])
        return pd.DataFrame(
            {"tile_z": [z], "tile_x": [x], "tile_y": [y],
             "w": [w], "h": [h], "px": [res.astype(np.uint8).tobytes()]}
        )

    parts = rasters.mapInPandas(_emit_halo_parts, schema=_HALO_PART_SCHEMA)
    return parts.groupBy(*key).applyInPandas(assemble, schema=RASTER_SCHEMA)


def resample_rasters(rasters: DataFrame, w: int, h: int) -> DataFrame:
    """Resample every raster tile to a ``w x h`` grid — the missing link
    composite_rasters and focal_map tell users to run when tile grids
    disagree. Integer-exact both directions, so a SQL oracle replays it:

    - DOWNSAMPLE (source dim a multiple of target): box filter with the
      exact integer mean ``block_sum // (fx*fy)`` — one combined floor
      division, never a floor-of-floors drift.
    - UPSAMPLE (target dim a multiple of source): nearest-neighbor pixel
      repetition (exact by construction).

    The two compose per axis (up in x while down in y is legal); the
    upsampled axis expands first (exact), then the box filter sums. Any
    non-integer ratio raises — silent fractional resampling is how grids
    drift half a pixel and every downstream join goes subtly wrong.

    Scale shape: ZERO shuffles — a pure mapInPandas over the tile rows;
    per-task memory is one source + one target grid. Corrupt rows drop
    (raster_to_features policy).
    """
    import pandas as pd

    if w <= 0 or h <= 0:
        raise ValueError(f"target dims must be positive, got {w}x{h}")

    def one_axis(g: np.ndarray, axis: int, src: int, dst: int) -> np.ndarray:
        if src == dst:
            return g
        if dst > src:
            if dst % src:
                raise ValueError(
                    f"resample_rasters: {src} -> {dst} is not an integer "
                    "upsample factor"
                )
            return np.repeat(g, dst // src, axis=axis)
        if src % dst:
            raise ValueError(
                f"resample_rasters: {src} -> {dst} is not an integer "
                "downsample factor"
            )
        return g  # downsample handled jointly below for one exact division

    def run(batches):
        for pdf in batches:
            out = {c: [] for c in (
                "tile_z", "tile_x", "tile_y", "w", "h", "px",
            )}
            for z, x, y, sw, sh, raw in zip(
                pdf["tile_z"], pdf["tile_x"], pdf["tile_y"],
                pdf["w"], pdf["h"], pdf["px"],
            ):
                wh = _raster_dims(sw, sh, raw)
                if wh is None:
                    continue  # corrupt row drops, never the task
                sw, sh = wh
                g = np.frombuffer(raw, dtype=np.uint8, count=sw * sh).reshape(
                    sh, sw
                ).astype(np.int64)
                # expand any upsampled axis first (exact), then box-filter
                # the downsampled axes with ONE combined floor division
                g = one_axis(g, 1, sw, w)
                g = one_axis(g, 0, sh, h)
                cw, ch = g.shape[1], g.shape[0]
                fx, fy = cw // w, ch // h
                if fx > 1 or fy > 1:
                    g = g.reshape(h, fy, w, fx).sum(axis=(1, 3)) // (fx * fy)
                out["tile_z"].append(int(z))
                out["tile_x"].append(int(x))
                out["tile_y"].append(int(y))
                out["w"].append(w)
                out["h"].append(h)
                out["px"].append(g.astype(np.uint8).tobytes())
            yield pd.DataFrame(out)

    return rasters.mapInPandas(run, schema=RASTER_SCHEMA)


OVERLAY_SCHEMA = (
    "tile_z int, tile_x int, tile_y int, feature_a bigint, feature_b bigint, "
    "n_px bigint"
)


def overlay_areas(
    feats_a: DataFrame,
    feats_b: DataFrame,
    w: int = 64,
    h: int = 64,
    extent: int = 4096,
    max_pairs_per_tile: int = 262_144,
) -> DataFrame:
    """Tabulate intersection (areal interpolation): for every pair of
    polygons (a, b) sharing a tile, the number of ``w x h`` pixel centers
    covered by BOTH under fill_polygons_mask's half-open pixel-center
    rule — the discrete intersection area the classic zonal overlay
    (population reallocation, landcover-by-district cross-tables) runs
    on. Integer-exact for grid-aligned rectangles, so a closed-form SQL
    oracle replays it; non-intersecting pairs emit no row.

    Both inputs are canonical FEATURE_SCHEMA polygon relations (loud
    error otherwise, zonal_stats policy).

    Scale shape: ONE cogroup shuffle per side on the tile key; per task
    one mask per A feature held against each B mask — |A|x|B| AND-counts
    per tile, pixel-bounded work ``(|A| + |B|) * h * w`` for the fills.
    The pair loop is guarded by ``max_pairs_per_tile``: a tile dense in
    BOTH layers raises loudly (pre-aggregate or sub-tile first) instead
    of silently running an O(n^2) task for hours.
    """
    import pandas as pd

    from ..mvt.geometry import geom_from_stream

    key = ["tile_z", "tile_x", "tile_y"]
    if extent % w or extent % h:
        raise ValueError(
            f"grid {w}x{h} must divide extent={extent} "
            "(pixel centers must land on exact grid coordinates)"
        )

    def masks_of(pdf: pd.DataFrame, side: str) -> list:
        bad = pdf[pdf["geom_type"] != GEOM_POLYGON]
        if len(bad):
            raise ValueError(
                f"overlay_areas: non-polygon feature (geom_type="
                f"{int(bad['geom_type'].iloc[0])}) on side {side} — filter "
                "to polygons first"
            )
        out = []
        for fid, stream in zip(pdf["feature_id"], pdf["geom_cmds"]):
            rings = [
                ring
                for poly in geom_from_stream(
                    GEOM_POLYGON, np.asarray(stream, dtype=np.uint32)
                )
                for ring in poly
            ]
            mask = fill_polygons_mask(rings, w, h, extent)
            if mask.any():
                out.append((int(fid), mask))
        return out

    def cross(apdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({c: [] for c in (
            "tile_z", "tile_x", "tile_y", "feature_a", "feature_b", "n_px",
        )})
        if len(apdf) == 0 or len(bpdf) == 0:
            return empty
        if len(apdf) * len(bpdf) > max_pairs_per_tile:
            z, x, y = (int(apdf[k].iloc[0]) for k in key)
            raise ValueError(
                f"overlay_areas: {len(apdf)}x{len(bpdf)} feature pairs in "
                f"tile ({z},{x},{y}) exceeds max_pairs_per_tile="
                f"{max_pairs_per_tile} — pre-aggregate a side first"
            )
        a_masks = masks_of(apdf, "a")
        b_masks = masks_of(bpdf, "b")
        if not a_masks or not b_masks:
            return empty
        # |A| x |B| AND-counts as ONE matmul over the flattened masks
        # (guide §4.2): products are 0/1 and counts <= w*h, so float32
        # accumulation is integer-exact while w*h <= 2^24 and float64
        # (exact to 2^53) takes larger grids; the former per-pair Python
        # loop paid ~5us of NumPy dispatch per pair (measured ~8s/tile at
        # 1250x1250 — BLAS does the same tile in ~0.3s).
        # np.nonzero iterates row-major, preserving the loop's
        # (a-order, then b-order) output row order exactly.
        dt = np.float32 if w * h <= 1 << 24 else np.float64
        A = np.stack([m.ravel() for _, m in a_masks]).astype(dt)
        B = np.stack([m.ravel() for _, m in b_masks]).astype(dt)
        counts = A @ B.T
        ia, ib = np.nonzero(counts)
        if len(ia) == 0:
            return empty
        fa_ids = np.asarray([f for f, _ in a_masks], dtype=np.int64)
        fb_ids = np.asarray([f for f, _ in b_masks], dtype=np.int64)
        res = pd.DataFrame(
            {
                "feature_a": fa_ids[ia],
                "feature_b": fb_ids[ib],
                "n_px": counts[ia, ib].astype(np.int64),
            }
        )
        z, x, y = (int(apdf[k].iloc[0]) for k in key)
        res.insert(0, "tile_z", z)
        res.insert(1, "tile_x", x)
        res.insert(2, "tile_y", y)
        return res

    return (
        feats_a.groupBy(*key)
        .cogroup(feats_b.groupBy(*key))
        .applyInPandas(cross, schema=OVERLAY_SCHEMA)
    )


ZONAL_MODE_SCHEMA = (
    "tile_z int, tile_x int, tile_y int, feature_id bigint, "
    "n_px bigint, mode_val int, mode_count bigint"
)


def zonal_mode(
    feats: DataFrame, rasters: DataFrame, extent: int = 4096
) -> DataFrame:
    """Zonal MAJORITY: the most frequent raster value under each polygon's
    mask — the classic categorical-raster statistic (dominant landcover
    class per district) zonal_stats's sum/mean cannot answer. Ties break
    to the SMALLEST value (np.bincount argmax ≡ SQL ``ORDER BY count
    DESC, val ASC``), so the result is deterministic and SQL-replayable.
    Same contracts as zonal_stats: polygons only (loud error), inner
    semantics, duplicate rasters raise, empty masks emit n_px=0 with NULL
    mode. Same scale shape too: ONE cogroup shuffle per side on the tile
    key; per-task state is the h*w grid plus a 256-bin counter."""
    import pandas as pd

    from ..mvt.geometry import geom_from_stream

    key = ["tile_z", "tile_x", "tile_y"]

    def stats(fpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({c: [] for c in (
                "tile_z", "tile_x", "tile_y", "feature_id",
                "n_px", "mode_val", "mode_count",
            )})
        if len(rpdf) > 1:
            z, x, y = (int(rpdf[k].iloc[0]) for k in key)
            raise ValueError(
                f"zonal_mode: {len(rpdf)} rasters for tile "
                f"({z},{x},{y}) — dedupe the raster relation first"
            )
        bad = fpdf[fpdf["geom_type"] != GEOM_POLYGON]
        if len(bad):
            raise ValueError(
                "zonal_mode: non-polygon feature (geom_type="
                f"{int(bad['geom_type'].iloc[0])}) — filter to polygons first"
            )
        w, h = int(rpdf["w"].iloc[0]), int(rpdf["h"].iloc[0])
        raw = rpdf["px"].iloc[0]
        if extent % w or extent % h:
            raise ValueError(
                f"raster {w}x{h} must divide extent={extent} "
                "(pixel centers must land on exact grid coordinates)"
            )
        grid = np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
        out = {c: [] for c in ("feature_id", "n_px", "mode_val", "mode_count")}
        for fid, stream in zip(fpdf["feature_id"], fpdf["geom_cmds"]):
            rings = [
                ring
                for poly in geom_from_stream(
                    GEOM_POLYGON, np.asarray(stream, dtype=np.uint32)
                )
                for ring in poly
            ]
            vals = grid[fill_polygons_mask(rings, w, h, extent)]
            out["feature_id"].append(int(fid))
            out["n_px"].append(int(vals.size))
            if vals.size:
                counts = np.bincount(vals, minlength=256)
                mv = int(counts.argmax())  # argmax ties -> smallest value
                out["mode_val"].append(mv)
                out["mode_count"].append(int(counts[mv]))
            else:
                out["mode_val"].append(None)
                out["mode_count"].append(None)
        z, x, y = (int(rpdf[k].iloc[0]) for k in key)
        res = pd.DataFrame(out)
        res.insert(0, "tile_z", z)
        res.insert(1, "tile_x", x)
        res.insert(2, "tile_y", y)
        return res

    return (
        feats.groupBy(*key)
        .cogroup(rasters.groupBy(*key))
        .applyInPandas(stats, schema=ZONAL_MODE_SCHEMA)
    )


# marching-squares case table — the SINGLE source shared with the SQL
# oracle generator (plans/queries.py imports it): case index is the 4-bit
# inside test (v >= level) over corners a=TL, b=TR, c=BR, d=BL packed as
# (a<<3 | b<<2 | c<<1 | d); each entry lists segments as ordered pairs of
# crossed edges (T/R/B/L). Saddles (5, 10) are pinned to the
# separate-each-inside-corner topology (no center disambiguation), and
# endpoint ORDER within a segment is the listed order — both choices are
# part of the operator's deterministic contract.
MS_SEGMENTS = {
    1: [("L", "B")],
    2: [("B", "R")],
    3: [("L", "R")],
    4: [("T", "R")],
    5: [("T", "R"), ("L", "B")],
    6: [("T", "B")],
    7: [("T", "L")],
    8: [("T", "L")],
    9: [("T", "B")],
    10: [("T", "L"), ("B", "R")],
    11: [("T", "R")],
    12: [("L", "R")],
    13: [("B", "R")],
    14: [("L", "B")],
}

ISOLINE_SCHEMA = (
    "tile_z int, tile_x int, tile_y int, level double, "
    "gx1 double, gy1 double, gx2 double, gy2 double"
)


def isolines(rasters: DataFrame, level: float) -> DataFrame:
    """Marching-squares contour SEGMENTS at ``level`` over a tiled raster
    mosaic, cross-tile SEAMLESS via the focal halo exchange: each 2x2
    pixel cell is owned by the tile of its top-left pixel, and the cells
    along a tile's right/bottom edges read the one-pixel E/S/SE halo its
    neighbors ship — so a contour crossing a tile border continues with
    the exact same crossing point on both sides, no seam, no duplicate
    (every cell has exactly one owner). Cells that would need a MISSING
    neighbor (mosaic border, sparse grid hole) are skipped — no contour
    is fabricated against a pad value.

    Output: one row per segment, endpoints in GLOBAL pixel units
    (pixel (r, c) of tile (tx, ty) sits at gx = tx*w + c, gy = ty*h + r),
    as exact doubles: crossing offsets are ``t = (level - a) / (b - a)``
    — one IEEE division of small integers, identical in any engine, so
    the whole segment set replays bit-for-bit in SQL (the case table
    above is imported by the oracle generator, one source of truth).
    Pick a non-integer ``level`` (e.g. 125.5 over uint8 data) to keep
    every crossing strictly inside its edge; corners >= level count as
    inside.

    Scale shape: identical to focal_map — zero-shuffle halo emit, ONE
    shuffle on the tile key, group size bounded at 9 parts (skew-proof);
    per-task state is one (h+1) x (w+1) grid. Duplicate rasters raise;
    corrupt rows drop.
    """
    import pandas as pd

    L = float(level)
    key = ["tile_z", "tile_x", "tile_y"]

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({c: [] for c in (
            "tile_z", "tile_x", "tile_y", "level",
            "gx1", "gy1", "gx2", "gy2",
        )})
        center = pdf[(pdf["su"] == 0) & (pdf["sv"] == 0)]
        if len(center) == 0:
            return empty
        z, x, y = (int(pdf[k].iloc[0]) for k in key)
        if len(center) > 1:
            raise ValueError(
                f"isolines: {len(center)} rasters for tile ({z},{x},{y}) "
                "— dedupe the raster relation first"
            )
        w = int(center["sw"].iloc[0])
        h = int(center["sh"].iloc[0])
        P = np.zeros((h + 1, w + 1), dtype=np.int32)
        valid = np.zeros((h + 1, w + 1), dtype=bool)
        for su, sv, sw, sh, raw in zip(
            pdf["su"], pdf["sv"], pdf["sw"], pdf["sh"], pdf["px"]
        ):
            su, sv, sw, sh = int(su), int(sv), int(sw), int(sh)
            if su < 0 or sv < 0:
                continue  # W/N-side strips: not needed, cells owned by neighbors
            rs = slice(h, h + 1) if sv == 1 else slice(0, h)
            cs = slice(w, w + 1) if su == 1 else slice(0, w)
            want = (rs.stop - rs.start, cs.stop - cs.start)
            if (sh, sw) != want:
                raise ValueError(
                    f"isolines: strip {sh}x{sw} on side ({su},{sv}) of "
                    f"tile ({z},{x},{y}) does not match the {h}x{w} "
                    "center — resample the grid to one tile size first"
                )
            P[rs, cs] = np.frombuffer(
                raw, dtype=np.uint8, count=sh * sw
            ).reshape(sh, sw)
            valid[rs, cs] = True
        A, B = P[:-1, :-1], P[:-1, 1:]
        C, D = P[1:, 1:], P[1:, :-1]
        ok = valid[:-1, :-1] & valid[:-1, 1:] & valid[1:, 1:] & valid[1:, :-1]
        case = (
            (A >= L).astype(np.int8) * 8 + (B >= L).astype(np.int8) * 4
            + (C >= L).astype(np.int8) * 2 + (D >= L).astype(np.int8)
        )
        xs1, ys1, xs2, ys2 = [], [], [], []
        for k, segs in MS_SEGMENTS.items():
            rr, cc = np.nonzero(ok & (case == k))
            if not len(rr):
                continue
            a, b = A[rr, cc].astype(np.float64), B[rr, cc].astype(np.float64)
            c_, d = C[rr, cc].astype(np.float64), D[rr, cc].astype(np.float64)
            # GLOBAL integer cell coords BEFORE adding the fractional
            # crossing: exactly one float rounding per coordinate, the
            # same "integer + t" the SQL twin states (adding the tile
            # offset after the fraction would round twice and drift ulps)
            cc = cc + x * w
            rr = rr + y * h

            # lazy per-edge: only CROSSED edges are evaluated, and a
            # crossed edge's corners differ by the inside test, so the
            # divisor is never zero
            def edge(e):
                if e == "T":
                    return cc + (L - a) / (b - a), rr + 0.0
                if e == "R":
                    return cc + 1.0, rr + (L - b) / (c_ - b)
                if e == "B":
                    return cc + (L - d) / (c_ - d), rr + 1.0
                return cc + 0.0, rr + (L - a) / (d - a)

            for e1, e2 in segs:
                p1, p2 = edge(e1), edge(e2)
                xs1.append(p1[0])
                ys1.append(p1[1])
                xs2.append(p2[0])
                ys2.append(p2[1])
        if not xs1:
            return empty
        gx1, gy1 = np.concatenate(xs1), np.concatenate(ys1)
        gx2, gy2 = np.concatenate(xs2), np.concatenate(ys2)
        n = len(gx1)
        return pd.DataFrame(
            {
                "tile_z": np.full(n, z, dtype=np.int32),
                "tile_x": np.full(n, x, dtype=np.int32),
                "tile_y": np.full(n, y, dtype=np.int32),
                "level": np.full(n, L),
                "gx1": gx1, "gy1": gy1, "gx2": gx2, "gy2": gy2,
            }
        )

    parts = rasters.mapInPandas(_emit_halo_parts, schema=_HALO_PART_SCHEMA)
    return parts.groupBy(*key).applyInPandas(assemble, schema=ISOLINE_SCHEMA)
