"""Downzoom: derive the z-k PARENT tile from its child tile BLOBS.

The inverse of overzoom (overzoom.py): where overzoom splits one parent
into 2^levels x 2^levels children, downzoom merges the children back
into their parent by halving coordinates ``levels`` times. This is how a
tile pipeline builds OVERVIEW zooms from a finished max-zoom tile set
without re-reading the source relation (tippecanoe's tile-join /
overview derivation): z15 is built from features once, z14..z0 derive
blob-to-blob.

Precision contract: parent coordinates are ``floor((child_local +
child_offset) / 2^levels)`` — the parent keeps child-pixel detail
floored onto its own grid, the standard overview trade. Collapsed
geometry is dropped by the SAME policy the clip localizer uses
(operators/clip.py `_localize_ring`): consecutive duplicate vertices
dedupe, sub-minimum parts drop, a ring drops when its integer shoelace
is zero or disagrees in sign with the exact (pre-floor) ring, and a
dropped exterior drops its whole part (holes are never promoted) —
matching the decoder's sign-based ring grouping (reference semantics:
vectortiles Internal.hs polygon grouping, Geometry.hs:72-74 surveyor).

Scale shape: a parent needs EXACTLY its <= 4^levels children and nothing
else, so the distributed operator is one `groupBy(parent_key).
applyInPandas` — a single narrow shuffle whose group size is BOUNDED at
4^levels rows by construction. Input skew cannot create a hot reducer:
no tile key can receive more rows than the grid allows. Chaining
downzoom_tiles z->z-1->...->0 is a log-depth pyramid build whose total
shuffled volume is the (geometrically shrinking) tile set itself.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mvt import codec
from ..mvt.geometry import GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON
from ..session import python_stage_partitions
from .clip import _ring_signed_area
from .tiling import TILE_SCHEMA


def _dedupe_rows(a: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicate rows (keeps the first of each run)."""
    if len(a) < 2:
        return a
    keep = np.empty(len(a), bool)
    keep[0] = True
    np.any(a[1:] != a[:-1], axis=1, out=keep[1:])
    return a[keep]


def _shrink_ring(r: np.ndarray, offx: int, offy: int, lv: int):
    """One CLOSED child ring -> closed parent int ring, or None if it
    collapses. Same drop policy as clip.py `_localize_ring`: dedupe,
    minimum 3 distinct points, zero or sign-flipped integer shoelace
    (vs the exact scaled ring) drops the ring."""
    v = np.asarray(r, np.int64)
    if len(v) > 1 and np.array_equal(v[0], v[-1]):
        v = v[:-1]
    if len(v) < 3:
        return None
    shifted = v + (offx, offy)
    ip = _dedupe_rows(shifted >> lv)
    if len(ip) > 1 and np.array_equal(ip[0], ip[-1]):
        ip = ip[:-1]
    if len(ip) < 3:
        return None
    int_area2 = _ring_signed_area(ip.astype(np.float64)) * 2.0
    float_area2 = _ring_signed_area(shifted.astype(np.float64) / (1 << lv)) * 2.0
    if int_area2 == 0 or (int_area2 > 0) != (float_area2 > 0):
        return None
    return np.concatenate([ip, ip[:1]])


def _shrink_geom(gtype: int, geom, offx: int, offy: int, lv: int):
    """Transform one child geometry into the parent frame, or None if it
    collapses entirely."""
    if gtype == GEOM_POINT:
        pts = (np.asarray(geom, np.int64) + (offx, offy)) >> lv
        return pts if len(pts) else None
    if gtype == GEOM_LINESTRING:
        parts = []
        for p in geom:
            v = (np.asarray(p, np.int64) + (offx, offy)) >> lv
            v = _dedupe_rows(v)
            if len(v) >= 2:
                parts.append(v)
        return parts or None
    if gtype == GEOM_POLYGON:
        polys = []
        for rings in geom:
            if not len(rings):
                continue
            ext_r = _shrink_ring(rings[0], offx, offy, lv)
            if ext_r is None:
                continue  # exterior collapsed: the whole part drops
            out = [ext_r]
            for hole in rings[1:]:
                h = _shrink_ring(hole, offx, offy, lv)
                if h is not None:
                    out.append(h)
            polys.append(out)
        return polys or None
    raise ValueError("Geometry type of UNKNOWN given.")


def downzoom_blobs(
    children: list[tuple[int, int, int, bytes]], levels: int = 1
) -> tuple[int, int, int, bytes, int, int]:
    """Merge ALL children of ONE parent into the parent blob.

    children: [(tile_z, tile_x, tile_y, mvt)] — every child must sit at
    the same z and share the same parent at z - levels; 1..4^levels rows
    (absent children are simply empty sky). Returns (parent_z, parent_x,
    parent_y, blob, n_features, n_layers). Rejects the same malformed
    blobs decode_tile rejects, plus cross-child inconsistencies
    (extent/version mismatch within a layer name, duplicate child keys)
    loudly."""
    if levels < 1:
        raise ValueError(f"downzoom levels must be >= 1, got {levels}")
    if not children:
        raise ValueError("downzoom_blobs needs at least one child tile")
    s = 1 << levels
    zs = {c[0] for c in children}
    if len(zs) != 1:
        raise ValueError(f"children span multiple zooms: {sorted(zs)}")
    z = zs.pop()
    if z < levels:
        raise ValueError(f"cannot downzoom z={z} by {levels} levels")
    keys = [(c[1], c[2]) for c in children]
    if len(set(keys)) != len(keys):
        raise ValueError("duplicate child tile key (merge tile sets first)")
    parents = {(x >> levels, y >> levels) for x, y in keys}
    if len(parents) != 1:
        raise ValueError(f"children span multiple parents: {sorted(parents)}")
    px, py = parents.pop()

    merged: dict[str, codec.Layer] = {}
    for _, cx, cy, data in sorted(children, key=lambda c: (c[1], c[2])):
        for name, layer in codec.decode_tile(bytes(data)).items():
            lay = merged.get(name)
            if lay is None:
                lay = merged[name] = codec.Layer(
                    name, layer.version, layer.extent, []
                )
            elif (lay.extent, lay.version) != (layer.extent, layer.version):
                raise ValueError(
                    f"layer {name!r}: extent/version mismatch across children "
                    f"({lay.extent}/v{lay.version} vs {layer.extent}/v{layer.version})"
                )
            offx = (cx % s) * lay.extent
            offy = (cy % s) * lay.extent
            for f in layer.features:
                g = _shrink_geom(f.geom_type, f.geom, offx, offy, levels)
                if g is not None:
                    lay.features.append(
                        codec.Feature(f.feature_id, f.metadata, f.geom_type, g)
                    )
    layers = [merged[n] for n in sorted(merged) if merged[n].features]
    blob = codec.encode_tile(layers)
    nfeat = sum(len(l.features) for l in layers)
    return (z - levels, px, py, blob, nfeat, len(layers))


def downzoom_tiles(tiles: DataFrame, levels: int = 1) -> DataFrame:
    """Distributed downzoom: (tile_z, tile_x, tile_y, mvt) rows in, the
    z - levels parent tile rows out. ONE narrow shuffle on the parent
    key; every group is bounded at 4^levels rows (skew-proof by
    construction). Chain calls to build a full overview pyramid from the
    max zoom."""
    if levels < 1:
        raise ValueError(f"downzoom levels must be >= 1, got {levels}")

    def fn(key, pdf):
        import pandas as pd

        pz, px, py, blob, nf, nl = downzoom_blobs(
            list(
                zip(
                    pdf["tile_z"].tolist(),
                    pdf["tile_x"].tolist(),
                    pdf["tile_y"].tolist(),
                    pdf["mvt"].tolist(),
                )
            ),
            levels=levels,
        )
        return pd.DataFrame(
            {
                "tile_z": [pz], "tile_x": [px], "tile_y": [py],
                "mvt": [blob], "n_features": [nf], "n_layers": [nl],
            }
        )

    # pin the group exchange's partition count (encode_tiles policy): the
    # per-parent decode+merge is Python-CPU bound, and AQE's size-based
    # coalescing folds a few MB of blob shuffle into 1-2 partitions and
    # serializes the workers (measured 9.2 executor-CPU-s on 2 tasks for a
    # 4096-tile input). repartition on the SAME parent-key expressions the
    # groupBy uses, so applyInPandas' clustering requirement is satisfied
    # by this exchange and no second one is inserted.
    parts = python_stage_partitions(tiles.sparkSession)
    pz = (F.col("tile_z") - levels).alias("_pz")
    px = F.shiftright("tile_x", levels).alias("_px")
    py = F.shiftright("tile_y", levels).alias("_py")
    return (
        tiles.select("tile_z", "tile_x", "tile_y", "mvt")
        .repartition(parts, (F.col("tile_z") - levels),
                     F.shiftright("tile_x", levels), F.shiftright("tile_y", levels))
        .groupBy(pz, px, py)
        .applyInPandas(fn, TILE_SCHEMA)
    )


def build_overviews(tiles: DataFrame, min_z: int, max_z: int) -> DataFrame:
    """Full overview pyramid from a finished max-zoom tile set: the input
    rows (all at ``max_z``) plus every derived level down to ``min_z``,
    each level downzoomed from the one above (so z-2 halves the ALREADY
    halved z-1 geometry — the standard lossy overview chain).

    Scale shape: log-depth chain of bounded-group shuffles over a
    geometrically SHRINKING relation (level z-k has <= 1/4^k of the tile
    keys), so total shuffled volume is < 4/3 of the input tile set. Each
    level's result is the next level's input lineage — Spark re-executes
    the chain per level unless the caller persists; for a sink write,
    feed the returned union straight through (each level computes once
    per action)."""
    if not (0 <= min_z <= max_z):
        raise ValueError(f"need 0 <= min_z <= max_z, got {min_z}..{max_z}")
    base = tiles.select("tile_z", "tile_x", "tile_y", "mvt")
    out = base
    cur = base
    for _ in range(max_z - min_z):
        cur = downzoom_tiles(cur, levels=1).select(
            "tile_z", "tile_x", "tile_y", "mvt"
        )
        out = out.unionByName(cur)
    return out
