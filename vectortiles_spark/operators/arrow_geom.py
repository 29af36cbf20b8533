"""Shared Arrow-native buffers for the engine's 4-level geometry columns
(parts x rings x points x [x, y]).

The vector chain clip -> simplify -> geom_features passes geometry as
these buffers end to end: ``geom_buffers`` reads a column's per-level
lengths plus one flat (n, 2) point block, the kernels work on offsets
arithmetic over them, and ``geom_array`` builds the output column from
the same kind of lengths with ``ListArray.from_arrays`` — no per-row
Python lists on the way in or out. ``feature_parts`` (per-feature ring
views) remains for clip's point/polygon lane, whose exact polygon
clipper is a per-ring algorithm.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

GEOM_INT64 = pa.list_(pa.list_(pa.list_(pa.list_(pa.int64()))))


def _unwrap(arr):
    """(per-slot lengths, flattened child) for one list level. Empty
    arrays short-circuit WITHOUT calling compute kernels: Spark's Arrow
    stream can ship an empty child with no offsets buffer, and
    value_lengths/flatten on that segfault the worker (pyarrow 16)."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.int64), pa.array([], type=arr.type.value_type)
    return np.asarray(arr.value_lengths().fill_null(0)), arr.flatten()


def geom_buffers(garr, dtype=np.float64):
    """``(n_parts, n_rings, n_pts, flat)`` of the Arrow list column
    `garr`: parts per feature, rings per part, points per ring (each an
    int64 array; null lists at those levels count as empty) and every
    point of the batch as one (n, 2) `dtype` block in row order. A null
    or non-pair at the innermost POINT level is fatal (ValueError for the
    batch) — a malformed point would otherwise silently shear every ring
    after it."""
    n_parts, parts_arr = _unwrap(garr)
    n_rings, rings_arr = _unwrap(parts_arr)
    n_pts, coords = _unwrap(rings_arr)
    n_coords, values = _unwrap(coords)
    if len(n_coords) and not np.all(n_coords == 2):
        raise ValueError("every geometry point must be an [x, y] pair")
    flat = np.asarray(values, dtype=dtype).reshape(-1, 2)
    return (
        n_parts.astype(np.int64, copy=False),
        n_rings.astype(np.int64, copy=False),
        n_pts.astype(np.int64, copy=False),
        flat,
    )


def starts_of(lengths: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: ``starts[i]`` = sum(lengths[:i]), length n+1
    (the last entry is the total)."""
    out = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out[1:])
    return out


def _offsets(lengths: np.ndarray) -> pa.Array:
    # list<> offsets are int32: pa.array raises (instead of wrapping) when
    # a batch's total exceeds 2^31 - 1
    return pa.array(starts_of(lengths), pa.int32())


def geom_array(n_parts, n_rings, n_pts, pts: np.ndarray) -> pa.Array:
    """Inverse of geom_buffers: the ``list<list<list<list<int64>>>>``
    column whose features have ``n_parts`` parts, whose parts have
    ``n_rings`` rings, whose rings have ``n_pts`` points, with `pts` the
    (n, 2) int64 points in row order."""
    values = pa.array(np.ascontiguousarray(pts, dtype=np.int64).reshape(-1))
    coords = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 2 * len(pts) + 1, 2), pa.int32()), values
    )
    rings = pa.ListArray.from_arrays(_offsets(n_pts), coords)
    parts = pa.ListArray.from_arrays(_offsets(n_rings), rings)
    return pa.ListArray.from_arrays(_offsets(n_parts), parts)


def feature_parts(garr, dtype=np.float64, transform=None):
    """Yield, per feature row of the Arrow list column `garr`, its parts
    as ``[[ring_view, ...], ...]`` where every ring view is a zero-copy
    (k, 2) slice of one flattened `dtype` block (geom_buffers' null and
    point-pair rules apply). `transform`, when given, maps the whole
    (n, 2) flat block once before slicing (e.g. a batch-level
    projection) — far cheaper than transforming ring by ring."""
    n_parts, n_rings, n_pts, flat = geom_buffers(garr, dtype)
    if transform is not None:
        flat = transform(flat)
    ring_starts = starts_of(n_pts)
    pi = ri = 0
    for f in range(len(n_parts)):
        parts = []
        for _ in range(n_parts[f]):
            nr = n_rings[pi]
            pi += 1
            parts.append(
                [
                    flat[ring_starts[ri + r] : ring_starts[ri + r + 1]]
                    for r in range(nr)
                ]
            )
            ri += nr
        yield parts
