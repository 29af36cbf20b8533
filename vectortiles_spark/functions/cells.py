"""Hierarchical spatial cell index (H3/S2-style), hand-rolled.

No h3/s2sphere libraries exist in this environment (SURVEY.md env facts),
so two S2-style space-filling-curve indexes are implemented over the
WebMercator grid:

* ``quad_cell`` — Z-order (Morton) curve, as a PURE COLUMN EXPRESSION
  (stays in whole-stage codegen; this is the production join key), plus a
  NumPy twin.
* ``hilbert_cell_np`` — Hilbert curve (what S2 actually uses for its
  cell-id locality), vectorized NumPy for pandas-UDF use.

Cell-id layout for both: ``(1 << (2*level)) | curve_position``. The
sentinel bit makes ids unique across levels and gives O(1) hierarchy ops:
``parent(cell) == cell >> 2`` and ``level(cell) == floor(log2(cell)) / 2``
(the S2 trick of encoding level in the id's magnitude).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .tiles import tile_x, tile_y, tile_xy_np


def _morton_col(tx: Column, ty: Column, level: int) -> Column:
    """Bit-interleave two level-bit ints into a Column expression."""
    out = F.lit(0).cast("long")
    for i in range(level):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(tx.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(ty.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def quad_cell(lon: Column, lat: Column, level: int) -> Column:
    """Morton cell id at `level` from lon/lat — pure Column math."""
    tx = tile_x(lon, level)
    ty = tile_y(lat, level)
    return quad_cell_from_xy(tx, ty, level)


def quad_cell_from_xy(tx: Column, ty: Column, level: int) -> Column:
    sentinel = F.lit(1 << (2 * level)).cast("long")
    return sentinel.bitwiseOR(_morton_col(tx, ty, level)).alias("cell")


def cell_level(cell: Column) -> Column:
    return (F.floor(F.log2(cell.cast("double"))) / 2).cast("int")


def neighbor_cells(lon: Column, lat: Column, level: int, ring: int = 1) -> Column:
    """Array of cell ids in the (2*ring+1)^2 neighborhood of a point's cell.

    Out-of-range y rows are dropped (null-filtered); x wraps at the
    antimeridian. This is the kNN candidate-generation key (SURVEY.md §2.D6):
    ``explode(neighbor_cells(...))`` then equi-join — turning a spatial
    radius probe into a hash-partitionable join.
    """
    tx = tile_x(lon, level)
    ty = tile_y(lat, level)
    n = 1 << level
    cells = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            nx = F.pmod(tx + F.lit(dx), F.lit(n))  # wrap x
            ny = ty + F.lit(dy)
            cell = F.when(
                (ny >= 0) & (ny < n), quad_cell_from_xy(nx, ny, level)
            )  # null when off the top/bottom of the world
            cells.append(cell)
    # distinct as well as compact: when 2*ring+1 > 2^level the x wrap
    # aliases offsets onto the same tile, and duplicate cells would yield
    # duplicate join candidates (the same neighbor filling several kNN
    # slots)
    return F.array_distinct(F.array_compact(F.array(*cells)))


# ---------------- NumPy twins ----------------


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v so there is a 0 between each (Morton helper)."""
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def quad_cell_np(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    tx, ty = tile_xy_np(lon, lat, level)
    return quad_cell_from_xy_np(tx, ty, level)


def quad_cell_from_xy_np(tx: np.ndarray, ty: np.ndarray, level: int) -> np.ndarray:
    m = _part1by1(tx.astype(np.uint64)) | (_part1by1(ty.astype(np.uint64)) << np.uint64(1))
    return ((np.uint64(1) << np.uint64(2 * level)) | m).astype(np.int64)


def hilbert_d_np(tx: np.ndarray, ty: np.ndarray, level: int) -> np.ndarray:
    """Position along the level-`level` Hilbert curve, vectorized.

    Standard xy->d bit transform; the loop runs `level` times (over bit
    planes), every step vectorized across the whole array.
    """
    x = tx.astype(np.int64).copy()
    y = ty.astype(np.int64).copy()
    d = np.zeros(x.shape, dtype=np.int64)
    if level == 0:  # whole-world single cell: curve position 0 (quad twin parity)
        return d
    s = np.int64(1 << (level - 1))
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        flip = ry == 0
        swap_flip = flip & (rx == 1)
        x_f = np.where(swap_flip, s - 1 - x, x)
        y_f = np.where(swap_flip, s - 1 - y, y)
        x, y = np.where(flip, y_f, x_f), np.where(flip, x_f, y_f)
        s >>= 1
    return d


def hilbert_cell_np(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """S2-style Hilbert cell id with the sentinel-bit level encoding."""
    tx, ty = tile_xy_np(lon, lat, level)
    return ((np.int64(1) << np.int64(2 * level)) | hilbert_d_np(tx, ty, level)).astype(np.int64)


def hilbert_cell(lon: Column, lat: Column, level: int) -> Column:
    """Hilbert cell id as a Column (Arrow-batched pandas UDF over the NumPy
    kernel). Same sentinel layout as quad_cell, so parent/level ops apply;
    use it as a join key when S2-like curve locality matters (range scans,
    region covers). quad_cell stays the default production key — it's pure
    Column math and equi-join semantics are identical (both bijective with
    the (tx, ty) tile)."""
    @F.pandas_udf("long")
    def _h(lo: pd.Series, la: pd.Series) -> pd.Series:
        lo_np = lo.to_numpy(dtype=np.float64)
        la_np = la.to_numpy(dtype=np.float64)
        # propagate NULL coordinates as NULL cells (quad_cell's Column
        # semantics) — NaN would otherwise cast to a garbage int32 tile and
        # equi-join unrelated NULL rows onto the same cell id
        bad = np.isnan(lo_np) | np.isnan(la_np)
        cells = hilbert_cell_np(
            np.where(bad, 0.0, lo_np), np.where(bad, 0.0, la_np), level
        )
        out = pd.Series(cells, dtype="Int64")
        out[bad] = pd.NA
        return out

    return _h(lon, lat)


# ------------------------------- geohash -------------------------------

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lon: Column, lat: Column, precision: int = 6) -> Column:
    """Standard geohash (Niemeyer base32) as a PURE Column expression:
    lon/lat quantize to ceil/floor(5p/2)-bit grid indexes, the indexes
    bit-interleave (lon first, the geohash convention), and each 5-bit
    group selects an alphabet character. Everything is float-quantize +
    integer/string algebra that DuckDB replays bit-for-bit
    (:func:`geohash_sql`), so geohash joins sit under the value oracle
    like quadkeys do.

    Scale: a geohash PREFIX is a spatial bucket (chars 1..p nest), so
    groupBy(substring(geohash, 1, k)) is the classic cheap spatial
    rollup — one hash aggregate, no geometry."""
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision must be in [1, 12], got {precision}")
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    lon_i = F.least(
        F.floor((lon + 180.0) / 360.0 * float(1 << nlon)).cast("long"),
        F.lit((1 << nlon) - 1),
    )
    lat_i = F.least(
        F.floor((lat + 90.0) / 180.0 * float(1 << nlat)).cast("long"),
        F.lit((1 << nlat) - 1),
    )
    h = F.lit(0).cast("long")
    for i in range(bits):  # i = 0 is the MSB of the interleaved hash
        if i % 2 == 0:
            j = i // 2  # lon bit, MSB-first
            bit = F.shiftrightunsigned(lon_i, nlon - 1 - j).bitwiseAND(F.lit(1))
        else:
            j = i // 2
            bit = F.shiftrightunsigned(lat_i, nlat - 1 - j).bitwiseAND(F.lit(1))
        h = h.bitwiseOR(F.shiftleft(bit, bits - 1 - i))
    chars = [
        F.substring(
            F.lit(GEOHASH_ALPHABET),
            (
                F.shiftrightunsigned(h, 5 * (precision - 1 - k))
                .bitwiseAND(F.lit(31))
                .cast("int")
                + 1
            ),
            1,
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lon_expr: str, lat_expr: str, precision: int = 6) -> str:
    """The exact DuckDB twin of :func:`geohash_encode` over SQL
    expressions (same quantize, interleave, and alphabet indexing)."""
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision must be in [1, 12], got {precision}")
    bits = 5 * precision
    nlon = (bits + 1) // 2
    nlat = bits // 2
    lon_i = (
        f"least(CAST(floor(({lon_expr} + 180.0) / 360.0 * {float(1 << nlon)!r}) "
        f"AS BIGINT), {(1 << nlon) - 1})"
    )
    lat_i = (
        f"least(CAST(floor(({lat_expr} + 90.0) / 180.0 * {float(1 << nlat)!r}) "
        f"AS BIGINT), {(1 << nlat) - 1})"
    )
    terms = []
    for i in range(bits):
        j = i // 2
        src, nb = (lon_i, nlon) if i % 2 == 0 else (lat_i, nlat)
        terms.append(f"((({src} >> {nb - 1 - j}) & 1) << {bits - 1 - i})")
    h = " | ".join(terms)
    chars = [
        f"substr('{GEOHASH_ALPHABET}', "
        f"CAST(((({h}) >> {5 * (precision - 1 - k)}) & 31) AS INT) + 1, 1)"
        for k in range(precision)
    ]
    return " || ".join(chars)
