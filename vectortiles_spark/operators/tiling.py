"""Tile assembly: feature rows -> one MVT byte blob per (z, x, y).

The flagship sink (SURVEY.md §2.D8, north_star): ``encode_tiles``
hash-partitions feature rows on the tile key, sorts each partition by
(tile, layer, geom_type, feature_id) and stream-encodes it with
``mapInArrow``; emitted tiles roundtrip-decode to exactly the features that
went in, using the reference's MVT semantics (zigzag delta commands,
layer/feature/value protobuf layout — Internal.hs:114-125 + SURVEY.md
§1.3).

Scale design:
* Geometry is encoded to uint32 command streams UPSTREAM of the shuffle —
  for point features with pure Column math (JVM-side, whole-stage codegen),
  for lines/polygons with the NumPy kernel inside vectorized UDFs.
* The sink has ONE encode lane: every Arrow batch of complete tiles goes
  through a single codec.encode_multi_tile_batch call (dictionary builds +
  wire framing for all its tiles in a fixed number of array passes).
  Metadata rides as plain typed columns or as an ARRAY<STRUCT> ``meta``
  column; both become the kernel's columnar specs once per batch.
* Hot tiles (dense metros) are bounded with a deterministic per-tile
  feature cap (rank window) BEFORE the shuffle — the same strategy
  planet-scale tilers use — so no task can receive an unbounded group.
* The encode exchange's partition count is pinned
  (session.python_stage_partitions): the stage is Python-CPU bound.

Feature-row schema (the engine's canonical feature exchange format):
    tile_z INT, tile_x INT, tile_y INT, layer STRING, geom_type INT,
    feature_id LONG, meta ARRAY<STRUCT<key:STRING, tag:INT, s:STRING,
    d:DOUBLE, i:LONG, b:BOOLEAN>>, geom_cmds ARRAY<BIGINT>
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tiles import tile_px, tile_py, tile_x, tile_y, zigzag
from ..mvt import codec
from ..session import python_stage_partitions

TILE_SCHEMA = "tile_z int, tile_x int, tile_y int, mvt binary, n_features long, n_layers int"

META_FIELD = "array<struct<key:string,tag:int,s:string,d:double,i:bigint,b:boolean>>"
FEATURE_SCHEMA = (
    "tile_z int, tile_x int, tile_y int, layer string, geom_type int, "
    f"feature_id bigint, meta {META_FIELD}, geom_cmds array<bigint>"
)


def point_features(
    df: DataFrame,
    z: int,
    layer: str = "images",
    lon: str = "lon",
    lat: str = "lat",
    feature_id=None,
    meta: dict | None = None,
    extent: int = codec.DEFAULT_EXTENT,
) -> DataFrame:
    """Rows with lon/lat -> canonical point-feature rows, all JVM-side.

    The MVT command stream for a single point is [MoveTo(1), zig(px),
    zig(py)] (ref Internal.hs:158-159 with cursor (0,0)) — emitted here as
    a pure Column expression so the geometry encode happens inside
    whole-stage codegen, not Python.

    ``feature_id`` defaults to monotonically_increasing_id(), which is
    PARTITION-LAYOUT-DEPENDENT: ids (and therefore tile bytes and
    cap_features_per_tile selections) change under repartitioning or task
    retries. Pass a stable key expression (xxhash64 of a business key,
    as every query in this repo does) whenever byte-deterministic output
    matters.
    """
    lon_c, lat_c = F.col(lon), F.col(lat)
    fid = feature_id if feature_id is not None else F.monotonically_increasing_id()
    zx = zigzag(tile_px(lon_c, z, extent))
    zy = zigzag(tile_py(lat_c, z, extent))
    if extent == codec.DEFAULT_EXTENT:
        # single-point stream [9, zig(px), zig(py)] packed into ONE BIGINT:
        # Spark's row->Arrow writer serializes array columns per element, so
        # a packed scalar roughly halves the feed cost of the encode stage.
        # The 13-bit lanes hold zig values < 2^13, i.e. extent <= 4096 only.
        geom_col = F.shiftleft(zx, 13).bitwiseOR(zy).cast("bigint").alias("geom_pt")
    else:
        header = F.lit((1 << 3) | 1).cast("bigint")  # MoveTo, count 1
        geom_col = F.array(header, zx.cast("bigint"), zy.cast("bigint")).alias("geom_cmds")
    cols = [
        F.lit(z).cast("int").alias("tile_z"),
        tile_x(lon_c, z).alias("tile_x"),
        tile_y(lat_c, z).alias("tile_y"),
        F.lit(layer).alias("layer"),
        F.lit(1).alias("geom_type"),
        fid.cast("bigint").alias("feature_id"),
        geom_col,
    ]
    if meta:
        # plain typed columns: the metadata stays Arrow-columnar through the
        # shuffle and the encoder's per-batch dictionary build
        cols += [col.alias(key) for key, col in meta.items()]
    return df.select(*cols)


GEOM_NESTED_T = "array<array<array<array<int>>>>"  # parts x rings x points x 2


def geom_features(
    df: DataFrame,
    layer_col: str = "layer",
    geom_type_col: str = "geom_type",
    geom_col: str = "geom",
    feature_id_col: str = "feature_id",
    meta: dict | None = None,
) -> DataFrame:
    """Arbitrary-geometry feature builder: rows carrying tile keys plus a
    nested-array geometry (parts x rings x points x [x, y], tile-local ints;
    for points/lines the rings level has one entry) become canonical
    feature rows with MVT command streams (cursor semantics + winding per
    the reference, via the NumPy kernel in a mapInArrow batch).

    This is the bring-your-own-geometry door next to point_features (pure
    Column) and raster_to_features (contour tracing)."""
    import pyarrow as pa

    from ..mvt.geometry import GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON, geom_to_stream

    meta = meta or {}
    base = df.select(
        F.col("tile_z").cast("int"), F.col("tile_x").cast("int"), F.col("tile_y").cast("int"),
        F.col(layer_col).alias("layer"),
        F.col(geom_type_col).cast("int").alias("geom_type"),
        F.col(feature_id_col).cast("bigint").alias("feature_id"),
        F.col(geom_col).cast(GEOM_NESTED_T).alias("geom"),
        *[c.alias(k) for k, c in meta.items()],
    )
    out_fields = [f for f in base.schema.fields if f.name != "geom"]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    ) + ", geom_cmds array<bigint>"

    def encode(batches):
        from .arrow_geom import feature_parts

        for b in batches:
            gts = b["geom_type"].to_pylist()
            # shared Arrow-native unnest (arrow_geom.feature_parts); every
            # ring below is a zero-copy view into one int64 block
            streams = []
            for gt, parts in zip(gts, feature_parts(b["geom"], np.int64)):
                if gt == GEOM_POINT:
                    all_rings = [r for part in parts for r in part if len(r)]
                    g = (
                        np.concatenate(all_rings)
                        if all_rings
                        else np.empty((0, 2), dtype=np.int64)
                    )
                    degenerate = len(g) == 0
                elif gt == GEOM_LINESTRING:
                    # a valid line part needs >= 2 points (MoveTo + LineTo>=1)
                    g = [
                        part[0]
                        for part in parts
                        if len(part) and len(part[0]) >= 2
                    ]
                    degenerate = not g
                elif gt == GEOM_POLYGON:
                    # a valid ring needs >= 4 points (closed, LineTo count >= 2).
                    # If the EXTERIOR (ring 0) is degenerate the whole part
                    # must go: keeping its holes would promote a CCW hole to
                    # ring 0, and decode would then attach it to the PREVIOUS
                    # polygon (negative rings group with the preceding
                    # exterior, Internal.hs:202-206) — silently wrong geometry
                    g = [
                        [r for r in part if len(r) >= 4]
                        for part in parts
                        if len(part) and len(part[0]) >= 4
                    ]
                    g = [p for p in g if p]
                    degenerate = not g
                else:
                    raise ValueError("Geometry type of UNKNOWN given.")
                if degenerate:
                    # empty stream -> dropped by the sink (an empty feature
                    # would make the tile undecodable, Internal.hs:296)
                    streams.append([])
                    continue
                streams.append(geom_to_stream(gt, g).astype(np.int64).tolist())
            cols = {f.name: b[f.name] for f in out_fields}
            cols["geom_cmds"] = pa.array(streams, pa.list_(pa.int64()))
            yield pa.record_batch(cols)

    from ._fuse import compose, tag, tagged

    up = tagged(df)
    base_sig = [(f.name, f.dataType) for f in base.schema.fields]
    df_sig = [(f.name, f.dataType) for f in df.schema.fields]
    _df_geom = next((s[1].simpleString() for s in df_sig if s[0] == "geom"), None)
    geom_only_diff = (
        [s for s in base_sig if s[0] != "geom"] == [s for s in df_sig if s[0] != "geom"]
        and [s[0] for s in base_sig] == [s[0] for s in df_sig]
        and _df_geom in (GEOM_NESTED_T, "array<array<array<array<bigint>>>>")
    )
    if up is not None and geom_only_diff:
        # upstream is a fusable mapInArrow AND this call's select is an
        # identity projection (default column names, no meta, canonical
        # types) up to the geom cast: compose the kernels over the same
        # parent instead of stacking another Python pass. The clip/
        # simplify chain emits bigint-nested geometry while the declared
        # input contract is int-nested; replicate the JVM cast's
        # two's-complement narrowing with an unsafe Arrow cast so fused
        # and unfused plans stay value-identical even for out-of-range
        # (already-corrupt) coordinates.
        parent, prev = up
        if base_sig != df_sig:
            import pyarrow.compute as pc

            geom_t = pa.list_(pa.list_(pa.list_(pa.list_(pa.int32()))))

            def narrowed(batches, _prev=prev):
                for b in _prev(batches):
                    i = b.schema.get_field_index("geom")
                    col = pc.cast(b.column(i), geom_t, safe=False)
                    yield b.set_column(i, pa.field("geom", geom_t), col)

            fused = compose(narrowed, encode)
        else:
            fused = compose(prev, encode)
        return tag(parent.mapInArrow(fused, out_schema), parent, fused)
    return base.mapInArrow(encode, out_schema)


def cap_features_per_tile(
    features: DataFrame,
    max_per_tile: int,
    order_by: str = "feature_id",
    salt_buckets: int = 16,
    pre_phase2=None,
) -> DataFrame:
    """Deterministic hot-tile bound: keep the first `max_per_tile` features
    per (tile, layer) by `order_by`, SALTED two-phase (SURVEY.md §2.D10).

    A single window over the tile key would land an uncapped metro tile on
    one task before the cap applies — the straggler the cap exists to
    prevent. Phase 1 windows over (tile, layer, salt): each task sees at
    most rows/salt_buckets of the hottest tile and keeps its per-salt
    first `max_per_tile` (the global first-N is a subset of every salt's
    first-N, so nothing needed survives outside the quota). Phase 2
    re-ranks the <= salt_buckets * max_per_tile survivors exactly —
    bounded input, and byte-identical output to the single-phase window
    when `order_by` is a key (pinned by tests/test_tiling_e2e.py). The
    downstream encode of a capped tile is likewise bounded at
    max_per_tile rows per task. ``salt_buckets<=1`` keeps the one-window
    path.

    ``pre_phase2`` (optional, DataFrame -> DataFrame) is applied to the
    phase-1 survivors BEFORE the exact phase-2 window. A caller that
    immediately tile-partitions the output anyway (encode_tiles) passes
    its repartition here: hash(tile) clusters every (tile[, layer])
    window group, so phase 2 rides that exchange instead of adding its
    own — one fewer full shuffle (guide §2.4), with the salted phase 1
    still bounding what any post-exchange task sees of a hot tile."""
    part_cols = ["tile_z", "tile_x", "tile_y"] + (["layer"] if "layer" in features.columns else [])
    w = Window.partitionBy(*part_cols).orderBy(F.col(order_by))
    if not salt_buckets or salt_buckets <= 1:
        capped = (
            features.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_per_tile)
            .drop("__rn")
        )
        return pre_phase2(capped) if pre_phase2 is not None else capped
    # salt from the order key itself: deterministic under retries and
    # independent of partition layout
    salt = F.pmod(F.xxhash64(F.col(order_by)), F.lit(salt_buckets))
    w1 = Window.partitionBy(*part_cols, "__salt").orderBy(F.col(order_by))
    pre = (
        features.withColumn("__salt", salt)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= max_per_tile)
        .drop("__rn")
    )
    if pre_phase2 is not None:
        pre = pre_phase2(pre)
    return (
        pre.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_tile)
        .drop("__rn", "__salt")
    )


def varint_len(v) -> F.Column:
    """Wire length in bytes of a uint32 varint, as a Column expression —
    the same closed form the q_mvt_tiles oracle states in SQL."""
    return (
        F.when(v < F.lit(1 << 7), 1)
        .when(v < F.lit(1 << 14), 2)
        .when(v < F.lit(1 << 21), 3)
        .when(v < F.lit(1 << 28), 4)
        .otherwise(5)
    ).cast("bigint")


def geometry_wire_bytes(features: DataFrame) -> F.Column:
    """Per-feature GEOMETRY wire cost: packed command-stream payload plus
    its field framing (1 tag byte + length varint) — the additive part of
    a feature's tile footprint. Dictionary/meta bytes are shared across a
    layer (first occurrence pays, the rest reference) so they are NOT
    additive per feature and are deliberately excluded. Pure Column
    algebra over ``geom_cmds`` (F.aggregate fold) or the packed
    ``geom_pt`` single-point scalar."""
    if "geom_cmds" in features.columns:
        payload = F.aggregate(
            F.col("geom_cmds"),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + varint_len(v),
        )
    elif "geom_pt" in features.columns:
        pt = F.col("geom_pt")
        payload = (
            varint_len(F.lit(9))
            + varint_len(F.shiftright(pt, 13))
            + varint_len(pt.bitwiseAND(F.lit((1 << 13) - 1)))
        )
    else:
        raise ValueError(
            "geometry_wire_bytes: features carry neither geom_cmds nor "
            "geom_pt — pass bytes_col explicitly"
        )
    return payload + varint_len(payload) + F.lit(1)


def cap_tile_bytes(
    features: DataFrame,
    max_bytes: int,
    order_by: str = "feature_id",
    bytes_col: F.Column | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """BYTE-budget hot-tile bound (tippecanoe ``--maximum-tile-bytes``
    analog): keep, per (tile, layer), the longest prefix by ``order_by``
    whose RUNNING byte cost stays within ``max_bytes`` — so the emitted
    tile's additive geometry footprint is bounded no matter how dense the
    metro tile is. A single feature larger than the whole budget drops.

    ``bytes_col`` is the per-feature cost (default:
    ``geometry_wire_bytes``). Like cap_features_per_tile, ``order_by``
    must be a key for byte-deterministic output.

    Salted two-phase, same argument as the count cap: any feature in the
    kept prefix has GLOBAL prefix cost <= max_bytes, and its PER-SALT
    prefix is a subset of its global prefix, so its per-salt running sum
    is also <= max_bytes and it survives phase 1. Phase 2 recomputes the
    exact global running sum over survivors, whose per-salt byte mass is
    bounded at max_bytes each — so the hottest tile costs any single
    task at most salt_buckets * max_bytes bytes instead of its full
    uncapped mass."""
    part_cols = ["tile_z", "tile_x", "tile_y"] + (
        ["layer"] if "layer" in features.columns else []
    )
    cost = bytes_col if bytes_col is not None else geometry_wire_bytes(features)
    feats = features.withColumn("__bytes", cost)
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if not salt_buckets or salt_buckets <= 1:
        return (
            feats.withColumn("__run", F.sum("__bytes").over(w))
            .filter(F.col("__run") <= max_bytes)
            .drop("__bytes", "__run")
        )
    salt = F.pmod(F.xxhash64(F.col(order_by)), F.lit(salt_buckets))
    w1 = (
        Window.partitionBy(*part_cols, "__salt")
        .orderBy(F.col(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = (
        feats.withColumn("__salt", salt)
        .withColumn("__run", F.sum("__bytes").over(w1))
        .filter(F.col("__run") <= max_bytes)
        .drop("__run")
    )
    return (
        pre.withColumn("__run", F.sum("__bytes").over(w))
        .filter(F.col("__run") <= max_bytes)
        .drop("__bytes", "__run", "__salt")
    )


_CORE_COLS = {
    "tile_z", "tile_x", "tile_y", "layer", "geom_type", "feature_id",
    "meta", "geom_cmds", "geom_pt",
}


def _tag_for_arrow_type(t) -> int:
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return codec.VAL_STRING
    if pa.types.is_floating(t):
        return codec.VAL_DOUBLE
    if pa.types.is_integer(t):
        return codec.VAL_INT
    if pa.types.is_boolean(t):
        return codec.VAL_BOOL
    raise ValueError(f"unsupported metadata column type {t}")


# struct field carrying each value tag's payload (META_FIELD)
_STRUCT_VALUE_FIELDS = {
    "s": (codec.VAL_STRING,),
    "d": (codec.VAL_FLOAT, codec.VAL_DOUBLE),
    "i": (codec.VAL_INT, codec.VAL_UINT, codec.VAL_SINT),
    "b": (codec.VAL_BOOL,),
}


def _struct_meta_specs(meta) -> list[tuple[str, np.ndarray, np.ndarray, np.ndarray]]:
    """ARRAY<STRUCT> ``meta`` (META_FIELD) -> one columnar metadata spec
    (key, codes, framed_buf, framed_off) per distinct key, keys sorted —
    the form codec.encode_multi_tile_batch takes.

    A key's value dictionary is keyed on (tag, value), floats by bit
    pattern, so one key may carry several value types. A key listed twice
    in one feature's list keeps its last entry. Entries with a NULL key, an
    unknown tag or a NULL value are skipped like NULL plain-column values.
    Vectorized over the flattened entries; Python loops only over tags and
    distinct keys."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..mvt import wire

    ent = pc.list_flatten(meta)
    if len(ent) == 0:
        return []
    row = pc.list_parent_indices(meta).to_numpy().astype(np.int64)
    tag = pc.fill_null(ent.field("tag"), 0).to_numpy(zero_copy_only=False).astype(np.int64)
    kd = ent.field("key").dictionary_encode()
    kcode = pc.fill_null(kd.indices, -1).to_numpy(zero_copy_only=False).astype(np.int64)
    ok = ent.is_valid().to_numpy(zero_copy_only=False) & (kcode >= 0)
    # per-entry value identity: string dictionary code, float bit pattern,
    # integer, or bool
    ident = np.zeros(len(ent), dtype=np.int64)
    has_value = np.zeros(len(ent), dtype=bool)
    for fname, tags in _STRUCT_VALUE_FIELDS.items():
        sel = np.isin(tag, tags)
        col = ent.field(fname)
        has_value |= sel & col.is_valid().to_numpy(zero_copy_only=False)
        if fname == "s":
            vals = pc.fill_null(col.dictionary_encode().indices, 0).to_numpy(zero_copy_only=False)
        elif fname == "d":
            vals = pc.fill_null(col, 0.0).to_numpy(zero_copy_only=False).view(np.int64)
        else:
            vals = pc.fill_null(col, False if fname == "b" else 0).to_numpy(zero_copy_only=False)
        ident[sel] = vals[sel].astype(np.int64)
    e = np.flatnonzero(ok & has_value)
    if not e.size:
        return []
    # keys in sorted order: remap dictionary codes to sorted rank
    names = kd.dictionary.to_pylist()
    krank = np.empty(len(names), dtype=np.int64)
    krank[sorted(range(len(names)), key=names.__getitem__)] = np.arange(len(names))
    names = sorted(names)
    # last entry wins per (row, key): unique over the reversed pairs
    pair = row[e] * len(names) + krank[kcode[e]]
    _, last = np.unique(pair[::-1], return_index=True)
    e = e[np.sort(e.size - 1 - last)]
    r, k, t, v = row[e], krank[kcode[e]], tag[e], ident[e]
    # one dictionary entry per distinct (key, tag, value)
    order = np.lexsort((v, t, k))
    ko, to, vo = k[order], t[order], v[order]
    new = np.concatenate([[True], (ko[1:] != ko[:-1]) | (to[1:] != to[:-1]) | (vo[1:] != vo[:-1])])
    gid = np.cumsum(new) - 1  # per sorted entry
    g_key, g_tag, g_rep = ko[new], to[new], e[order[new]]
    # frame every entry's value bytes, one frame_values_vec call per tag
    g_start = np.zeros(g_tag.size, dtype=np.int64)
    g_len = np.zeros(g_tag.size, dtype=np.int64)
    bufs, base = [], 0
    for fname, tags in _STRUCT_VALUE_FIELDS.items():
        for tg in tags:
            gs = np.flatnonzero(g_tag == tg)
            if not gs.size:
                continue
            fbuf, foff = codec.frame_values_vec(tg, ent.field(fname).take(pa.array(g_rep[gs])))
            g_start[gs] = base + foff[:-1]
            g_len[gs] = np.diff(foff)
            bufs.append(fbuf)
            base += fbuf.size
    allbuf = np.concatenate(bufs)
    g_bounds = np.searchsorted(g_key, np.arange(len(names) + 1))
    e_bounds = np.searchsorted(ko, np.arange(len(names) + 1))
    specs = []
    for ki, name in enumerate(names):
        g0, g1 = g_bounds[ki], g_bounds[ki + 1]
        if g0 == g1:
            continue
        codes = np.full(len(meta), -1, dtype=np.int64)
        sl = slice(e_bounds[ki], e_bounds[ki + 1])
        codes[r[order[sl]]] = gid[sl] - g0
        lens = g_len[g0:g1]
        specs.append((
            name, codes, wire.ragged_gather(allbuf, g_start[g0:g1], lens),
            np.concatenate([[0], np.cumsum(lens)]),
        ))
    return specs


def _meta_specs(tbl) -> list[tuple[str, np.ndarray, np.ndarray, np.ndarray]]:
    """Columnar metadata specs for one Arrow table: every plain typed
    column (any column beyond the core feature schema), dictionary-encoded
    once (Arrow C++) with its uniques framed to value wire bytes, then the
    ARRAY<STRUCT> ``meta`` column's keys, sorted. A struct key that names a
    plain column joins that column's spec; the plain value wins where a
    feature carries both."""
    import pyarrow.compute as pc

    def one_chunk(col):
        col = col.combine_chunks()
        return col.chunk(0) if hasattr(col, "chunk") else col  # older pyarrow

    specs: list[tuple[str, np.ndarray, np.ndarray, np.ndarray]] = []
    for field in tbl.schema:
        if field.name in _CORE_COLS:
            continue
        tag = _tag_for_arrow_type(field.type)
        d = one_chunk(tbl[field.name]).dictionary_encode()
        codes = pc.fill_null(d.indices, -1).to_numpy(zero_copy_only=False).astype(np.int64)
        fbuf, foff = codec.frame_values_vec(tag, d.dictionary)
        specs.append((field.name, codes, fbuf, foff))
    if "meta" not in tbl.column_names:
        return specs
    plain = {spec[0]: i for i, spec in enumerate(specs)}
    for key, codes, fbuf, foff in _struct_meta_specs(one_chunk(tbl["meta"])):
        j = plain.get(key)
        if j is None:
            specs.append((key, codes, fbuf, foff))
            continue
        _, pcodes, pbuf, poff = specs[j]
        codes = np.where(pcodes >= 0, pcodes, np.where(codes >= 0, codes + len(poff) - 1, -1))
        specs[j] = (key, codes, np.concatenate([pbuf, fbuf]), np.concatenate([poff, poff[-1] + foff[1:]]))
    return specs


def _make_encode_stream(extent: int = codec.DEFAULT_EXTENT, layer_const: str | None = None):
    """Stream-encoder factory (extent is captured in the closure so every
    tile declares the layer extent that the upstream pixel math used).

    The encoder consumes (tile-key-sorted) Arrow batches and carries the
    (possibly incomplete) tail tile across batch boundaries. Each batch of
    complete tiles goes through ONE codec.encode_multi_tile_batch call —
    one Python crossing per ~64k rows, no per-tile or per-feature Python —
    whatever its shape:

    * metadata: plain typed columns and the ARRAY<STRUCT> ``meta`` column
      both become columnar specs once per batch (_meta_specs); NULL values
      are NULL codes, which the kernel skips;
    * empty command streams (degenerate geometry) are dropped before the
      kernel; a tile left with no feature still yields its row, with empty
      bytes and zero counts."""
    import pyarrow as pa

    def flush(tbl: pa.Table) -> pa.RecordBatch:
        """Encode every tile run in tbl (all runs complete)."""
        # NULLs in the core columns would NOT error downstream — they would
        # CORRUPT silently: Arrow converts a null-bearing int column to
        # float64 NaN, .astype(int64) turns NaN into INT64_MIN garbage
        # coordinates/keys, and a null layer factorizes to code -1 which
        # Python-indexes the LAST layer name. Fail with the column name.
        for cname in ("tile_z", "tile_x", "tile_y", "feature_id", "geom_type",
                      "layer", "geom_pt"):
            if cname in tbl.column_names and tbl[cname].null_count:
                raise ValueError(
                    f"encode_tiles: column {cname!r} contains NULLs — feature "
                    "rows must carry complete tile keys/ids (filter or fill "
                    "upstream; a NULL here would silently corrupt tile bytes)"
                )
        z = tbl["tile_z"].to_numpy(zero_copy_only=False)
        x = tbl["tile_x"].to_numpy(zero_copy_only=False)
        y = tbl["tile_y"].to_numpy(zero_copy_only=False)
        n = tbl.num_rows
        tile_first = np.concatenate(
            [[True], (z[1:] != z[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])]
        )
        if "layer" in tbl.column_names:
            lcodes, lnames = pd.factorize(tbl["layer"].to_pandas())
            lnames = list(lnames)
        else:  # single-layer pipeline: the constant string never rides the feed
            lcodes = np.zeros(n, dtype=np.int64)
            lnames = [layer_const]
        fids = tbl["feature_id"].to_numpy(zero_copy_only=False)
        gts = tbl["geom_type"].to_numpy(zero_copy_only=False)
        keep = None
        if "geom_pt" in tbl.column_names:
            # packed single-point geometry -> synthesize the command stream
            pt = tbl["geom_pt"].to_numpy(zero_copy_only=False).astype(np.int64)
            gvals = np.empty(3 * n, dtype=np.int64)
            gvals[0::3] = 9  # MoveTo, count 1
            gvals[1::3] = pt >> 13
            gvals[2::3] = pt & 0x1FFF
            goff = np.arange(0, 3 * n + 3, 3, dtype=np.int64)[: n + 1]
        else:
            # zero-copy ragged view of the command streams (no pylist)
            cmds_arr = tbl["geom_cmds"].combine_chunks()
            if hasattr(cmds_arr, "chunk"):  # ChunkedArray -> single ListArray
                cmds_arr = cmds_arr.chunk(0)
            goff = cmds_arr.offsets.to_numpy().astype(np.int64)
            gvals = cmds_arr.values.to_numpy(zero_copy_only=False)
            if np.diff(goff).min(initial=1) == 0:
                keep = goff[1:] > goff[:-1]
        meta_specs = _meta_specs(tbl)

        out_z, out_x, out_y = z[tile_first], x[tile_first], y[tile_first]
        n_tiles = out_z.size
        if keep is not None:
            # an empty feature would make the tile undecodable
            # (Internal.hs:296): drop those rows. Offsets stay contiguous,
            # since a dropped row spans no command values
            tile_of = (np.cumsum(tile_first) - 1)[keep]
            goff = np.append(goff[:-1][keep], goff[-1])
            z, x, y, lcodes, fids, gts = (a[keep] for a in (z, x, y, lcodes, fids, gts))
            meta_specs = [(k, c[keep], b, o) for k, c, b, o in meta_specs]
        mvt = [b""] * n_tiles
        nf = np.zeros(n_tiles, dtype=np.int64)
        nl = np.zeros(n_tiles, dtype=np.int64)
        if fids.size:
            mvts, ts, runs = codec.encode_multi_tile_batch(
                z, x, y, lcodes, lnames, fids, gts, gvals, goff, meta_specs,
                extent=extent,
            )
            counts = np.diff(np.append(ts, fids.size))
            if keep is None:
                mvt, nf, nl = mvts, counts, runs
            else:
                tid = tile_of[ts]
                for t, b in zip(tid.tolist(), mvts):
                    mvt[t] = b
                nf[tid], nl[tid] = counts, runs
        return pa.record_batch(
            {
                "tile_z": pa.array(out_z.astype(np.int32), pa.int32()),
                "tile_x": pa.array(out_x.astype(np.int32), pa.int32()),
                "tile_y": pa.array(out_y.astype(np.int32), pa.int32()),
                "mvt": pa.array(mvt, pa.binary()),
                "n_features": pa.array(nf.astype(np.int64), pa.int64()),
                "n_layers": pa.array(nl.astype(np.int32), pa.int32()),
            }
        )

    def key_at(tbl: pa.Table, i: int) -> tuple:
        return (
            tbl["tile_z"][i].as_py(), tbl["tile_x"][i].as_py(), tbl["tile_y"][i].as_py()
        )

    def encode_stream(batches):
        # The carry is a LIST of table slices, concatenated only when the
        # tail tile completes — a hot metro tile spanning dozens of batches
        # costs one concat, not a quadratic re-concat per batch.
        carry_parts: list[pa.Table] = []
        carry_key: tuple | None = None

        def drain_carry():
            nonlocal carry_parts, carry_key
            if not carry_parts:
                return None
            whole = (
                carry_parts[0]
                if len(carry_parts) == 1
                else pa.concat_tables(carry_parts)
            ).combine_chunks()
            carry_parts, carry_key = [], None
            return flush(whole)

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if tbl.num_rows == 0:
                continue
            if carry_key is not None and key_at(tbl, 0) != carry_key:
                rb = drain_carry()
                if rb is not None and rb.num_rows:
                    yield rb
            if carry_key is not None and key_at(tbl, -1) == carry_key:
                carry_parts.append(tbl)  # whole batch continues the tail tile
                continue
            if carry_key is not None:
                # split off the head rows that finish the carried tile
                z0 = tbl["tile_z"].to_numpy(zero_copy_only=False)
                x0 = tbl["tile_x"].to_numpy(zero_copy_only=False)
                y0 = tbl["tile_y"].to_numpy(zero_copy_only=False)
                same = (z0 == carry_key[0]) & (x0 == carry_key[1]) & (y0 == carry_key[2])
                head_end = int(np.flatnonzero(~same)[0]) if (~same).any() else tbl.num_rows
                carry_parts.append(tbl.slice(0, head_end))
                rb = drain_carry()
                if rb is not None and rb.num_rows:
                    yield rb
                tbl = tbl.slice(head_end)
                if tbl.num_rows == 0:
                    continue
            # process complete tiles of this batch; keep its tail as new carry
            z1 = tbl["tile_z"].to_numpy(zero_copy_only=False)
            x1 = tbl["tile_x"].to_numpy(zero_copy_only=False)
            y1 = tbl["tile_y"].to_numpy(zero_copy_only=False)
            change = (z1[1:] != z1[:-1]) | (x1[1:] != x1[:-1]) | (y1[1:] != y1[:-1])
            starts = np.flatnonzero(change) + 1
            last_start = int(starts[-1]) if starts.size else 0
            if last_start > 0:
                rb = flush(tbl.slice(0, last_start).combine_chunks())
                if rb is not None and rb.num_rows:
                    yield rb
            carry_parts.append(tbl.slice(last_start))
            carry_key = key_at(tbl, -1)
        rb = drain_carry()
        if rb is not None and rb.num_rows:
            yield rb

    return encode_stream


# default-extent instance (used by standalone scripts and tests)
_encode_stream = _make_encode_stream()


def _layer_is_expected_literal(features: DataFrame, name: str) -> bool:
    """True iff the analyzed plan proves `layer` is the string literal
    `name` (rendered as ``<name> AS layer#N``) — a zero-job constancy proof
    for the common ``F.lit(name).alias("layer")`` column."""
    import re

    try:
        analyzed = features._jdf.queryExecution().analyzed()
        out = analyzed.output()
        expr_id = None
        for i in range(out.size()):
            attr = out.apply(i)
            if attr.name() == "layer":
                expr_id = attr.exprId().id()
                break
        if expr_id is None:
            return False
        plan = analyzed.toString()
        # a Union's output reuses the FIRST child's expression ids while its
        # VALUES come from every child — a literal alias in child one proves
        # nothing about the rest. An outer join can NULL out the literal
        # side's attributes for unmatched rows, so "layer == literal" only
        # holds modulo NULL there. Never fast-path either shape; the data
        # scan fallback handles both (and rejects the NULLs).
        if re.search(r"\bUnion\b|LeftOuter|RightOuter|FullOuter|ExistenceJoin", plan):
            return False
        # match the DEFINING alias of this exact output attribute (by expr
        # id), so a stale literal alias shadowed by a later withColumn can't
        # produce a false proof
        return bool(
            re.search(rf"(?<![\w.]){re.escape(name)} AS layer#{expr_id}(?!\d)", plan)
        )
    except Exception:
        return False


def encode_tiles(
    features: DataFrame,
    max_per_tile: int | None = None,
    partitions: int | None = None,
    extent: int = codec.DEFAULT_EXTENT,
    single_layer: str | None = None,
    trusted: bool = False,
) -> DataFrame:
    """The flagship sink: canonical feature rows -> one MVT row per tile.

    Scale shape: hash-repartition on the tile key (each tile lives in
    exactly one partition), sort within partitions so a tile's features are
    contiguous and layers come out name-sorted deterministically, then
    stream-encode whole partitions via mapInArrow. Per-tile cost is pure
    codec work (~50 us), not per-group UDF dispatch (~ms): at 10^12 rows
    the shuffle is the same one groupBy would pay, but the Python boundary
    is crossed once per Arrow batch instead of once per tile."""
    if single_layer is not None and "layer" in features.columns:
        # a constant layer string costs len(name) bytes PER ROW through the
        # row->Arrow feed (~14% of feed time measured at 20M rows): drop it
        # and re-inject the name worker-side. Guard against silently
        # re-labeling a multi-layer frame: if the analyzed plan shows the
        # column IS the expected constant literal (the point_features case),
        # the proof is free; otherwise one column-pruned min/max pass checks
        # the data. That pass re-executes the full upstream lineage (a
        # clip+simplify pipeline pays ~2x), so callers who KNOW the column
        # is the constant — they just aliased it — pass trusted=True, or a
        # literal layer, or pre-drop the column, to skip it.
        if not trusted and not _layer_is_expected_literal(features, single_layer):
            bounds = features.agg(
                F.min("layer").alias("lo"),
                F.max("layer").alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.count("layer").alias("n_nonnull"),
            ).first()
            ok = bounds.n == 0 or (
                bounds.n_nonnull == bounds.n
                and bounds.lo == single_layer
                and bounds.hi == single_layer
            )
            if not ok:
                raise ValueError(
                    f"encode_tiles(single_layer={single_layer!r}): input has layer "
                    f"values in [{bounds.lo!r}, {bounds.hi!r}] with "
                    f"{bounds.n - bounds.n_nonnull} NULLs; refusing to re-label"
                )
        features = features.drop("layer")
    key = [F.col("tile_z"), F.col("tile_x"), F.col("tile_y")]
    if not partitions:
        # the encode stage is Python-CPU bound: pin its partition count
        partitions = python_stage_partitions(features.sparkSession)
    if max_per_tile is not None:
        # the cap's exact phase-2 window rides the encode repartition
        # (hash(tile) clusters every window group): 2 cap exchanges + the
        # encode exchange collapse to 2 total, while the salted phase 1
        # still runs before anything is tile-partitioned (hot-tile guard).
        # Partition by (tile_x, tile_y) only: a subset of the window's
        # clustering keys still satisfies it, whereas tile_z is a literal
        # in single-zoom pipelines — the optimizer prunes it from the
        # window spec but NOT from the repartition expression, and that
        # mismatch re-inserts the exchange this fold removes
        features = cap_features_per_tile(
            features,
            max_per_tile,
            pre_phase2=lambda df: df.repartition(
                partitions, F.col("tile_x"), F.col("tile_y")
            ),
        )
    else:
        features = features.repartition(partitions, *key)
    sort_cols = [c for c in ("layer", "geom_type", "feature_id") if c in features.columns]
    ordered = features.sortWithinPartitions(*key, *[F.col(c) for c in sort_cols])
    return ordered.mapInArrow(
        _make_encode_stream(extent, layer_const=single_layer), schema=TILE_SCHEMA
    )


def decode_tiles(
    tiles: DataFrame,
    layers: list[str] | None = None,
    extent: int = codec.DEFAULT_EXTENT,
) -> DataFrame:
    """Inverse of encode_tiles: MVT blobs -> canonical feature rows
    (ref `tile`, lib/Geography/VectorTile.hs:70-71, distributed).

    ``layers`` enables layer-selective partial decode: non-matching layer
    messages inside each blob are length-skipped after a name peek (the
    reference's lazy one-layer decode, bench/Bench.hs:63-67) — on a tile
    ingest path reading one layer of a many-layer planet tileset this
    skips the dominant share of per-blob parse work.

    Output uses the ARRAY<STRUCT> metadata form plus geometry command
    streams, so decode_tiles(encode_tiles(f)) roundtrips through the sink.

    ``extent`` must match the tiles' declared layer extent (the output
    schema carries no extent column, so a silent mismatch would leave
    downstream consumers mis-scaling the pixel coordinates by up to 8x —
    a non-default extent raises instead, telling the caller to pass it
    and to re-encode with the same value).

    Fast path (round 4): raw-layer wire parse (fastdecode batch kernels)
    plus canonical-stream pass-through — geom_to_stream(geom_from_stream(s))
    is s itself for streams in canonical encoder form (zig/parse_cmd are
    exact inverses), so those features never materialize geometry objects;
    only non-canonical streams take the scalar decode+re-encode detour,
    which rejects exactly the same inputs decode_tile rejects. (Error
    IDENTITY can differ on multiply-malformed layers: decode_tiles walks
    features in type-sorted emit order, decode_tile in original order, so
    whichever bad feature comes first under each order raises first.)
    """
    import pyarrow as pa

    from ..mvt import fastdecode
    from ..mvt.geometry import geom_from_stream, geom_to_stream

    def run(batches):
        for b in batches:
            rows = {k: [] for k in (
                "tile_z", "tile_x", "tile_y", "layer", "geom_type",
                "feature_id", "meta",
            )}
            cmd_chunks: list[np.ndarray] = []
            cmd_lens: list[int] = []
            for z, x, y, raw in zip(
                b["tile_z"].to_pylist(), b["tile_x"].to_pylist(),
                b["tile_y"].to_pylist(), b["mvt"].to_pylist(),
            ):
                raws = codec.parse_raw_tile(raw, layers=layers)
                # duplicate layer names: decode_tile's dict keeps the LAST
                # message per name — emit rows only for that one, but still
                # validate the shadowed layers (decode_tile decodes them too,
                # so malformed input must raise identically)
                last_of_name = {rl.name: rl for rl in raws}
                for rl in raws:
                    emit = last_of_name[rl.name] is rl
                    if not rl.features:
                        raise ValueError("VectorTile.features: `[RawFeature]` empty")
                    layer_ext = rl.extent if rl.extent is not None else codec.DEFAULT_EXTENT
                    if layer_ext != extent:
                        raise ValueError(
                            f"decode_tiles: layer {rl.name!r} declares extent "
                            f"{layer_ext}, expected {extent} — pass "
                            "decode_tiles(..., extent=...) and re-encode with "
                            "the same value (the feature schema carries no "
                            "extent column, so a mismatch would silently "
                            "mis-scale coordinates)"
                        )
                    nf = len(rl.features)
                    if rl.batch is not None:
                        types, cnt, streams = rl.batch.types, rl.batch.geom_cnt, rl.batch.geom_vals
                    else:
                        types = np.fromiter((rf.type for rf in rl.features), np.int64, count=nf)
                        cnt = np.fromiter((rf.geometry.size for rf in rl.features), np.int64, count=nf)
                        streams = (
                            np.concatenate([np.asarray(rf.geometry, np.uint32) for rf in rl.features])
                            if int(cnt.sum()) else np.zeros(0, np.uint32)
                        )
                    canon = fastdecode.canonical_stream_mask(types, streams, cnt)
                    offs = np.cumsum(cnt) - cnt
                    # points first, then lines, then polygons (stable) —
                    # the order layer_from_raw's sort produces
                    order = np.argsort(types, kind="stable")
                    for i in order.tolist():
                        rf = rl.features[i]
                        if rf.type not in (1, 2, 3):
                            raise ValueError("Geometry type of UNKNOWN given.")
                        if not emit:
                            # shadowed duplicate-name layer: validate the
                            # geometry AND the tag indices exactly like
                            # decode_tile (layer_from_raw builds every
                            # layer's metas before the dict collapses), then
                            # drop the row
                            if not canon[i]:
                                geom_from_stream(rf.type, rf.geometry)
                            stags = np.asarray(rf.tags, dtype=np.int64)
                            stags = stags[: (stags.size // 2) * 2].reshape(-1, 2)
                            for k, v in stags.tolist():
                                rl.keys[k], rl.values[v]  # noqa: B018 — index check
                            continue
                        rows["tile_z"].append(z)
                        rows["tile_x"].append(x)
                        rows["tile_y"].append(y)
                        rows["layer"].append(rl.name)
                        rows["geom_type"].append(rf.type)
                        # wire carries uint64 ids; Spark BIGINT is signed
                        fid = rf.id
                        rows["feature_id"].append(fid - (1 << 64) if fid >= (1 << 63) else fid)
                        tags = np.asarray(rf.tags, dtype=np.int64)
                        tags = tags[: (tags.size // 2) * 2].reshape(-1, 2)
                        meta = {rl.keys[k]: rl.values[v] for k, v in tags.tolist()}
                        rows["meta"].append([
                            {
                                "key": k,
                                "tag": tag,
                                "s": v if tag == codec.VAL_STRING else None,
                                "d": float(v) if tag in (codec.VAL_FLOAT, codec.VAL_DOUBLE) else None,
                                "i": int(v) if tag in (codec.VAL_INT, codec.VAL_UINT, codec.VAL_SINT) else None,
                                "b": bool(v) if tag == codec.VAL_BOOL else None,
                            }
                            for k, (tag, v) in sorted(meta.items())
                        ])
                        if canon[i]:
                            s = streams[offs[i]:offs[i] + cnt[i]]
                        else:
                            s = geom_to_stream(rf.type, geom_from_stream(rf.type, rf.geometry))
                        cmd_chunks.append(s)
                        cmd_lens.append(int(s.size))
            all_cmds = (
                np.concatenate(cmd_chunks).astype(np.int64)
                if cmd_chunks else np.zeros(0, np.int64)
            )
            offsets = np.concatenate(([0], np.cumsum(cmd_lens, dtype=np.int64)))
            yield pa.record_batch(
                {
                    "tile_z": pa.array(rows["tile_z"], pa.int32()),
                    "tile_x": pa.array(rows["tile_x"], pa.int32()),
                    "tile_y": pa.array(rows["tile_y"], pa.int32()),
                    "layer": pa.array(rows["layer"], pa.string()),
                    "geom_type": pa.array(rows["geom_type"], pa.int32()),
                    "feature_id": pa.array(rows["feature_id"], pa.int64()),
                    "meta": pa.array(rows["meta"], pa.list_(pa.struct([
                        pa.field("key", pa.string()), pa.field("tag", pa.int32()),
                        pa.field("s", pa.string()), pa.field("d", pa.float64()),
                        pa.field("i", pa.int64()), pa.field("b", pa.bool_()),
                    ]))),
                    "geom_cmds": pa.ListArray.from_arrays(
                        pa.array(offsets, pa.int32()), pa.array(all_cmds, pa.int64())
                    ),
                }
            )

    return tiles.select("tile_z", "tile_x", "tile_y", "mvt").mapInArrow(run, FEATURE_SCHEMA)


def tile_stats(features: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-tile feature counts via SALTED two-phase aggregation.

    Demonstrates the skew treatment for hot-tile aggregates (SURVEY.md
    §2.D10): partial aggregate on (tile, salt) spreads a metro tile across
    `salt_buckets` reducers, then a cheap second aggregate merges the
    partials. (For simple counts Spark's map-side partial agg already does
    this; the explicit form is the template for non-algebraic aggregates.)
    """
    salted = features.withColumn(
        "__salt", F.pmod(F.hash(F.col("feature_id")), F.lit(salt_buckets))
    )
    partial = salted.groupBy("tile_z", "tile_x", "tile_y", "__salt").agg(
        F.count("*").alias("partial_n"),
        # distinct-layer STATE (not a count) so the merge is exact: a layer
        # split across salt buckets must not be undercounted. Layer
        # cardinality per tile is tiny (a handful of names), so the set is
        # cheap to carry
        F.collect_set("layer").alias("partial_layer_set"),
    )
    return partial.groupBy("tile_z", "tile_x", "tile_y").agg(
        F.sum("partial_n").alias("n_features"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("partial_layer_set")))
        ).alias("n_layers"),  # exact (set-union merge), not an approximation
    )


def tile_pyramid(
    per_tile: DataFrame,
    leaf_z: int,
    min_z: int = 0,
    sum_cols: tuple[str, ...] = ("n_features",),
) -> DataFrame:
    """Roll per-tile aggregates up the XYZ pyramid: every ancestor tile at
    zooms ``min_z..leaf_z`` with its summed stats (each parent at z-1 is
    the sum of its four children — XYZ parentage is integer halving,
    ``(x >> 1, y >> 1)``, a consequence of the quadtree layout the
    reference's tile grid implies; zoom-out is the standard tileset
    pre-aggregation every planet-scale tiler ships).

    Input: one row per leaf tile at zoom ``leaf_z`` with columns
    ``tile_x/tile_y`` plus additive ``sum_cols`` (counts / sums — the
    output of :func:`tile_stats` or any per-tile aggregate; they come
    back as BIGINT). Additive is a requirement — partial aggregation
    must merge.

    Plan shape — ONE shuffle, not one per level: each leaf row explodes
    into its (leaf_z - min_z + 1) ancestor keys, then a single
    groupBy(z, x>>shift, y>>shift). Map-side partial aggregation
    collapses each input partition to its distinct ancestor tiles before
    the exchange, so the shuffled bytes equal what a bottom-up
    level-by-level rollup would move IN TOTAL (sum over z of #tiles(z))
    — but in one stage. The textbook bottom-up form (level z-1 from
    level z's output) is a trap in Spark unless every level is
    materialized: the final union's branches each re-derive their whole
    lineage, turning Z levels into Z(Z+1)/2 shuffles of the leaf scan.
    Leaf rows are already per-tile AGGREGATES — never feed raw features
    through this; aggregate to the leaf zoom first.
    """
    if not min_z <= leaf_z:
        raise ValueError(f"min_z={min_z} must be <= leaf_z={leaf_z}")
    zs = F.explode(
        F.array(*[F.lit(z).cast("int") for z in range(min_z, leaf_z + 1)])
    ).alias("z")
    exploded = per_tile.select("tile_x", "tile_y", *sum_cols, zs)
    return exploded.groupBy(
        F.col("z").alias("tile_z"),
        F.expr(f"shiftright(tile_x, {leaf_z} - z)").alias("tile_x"),
        F.expr(f"shiftright(tile_y, {leaf_z} - z)").alias("tile_y"),
    ).agg(*[F.sum(c).alias(c) for c in sum_cols])


def build_pyramid(
    df: DataFrame,
    zooms,
    tolerance: float = 1.0,
    tolerance_by_zoom: dict | None = None,
    projection: str = "webmercator",
    extent: int = codec.DEFAULT_EXTENT,
    buffer_px: int = 0,
    max_per_tile: int | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Multi-zoom VECTOR tileset builder (the tippecanoe-shaped overview
    loop, Spark-first): world features -> clip to EVERY requested zoom in
    one pass -> per-zoom Douglas-Peucker generalization -> encode, one MVT
    blob per (z, x, y) across all zooms.

    Plan shape: clip_features(z=[...]) emits the whole pyramid from ONE
    source scan and ONE projection (lower-zoom pixels are the top zoom's
    halved — exact in float64), simplify/geom_features stay shuffle-free
    mapInArrow passes, and a SINGLE encode shuffle covers all zooms —
    Z separate per-zoom jobs would rescan and reshuffle Z times.
    ``tolerance`` is in tile px, so one value generalizes progressively
    harder at lower zooms; ``tolerance_by_zoom`` overrides per zoom.
    Feed ``write_tileset``/``write_mbtiles`` for the on-disk pyramid.
    """
    from .clip import clip_features
    from .simplify import simplify_geoms

    clipped = clip_features(
        df, z=list(zooms), extent=extent, buffer_px=buffer_px, projection=projection
    )
    simp = simplify_geoms(clipped, tolerance, tolerance_by_zoom=tolerance_by_zoom)
    return encode_tiles(
        geom_features(simp, meta=meta), max_per_tile=max_per_tile, extent=extent
    )


TILE_KEY = ("tile_z", "tile_x", "tile_y")


def dirty_tile_keys(*frames: DataFrame) -> DataFrame:
    """Distinct (tile_z, tile_x, tile_y) touched by any of ``frames`` —
    the tile keys an upsert/delete delta invalidates. Feed the delta rows
    through point_features/geom_features (or any frame carrying the tile
    key columns) for BOTH their old and new positions: a moved point
    dirties the tile it left as well as the tile it entered."""
    keys = None
    for f in frames:
        k = f.select(*TILE_KEY)
        keys = k if keys is None else keys.unionByName(k)
    if keys is None:
        raise ValueError("dirty_tile_keys: need at least one frame")
    return keys.distinct()


def refresh_tiles(
    features_now: DataFrame,
    prev_tiles: DataFrame,
    dirty: DataFrame,
    broadcast_dirty: bool = True,
    **encode_kwargs,
) -> DataFrame:
    """Incremental tile maintenance: re-encode ONLY the tiles a delta
    touched, keep every other blob from the previous run untouched.

    Contract: for any ``dirty`` that is a SUPERSET of the tiles whose
    feature set actually changed, the result is byte-identical to a full
    ``encode_tiles(features_now)`` rebuild (encode is deterministic per
    tile content, proven byte-exact by the q_mvt_tiles oracle) — at a
    fraction of the cost. This is the "don't recompute completed tiles"
    rule applied to steady-state updates rather than crash recovery: a
    daily ingest that perturbs 0.1% of rows re-encodes 0.1% of tiles.

    Scale shape: ``dirty`` is small by definition (distinct tile keys of
    the delta), so both sides prune against a broadcast of it — the
    previous tile set loses dirty keys via a broadcast LEFT ANTI join
    (no shuffle of the big blob relation), and the current feature scan
    keeps only dirty keys via a broadcast LEFT SEMI join before the
    encode shuffle, which therefore moves only the dirty slice. With the
    feature source partitioned/bucketed by tile key the semi join's
    dynamic partition pruning skips clean partitions entirely. Set
    ``broadcast_dirty=False`` only when the delta is a large fraction of
    the key space (at which point a full rebuild is usually cheaper).

    ``encode_kwargs`` pass through to encode_tiles (extent, max_per_tile,
    single_layer, ...) and must match the parameters the previous run
    used, or kept and rebuilt tiles will disagree on layout.
    """
    dirty = dirty.select(*TILE_KEY).distinct()
    d = F.broadcast(dirty) if broadcast_dirty else dirty
    kept = prev_tiles.join(d, list(TILE_KEY), "left_anti")
    todo = features_now.join(d, list(TILE_KEY), "left_semi")
    rebuilt = encode_tiles(todo, **encode_kwargs)
    return kept.unionByName(rebuilt)


def _make_merge_stream():
    def stream(batches):
        import pyarrow as pa

        cur = None  # (z, x, y)
        blobs: list[bytes] = []
        out: list[list] = [[], [], [], [], [], []]

        def flush():
            merged, nf, nl = codec.merge_tile_blobs(blobs)
            z, x, y = cur
            for col, v in zip(out, (z, x, y, merged, nf, nl)):
                col.append(v)

        def drain():
            batch = pa.record_batch(
                [
                    pa.array(out[0], pa.int32()),
                    pa.array(out[1], pa.int32()),
                    pa.array(out[2], pa.int32()),
                    pa.array(out[3], pa.binary()),
                    pa.array(out[4], pa.int64()),
                    pa.array(out[5], pa.int32()),
                ],
                names=["tile_z", "tile_x", "tile_y", "mvt", "n_features", "n_layers"],
            )
            for col in out:
                col.clear()
            return batch

        for b in batches:
            zs = b.column("tile_z").to_pylist()
            xs = b.column("tile_x").to_pylist()
            ys = b.column("tile_y").to_pylist()
            ms = b.column("mvt").to_pylist()
            for z, x, y, m in zip(zs, xs, ys, ms):
                key = (z, x, y)
                if key != cur:
                    if cur is not None:
                        flush()
                    cur, blobs = key, []
                blobs.append(m)
            if out[0]:
                yield drain()
        if cur is not None:
            flush()
        if out[0]:
            yield drain()

    return stream


def merge_tile_sets(*tile_sets: DataFrame, partitions: int | None = None) -> DataFrame:
    """Compose independently-built tile sets (separately-updated thematic
    layers, per-source builds, a base map plus an overlay) into ONE blob
    per (z, x, y) — the tile-pipeline union operator.

    Wire-level: each input blob is split into its layer frames and the
    frames are spliced back name-sorted (codec.merge_tile_blobs), so the
    common disjoint-layer-name case pays ZERO re-encode — output bytes
    are identical to having encoded the union of the layers in one job.
    Only name-colliding layers decode + re-encode, per tile.

    Scale shape: one hash shuffle of the blob relations on the tile key
    (the same exchange a from-scratch rebuild's encode would pay, but
    moving finished blobs instead of raw features, typically 10-100x
    fewer rows), then a streaming per-partition merge — no groupBy state,
    no per-tile UDF dispatch. Inputs are tagged so blobs merge in
    argument order deterministically."""
    if not tile_sets:
        raise ValueError("merge_tile_sets: need at least one tile set")
    cols = ["tile_z", "tile_x", "tile_y", "mvt"]
    tagged = None
    for i, ts in enumerate(tile_sets):
        t = ts.select(*[F.col(c) for c in cols], F.lit(i).alias("_src"))
        tagged = t if tagged is None else tagged.unionByName(t)
    key = [F.col("tile_z"), F.col("tile_x"), F.col("tile_y")]
    if not partitions:
        partitions = tagged.sparkSession.sparkContext.defaultParallelism
    ordered = tagged.repartition(partitions, *key).sortWithinPartitions(
        *key, F.col("_src")
    )
    return ordered.mapInArrow(_make_merge_stream(), schema=TILE_SCHEMA)


def diff_tile_sets(
    old: DataFrame,
    new: DataFrame,
    include_unchanged: bool = False,
) -> DataFrame:
    """Compare two tile sets key-by-key — the change-detection half of the
    incremental pipeline (refresh_tiles applies deltas; this MEASURES them:
    CDC feeds, cache invalidation lists, deploy diffs between two builds).

    Output: one row per tile key present in either input, with
    ``status`` in {'added','removed','changed','unchanged'}, both sides'
    n_features and blob byte counts (NULL on the absent side). Equality
    is decided on (byte length, two independently-seeded 64-bit content
    hashes) — ~128 bits of discrimination, so a changed blob reading
    'unchanged' needs a simultaneous 2^-128 double collision at equal
    length; a spurious 'changed' on identical inputs is impossible (the
    engine's encode is deterministic in the feature multiset, which the
    oracle exploits). Presence is tracked with an explicit marker, so a
    NULL blob on one side reads 'changed', never 'added'.

    Scale shape: each side is pre-projected to (key, n_features,
    byte-length, hashes) BEFORE the join — the full-outer sort-merge
    exchange moves 3 ints + two hashes per tile, never the blobs
    themselves. include_unchanged=False (default) filters the typically
    ~99% unchanged mass right after the join, before anything downstream.
    """
    def slim(df, side):
        return df.select(
            *TILE_KEY,
            F.col("n_features").cast("bigint").alias(f"n_features_{side}"),
            F.length("mvt").cast("bigint").alias(f"mvt_bytes_{side}"),
            F.xxhash64("mvt").alias(f"_h1_{side}"),
            # second independent hash: the salt goes FIRST, reseeding the
            # blob hash itself (xxhash64 folds columns sequentially, so a
            # TRAILING salt would make _h2 a pure function of _h1 and add
            # zero collision resistance)
            F.xxhash64(F.lit(0x9E3779B9), F.col("mvt")).alias(f"_h2_{side}"),
            F.lit(True).alias(f"_present_{side}"),
        )
    a, b = slim(old, "old"), slim(new, "new")
    j = a.join(b, list(TILE_KEY), "full_outer")
    same = (
        F.col("mvt_bytes_old").eqNullSafe(F.col("mvt_bytes_new"))
        & F.col("_h1_old").eqNullSafe(F.col("_h1_new"))
        & F.col("_h2_old").eqNullSafe(F.col("_h2_new"))
    )
    status = (
        F.when(F.col("_present_old").isNull(), F.lit("added"))
        .when(F.col("_present_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out = j.select(
        *TILE_KEY, status.alias("status"),
        "n_features_old", "n_features_new", "mvt_bytes_old", "mvt_bytes_new",
    )
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out
