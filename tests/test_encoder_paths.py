"""The stream encoder sends every batch through one kernel,
codec.encode_multi_tile_batch, whatever the batch's shape: NULL metadata
codes, empty geometries, plain metadata columns, the ARRAY<STRUCT> ``meta``
column, tiny/huge runs, multi-layer tiles and batch-carry splits. This
suite generates batches that straddle each of those shapes and asserts the
emitted tiles decode to exactly the features the scalar codec.encode_tile
oracle encodes."""

import numpy as np
import pyarrow as pa
import pytest

from vectortiles_spark.mvt import codec
from vectortiles_spark.operators.tiling import _encode_stream


def _batch(rows: dict) -> pa.RecordBatch:
    n = len(rows["tile_z"])
    return pa.record_batch(
        {
            "tile_z": pa.array(rows["tile_z"], pa.int32()),
            "tile_x": pa.array(rows["tile_x"], pa.int32()),
            "tile_y": pa.array(rows["tile_y"], pa.int32()),
            "layer": pa.array(rows["layer"], pa.string()),
            "geom_type": pa.array(rows["geom_type"], pa.int32()),
            "feature_id": pa.array(rows["feature_id"], pa.int64()),
            "geom_cmds": pa.array(rows["geom_cmds"], pa.list_(pa.int64())),
            "caption": pa.array(rows["caption"], pa.string()),
            "score": pa.array(rows["score"], pa.int64()),
        }
    )


def _random_rows(rng, n_tiles: int, max_feats: int, with_nulls: bool):
    rows = {k: [] for k in ("tile_z", "tile_x", "tile_y", "layer", "geom_type",
                             "feature_id", "geom_cmds", "caption", "score")}
    expected = {}
    for t in range(n_tiles):
        key = (10, t, t * 2 + 1)
        layers = sorted(rng.choice(["alpha", "beta", "gamma"], size=rng.integers(1, 3), replace=False))
        exp_tile = {}
        for layer in layers:
            n = int(rng.integers(1, max_feats + 1))
            for i in range(n):
                px, py = int(rng.integers(0, 4096)), int(rng.integers(0, 4096))
                stream = [9, (px << 1) ^ (px >> 63), (py << 1) ^ (py >> 63)]
                fid = int(rng.integers(0, 2**40))
                cap = None if (with_nulls and rng.random() < 0.2) else f"cap{rng.integers(0, 5)}"
                score = None if (with_nulls and rng.random() < 0.2) else int(rng.integers(0, 3))
                rows["tile_z"].append(key[0])
                rows["tile_x"].append(key[1])
                rows["tile_y"].append(key[2])
                rows["layer"].append(layer)
                rows["geom_type"].append(1)
                rows["feature_id"].append(fid)
                rows["geom_cmds"].append(stream)
                rows["caption"].append(cap)
                rows["score"].append(score)
                meta = {}
                if cap is not None:
                    meta["caption"] = (codec.VAL_STRING, cap)
                if score is not None:
                    meta["score"] = (codec.VAL_INT, score)
                exp_tile.setdefault(layer, []).append(
                    (fid, tuple(sorted(meta.items())), 1, ((px, py),))
                )
        expected[key] = {l: sorted(v) for l, v in exp_tile.items()}
    return rows, expected


def _decode_all(result_batches):
    got = {}
    for rb in result_batches:
        for i in range(rb.num_rows):
            key = (rb["tile_z"][i].as_py(), rb["tile_x"][i].as_py(), rb["tile_y"][i].as_py())
            layers = codec.decode_tile(rb["mvt"][i].as_py())
            got[key] = {
                name: sorted(
                    (
                        f.feature_id,
                        tuple(sorted(f.metadata.items())),
                        f.geom_type,
                        tuple(map(tuple, np.asarray(f.geom).tolist())),
                    )
                    for f in layer.features
                )
                for name, layer in layers.items()
            }
    return got


@pytest.mark.parametrize("seed,n_tiles,max_feats,with_nulls,chunk", [
    (1, 30, 5, False, 1 << 16),     # small runs -> per-run columnar path
    (2, 3, 400, False, 1 << 16),    # big runs -> whole-batch vectorized path
    (3, 20, 120, True, 1 << 16),    # nulls -> scalar fallback mixes
    (4, 8, 300, False, 128),        # tiny Arrow batches -> carry machinery
    (5, 1, 900, True, 256),         # one huge multi-layer tile across many batches
])
def test_stream_encoder_matches_reference_codec(seed, n_tiles, max_feats, with_nulls, chunk):
    rng = np.random.Generator(np.random.PCG64(seed))
    rows, expected = _random_rows(rng, n_tiles, max_feats, with_nulls)
    tbl = pa.Table.from_batches([_batch(rows)])
    got = _decode_all(_encode_stream(tbl.to_batches(max_chunksize=chunk)))
    assert got == expected


def test_empty_geometry_rows_dropped():
    rows = {
        "tile_z": [1, 1], "tile_x": [0, 0], "tile_y": [0, 0],
        "layer": ["l", "l"], "geom_type": [1, 1], "feature_id": [7, 8],
        "geom_cmds": [[], [9, 2, 2]], "caption": ["a", "b"], "score": [1, 2],
    }
    tbl = pa.Table.from_batches([_batch(rows)])
    out = list(_encode_stream(tbl.to_batches()))
    assert out[0]["n_features"][0].as_py() == 1
    layers = codec.decode_tile(out[0]["mvt"][0].as_py())
    assert [f.feature_id for f in layers["l"].features] == [8]


def test_batch_and_per_tile_paths_byte_identical():
    """The whole-batch vectorized path and the per-tile fallback (taken
    when a batch contains any null meta code / empty geom) must emit
    BYTE-identical tiles — field order included — or tile bytes would
    depend on which rows happened to share an Arrow batch."""
    rng = np.random.default_rng(17)
    rows, _ = _random_rows(rng, n_tiles=12, max_feats=6, with_nulls=False)
    clean = _batch(rows)
    # per-tile fallback is forced by appending one null-meta row in its
    # own EXTRA tile: the shared tiles' bytes must not change
    rows_dirty = {k: list(v) for k, v in rows.items()}
    rows_dirty["tile_z"].append(10); rows_dirty["tile_x"].append(999)
    rows_dirty["tile_y"].append(999); rows_dirty["layer"].append("alpha")
    rows_dirty["geom_type"].append(1); rows_dirty["feature_id"].append(1)
    rows_dirty["geom_cmds"].append([9, 2, 2])
    rows_dirty["caption"].append(None); rows_dirty["score"].append(None)
    dirty = _batch(rows_dirty)

    def tiles_of(batch):
        out = {}
        for rb in _encode_stream(iter([batch])):
            for i in range(rb.num_rows):
                key = (rb["tile_x"][i].as_py(), rb["tile_y"][i].as_py())
                out[key] = rb["mvt"][i].as_py()
        return out

    a, b = tiles_of(clean), tiles_of(dirty)
    assert (999, 999) in b
    for key, mvt in a.items():
        assert b[key] == mvt, f"tile {key}: bytes differ between encode paths"


# ---- ARRAY<STRUCT> meta, alone and beside plain columns ----

_META_T = pa.list_(pa.struct([
    pa.field("key", pa.string()), pa.field("tag", pa.int32()),
    pa.field("s", pa.string()), pa.field("d", pa.float64()),
    pa.field("i", pa.int64()), pa.field("b", pa.bool_()),
]))


def _entry(key, tag, v):
    e = {"key": key, "tag": tag, "s": None, "d": None, "i": None, "b": None}
    field = {codec.VAL_STRING: "s", codec.VAL_FLOAT: "d", codec.VAL_DOUBLE: "d",
             codec.VAL_INT: "i", codec.VAL_UINT: "i", codec.VAL_SINT: "i",
             codec.VAL_BOOL: "b"}[tag]
    e[field] = v
    return e


def _random_value(rng, tag):
    if tag == codec.VAL_STRING:
        return f"s{rng.integers(0, 4)}"
    if tag in (codec.VAL_FLOAT, codec.VAL_DOUBLE):
        return float(rng.choice([0.0, -0.0, 0.5, -1.25, 3.0e5]))
    if tag == codec.VAL_UINT:
        return int(rng.choice([0, 1, 300, 2**40]))
    if tag in (codec.VAL_INT, codec.VAL_SINT):
        return int(rng.choice([0, -1, 7, -300, 2**40]))
    return bool(rng.integers(0, 2))


_ALL_TAGS = (codec.VAL_STRING, codec.VAL_FLOAT, codec.VAL_DOUBLE, codec.VAL_INT,
             codec.VAL_UINT, codec.VAL_SINT, codec.VAL_BOOL)


def _struct_table(rng, n_tiles, max_feats, keys, with_plain, n_tiles_x=None):
    """Random multi-layer feature table with a struct ``meta`` column (and
    optionally a plain ``extra`` column), plus the codec.encode_tile oracle
    bytes of every tile. keys: {key: tuple of value tags it may carry}."""
    cols = {k: [] for k in ("tile_z", "tile_x", "tile_y", "layer", "geom_type",
                            "feature_id", "meta", "geom_cmds", "extra")}
    oracle = {}
    for t in range(n_tiles):
        key = (10, t, 3)
        layers = []
        for name in sorted(rng.choice(["alpha", "beta"], size=rng.integers(1, 3), replace=False)):
            feats = []
            for _ in range(int(rng.integers(1, max_feats + 1))):
                px, py = int(rng.integers(0, 4096)), int(rng.integers(0, 4096))
                fid = int(rng.integers(0, 2**40))
                entries = []
                for k in rng.permutation(sorted(keys)):
                    if rng.random() < 0.5:
                        tag = int(rng.choice(keys[k]))
                        entries.append(_entry(str(k), tag, _random_value(rng, tag)))
                if entries and rng.random() < 0.2:  # same key twice: last wins
                    tag = int(rng.choice(keys[entries[0]["key"]]))
                    entries.append(_entry(entries[0]["key"], tag, _random_value(rng, tag)))
                extra = f"e{rng.integers(0, 3)}" if with_plain and rng.random() < 0.7 else None
                md = {}
                for e in entries:
                    v = next(e[f] for f in "sdib" if e[f] is not None)
                    md[e["key"]] = (e["tag"], v)
                if extra is not None:
                    md["extra"] = (codec.VAL_STRING, extra)
                meta = entries if entries or rng.random() < 0.5 else None
                feats.append((fid, md, [9, px << 1, py << 1], px, py, meta, extra))
            feats.sort(key=lambda f: f[0])  # the encoder's row order within a layer
            for f in feats:
                cols["tile_z"].append(key[0]); cols["tile_x"].append(key[1])
                cols["tile_y"].append(key[2]); cols["layer"].append(name)
                cols["geom_type"].append(1); cols["feature_id"].append(f[0])
                cols["geom_cmds"].append(f[2]); cols["meta"].append(f[5])
                cols["extra"].append(f[6])
            layers.append(codec.Layer(name, features=[
                codec.Feature(f[0], f[1], 1, np.array([[f[3], f[4]]])) for f in feats
            ]))
        oracle[key] = codec.encode_tile(layers)
    tbl = pa.table({
        "tile_z": pa.array(cols["tile_z"], pa.int32()),
        "tile_x": pa.array(cols["tile_x"], pa.int32()),
        "tile_y": pa.array(cols["tile_y"], pa.int32()),
        "layer": pa.array(cols["layer"], pa.string()),
        "geom_type": pa.array(cols["geom_type"], pa.int32()),
        "feature_id": pa.array(cols["feature_id"], pa.int64()),
        "meta": pa.array(cols["meta"], _META_T),
        "geom_cmds": pa.array(cols["geom_cmds"], pa.list_(pa.int64())),
        **({"extra": pa.array(cols["extra"], pa.string())} if with_plain else {}),
    })
    return tbl, oracle


def _tiles(batches):
    return {
        (rb["tile_z"][i].as_py(), rb["tile_x"][i].as_py(), rb["tile_y"][i].as_py()): (
            rb["mvt"][i].as_py(), rb["n_features"][i].as_py(), rb["n_layers"][i].as_py()
        )
        for rb in batches
        for i in range(rb.num_rows)
    }


@pytest.mark.parametrize("seed,keys,with_plain,chunk", [
    # every value tag under its own key
    (11, {f"k{t}": (t,) for t in _ALL_TAGS}, False, 1 << 16),
    # heterogeneous key sets per feature, beside a plain column
    (12, {"a": (codec.VAL_STRING,), "b": (codec.VAL_INT,), "c": (codec.VAL_DOUBLE,)}, True, 1 << 16),
    # one key carrying two value types (and a float/double collision)
    (13, {"mixed": (codec.VAL_STRING, codec.VAL_INT), "num": (codec.VAL_FLOAT, codec.VAL_DOUBLE)}, True, 1 << 16),
    # every tag on one key, split into tiny Arrow batches (carry machinery)
    (14, {"any": _ALL_TAGS, "flag": (codec.VAL_BOOL,)}, True, 7),
])
def test_struct_meta_matches_encode_tile_oracle(seed, keys, with_plain, chunk):
    rng = np.random.default_rng(seed)
    tbl, oracle = _struct_table(rng, n_tiles=12, max_feats=9, keys=keys, with_plain=with_plain)
    got = _tiles(_encode_stream(tbl.to_batches(max_chunksize=chunk)))
    assert got.keys() == oracle.keys()
    for key, (mvt, nf, nl) in got.items():
        want = codec.decode_tile(oracle[key])
        assert codec.roundtrip_features(mvt) == codec.roundtrip_features(oracle[key]), key
        assert nf == sum(len(layer.features) for layer in want.values())
        assert nl == len(want)


def test_struct_and_plain_metadata_both_decode():
    """A frame carrying both metadata forms keeps every property: the
    struct entries AND the plain column."""
    tbl = pa.table({
        "tile_z": pa.array([3, 3], pa.int32()), "tile_x": pa.array([1, 1], pa.int32()),
        "tile_y": pa.array([2, 2], pa.int32()), "layer": pa.array(["l", "l"]),
        "geom_type": pa.array([1, 1], pa.int32()), "feature_id": pa.array([1, 2], pa.int64()),
        "meta": pa.array([[_entry("a", codec.VAL_STRING, "x")], []], _META_T),
        "geom_cmds": pa.array([[9, 2, 2], [9, 4, 4]], pa.list_(pa.int64())),
        "extra": pa.array(["p", "q"]),
    })
    (mvt, _, _), = _tiles(_encode_stream(tbl.to_batches())).values()
    feats = {f.feature_id: f.metadata for f in codec.decode_tile(mvt)["l"].features}
    assert feats == {
        1: {"a": (codec.VAL_STRING, "x"), "extra": (codec.VAL_STRING, "p")},
        2: {"extra": (codec.VAL_STRING, "q")},
    }


def test_struct_key_naming_a_plain_column_keeps_one_key():
    """A struct key that names a plain column becomes one layer key; the
    plain value wins where a feature carries both."""
    tbl = pa.table({
        "tile_z": pa.array([3, 3, 3], pa.int32()), "tile_x": pa.array([1, 1, 1], pa.int32()),
        "tile_y": pa.array([2, 2, 2], pa.int32()), "layer": pa.array(["l", "l", "l"]),
        "geom_type": pa.array([1, 1, 1], pa.int32()), "feature_id": pa.array([1, 2, 3], pa.int64()),
        "meta": pa.array([[_entry("name", codec.VAL_INT, 5)], [_entry("name", codec.VAL_INT, 6)], None], _META_T),
        "geom_cmds": pa.array([[9, 2, 2], [9, 4, 4], [9, 6, 6]], pa.list_(pa.int64())),
        "name": pa.array(["plain", None, None]),
    })
    (mvt, _, _), = _tiles(_encode_stream(tbl.to_batches())).values()
    (raw,) = codec.parse_raw_tile(mvt)
    assert raw.keys == ["name"]
    feats = {f.feature_id: f.metadata for f in codec.decode_tile(mvt)["l"].features}
    assert feats == {
        1: {"name": (codec.VAL_STRING, "plain")},
        2: {"name": (codec.VAL_INT, 6)},
        3: {},
    }


def test_struct_meta_tile_bytes_independent_of_batch_neighbours():
    """A struct-meta tile encodes to the same bytes alone as when it shares
    an Arrow batch with tiles that use other keys (the batch-level key and
    value dictionaries must not leak into any tile)."""
    rng = np.random.default_rng(21)
    tbl, _ = _struct_table(rng, n_tiles=1, max_feats=8,
                           keys={"a": (codec.VAL_STRING,), "n": (codec.VAL_INT, codec.VAL_SINT)},
                           with_plain=False)
    others, _ = _struct_table(rng, n_tiles=6, max_feats=8,
                              keys={"b": _ALL_TAGS, "a": (codec.VAL_DOUBLE,), "z": (codec.VAL_BOOL,)},
                              with_plain=False)
    # distinct tile keys, sorted after the struct-meta tile
    others = others.set_column(1, "tile_x", pa.array(others["tile_x"].to_numpy() + 100, pa.int32()))
    alone = _tiles(_encode_stream(tbl.to_batches()))
    shared = _tiles(_encode_stream(pa.concat_tables([tbl, others]).combine_chunks().to_batches()))
    assert len(alone) == 1 and len(shared) == 7
    for key, tile in alone.items():
        assert shared[key] == tile


@pytest.mark.parametrize("position", ["alone", "first", "middle", "last"])
def test_tile_with_only_empty_streams_yields_empty_row(position):
    """A tile whose every command stream is empty still yields its row,
    with empty bytes and zero counts, wherever it sits in the batch."""
    def rows(x, streams):
        return {
            "tile_z": [5] * len(streams), "tile_x": [x] * len(streams),
            "tile_y": [0] * len(streams), "layer": ["l"] * len(streams),
            "geom_type": [1] * len(streams), "feature_id": list(range(len(streams))),
            "geom_cmds": streams, "caption": ["c"] * len(streams), "score": [1] * len(streams),
        }

    empty = rows(1, [[], []])
    full = {0: rows(0, [[9, 2, 2], []]), 2: rows(2, [[9, 4, 4]])}
    parts = {"alone": [empty], "first": [empty, full[2]],
             "middle": [full[0], empty, full[2]], "last": [full[0], empty]}[position]
    merged = {k: sum((p[k] for p in parts), []) for k in empty}
    got = _tiles(_encode_stream(iter([_batch(merged)])))
    assert got[(5, 1, 0)] == (b"", 0, 0)
    for x, r in full.items():
        if (5, x, 0) in got:
            mvt, nf, nl = got[(5, x, 0)]
            assert (nf, nl) == (1, 1)
            assert len(codec.decode_tile(mvt)["l"].features) == 1


def test_all_null_key_is_not_written():
    """A key no feature of a (tile, layer) run uses is not listed in that
    layer's keys (totalMeta): an all-NULL column leaves no trace."""
    rows = {
        "tile_z": [1, 1, 1], "tile_x": [0, 0, 1], "tile_y": [0, 0, 0],
        "layer": ["l", "l", "l"], "geom_type": [1, 1, 1], "feature_id": [1, 2, 3],
        "geom_cmds": [[9, 2, 2], [9, 4, 4], [9, 6, 6]],
        "caption": [None, None, "c"], "score": [None, 4, 5],
    }
    got = _tiles(_encode_stream(iter([_batch(rows)])))
    (first,) = codec.parse_raw_tile(got[(1, 0, 0)][0])
    (second,) = codec.parse_raw_tile(got[(1, 1, 0)][0])
    assert first.keys == ["score"]
    assert second.keys == ["caption", "score"]
    feats = {f.feature_id: f.metadata for f in codec.decode_tile(got[(1, 0, 0)][0])["l"].features}
    assert feats == {1: {}, 2: {"score": (codec.VAL_INT, 4)}}
