"""Multimodal image operators (SURVEY.md §2.D12): decode stats, invariant
gate, resize, stubbed modalities."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.images import codec as ic
from vectortiles_spark.operators import images as iops
from vectortiles_spark.operators import tiling
from vectortiles_spark.sources.synth import images_df


@pytest.fixture(scope="module")
def imgs(spark):
    return images_df(spark, 300, seed=42).cache()


def test_decode_stats(spark, imgs):
    stats = iops.decode_stats(imgs).collect()
    assert len(stats) == 300
    assert all(r.ok for r in stats)
    by_id = {r.image_id: r for r in stats}
    src = {r.image_id: r for r in imgs.collect()}
    for iid, r in by_id.items():
        assert r.width == src[iid].w and r.height == src[iid].h
        assert 0.0 <= r.mean_r <= 255.0


def test_invariants_hold_on_clean_table(spark, imgs):
    inv = iops.verify_invariants(imgs).collect()
    assert all(r.decode_ok for r in inv)
    assert all(r.psnr_ok for r in inv)          # PSNR >= 40 dB incl. lossy dct
    assert all(r.caption_preserved for r in inv)
    # phash recomputed from decoded pixels: exact for ppm, near for dct.
    # Lossy bound 24 of 64 bits, from measurement over 400 synth images:
    # large dct images max 6 bits, but <=16px dct images reach 18 — the
    # upscaled hash grid has many near-zero DCT coefficients whose
    # median-threshold bits flip under quantization noise. Still well
    # below the ~32-bit distance of unrelated images.
    src_fmt = {r.image_id: r.fmt for r in imgs.collect()}
    for r in inv:
        limit = 0 if src_fmt[r.image_id] == "ppm" else 24
        assert r.phash_hamming <= limit, (r.image_id, src_fmt[r.image_id], r.phash_hamming)


def test_invariants_catch_corruption(spark, imgs):
    corrupted = imgs.withColumn(
        "bytes",
        F.when(F.col("fmt") == "ppm", F.lit(b"\x00garbage")).otherwise(F.col("bytes")),
    )
    inv = iops.verify_invariants(corrupted).collect()
    bad = [r for r in inv if not r.decode_ok]
    assert bad, "corrupted ppm rows must fail decode"
    assert all(not r.psnr_ok for r in bad)


def test_resize(spark, imgs):
    small = iops.resize_images(imgs.limit(20), size=8).collect()
    assert len(small) == 20
    for r in small:
        img = ic.decode_image(bytes(r.bytes), r.fmt)
        assert img.shape == (8, 8, 3)


def test_audio_pcm_features(spark):
    t = np.arange(16000)
    wave = (np.sin(2 * np.pi * 440 * t / 16000) * 10000).astype(np.int16)
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": ["a1"], "bytes": [wave.tobytes()]})
    )
    row = iops.extract_audio_features(df).collect()[0]
    assert row.duration_s == pytest.approx(1.0)
    assert row.rms == pytest.approx(10000 / np.sqrt(2), rel=0.01)
    assert row.zero_crossings == pytest.approx(880, abs=4)


def test_decode_tiles_roundtrip(spark, imgs):
    """decode_tiles(encode_tiles(f)) preserves every feature + metadata."""
    feats = tiling.point_features(
        imgs, z=6, layer="images", feature_id=F.xxhash64("image_id"),
        meta={"caption": F.col("caption"), "phash": F.col("phash")},
    )
    tiles = tiling.encode_tiles(feats)
    back = tiling.decode_tiles(tiles)
    assert back.count() == 300
    # feature ids and phash metadata survive exactly
    orig = {r.feature_id for r in feats.select("feature_id").collect()}
    got = {r.feature_id for r in back.select("feature_id").collect()}
    assert got == orig
    sample = back.limit(5).collect()
    for r in sample:
        meta = {m["key"]: m for m in r.meta}
        assert set(meta) == {"caption", "phash"}
        assert meta["phash"]["i"] is not None


def test_phash_near_dups_complete_vs_brute_force(spark):
    """Block-pair LSH phash dedup finds EXACTLY the pairs brute force
    finds at max_hamming <= n_blocks - 2 (pigeonhole completeness), on a
    table of random phashes with planted near-duplicates."""
    import numpy as np

    from vectortiles_spark.operators.images import phash_near_dups

    rng = np.random.Generator(np.random.PCG64(17))
    base = rng.integers(-(2**63), 2**63, size=60, dtype=np.int64)
    ids = [f"a{i:03d}" for i in range(60)]
    phashes = list(base)
    # plant near-dups at hamming 1..6 off the first ten originals
    for i in range(10):
        flipped = base[i]
        for b in rng.choice(64, size=(i % 6) + 1, replace=False):
            flipped = np.int64(flipped ^ np.int64(1) << np.int64(b))
        ids.append(f"b{i:03d}")
        phashes.append(flipped)
    df = spark.createDataFrame(
        [(i, int(p)) for i, p in zip(ids, phashes)], "image_id string, phash bigint"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dups(df, max_hamming=6).collect()
    }
    want = set()
    arr = np.asarray(phashes, dtype=np.int64)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            ham = bin(int(np.uint64(arr[i]) ^ np.uint64(arr[j]))).count("1")
            if ham <= 6:
                a, b = sorted((ids[i], ids[j]))
                want.add((a, b, ham))
    assert got == want and len(want) >= 10


# ------------------------------------------------------------- tile pyramid


def test_image_tiles_roundtrip_and_counts(spark):
    """Level-0 stitch == decoded original bit-for-bit; level-k stitch ==
    the NumPy box_downsample twin; tile counts follow ceil arithmetic."""
    from vectortiles_spark.images import codec as ic
    from vectortiles_spark.operators.images import (
        assemble_tiles, box_downsample, image_tiles, pyramid_levels,
    )
    from vectortiles_spark.sources.synth import images_df

    imgs = images_df(spark, 40, seed=11)
    src = {
        r.image_id: ic.decode_image(bytes(r.bytes), r.fmt)
        for r in imgs.collect()
    }
    tile = 16
    tiles = image_tiles(imgs, tile=tile)
    got = tiles.groupBy("image_id", "level").count().collect()
    for r in got:
        h, w = src[r.image_id].shape[:2]
        lw = -((-w) // (1 << r.level))
        lh = -((-h) // (1 << r.level))
        expect = (-((-lw) // tile)) * (-((-lh) // tile))
        assert r["count"] == expect, (r.image_id, r.level)
    n_levels = {
        i: pyramid_levels(img.shape[1], img.shape[0], tile)
        for i, img in src.items()
    }
    per_img = {}
    for r in got:
        per_img.setdefault(r.image_id, set()).add(r.level)
    assert {i: max(s) + 1 for i, s in per_img.items()} == n_levels

    back = assemble_tiles(tiles).collect()
    assert len(back) == sum(n_levels.values())
    for r in back:
        want = box_downsample(src[r.image_id], 1 << r.level)
        gotpx = np.frombuffer(bytes(r.px), np.uint8).reshape(r.h, r.w, 3)
        assert np.array_equal(gotpx, want), (r.image_id, r.level)


def test_image_tiles_drops_corrupt_rows(spark):
    from vectortiles_spark.operators.images import image_tiles

    rows = [
        ("good", bytearray(b"P6\n2 2\n255\n" + b"\x10" * 12), 2, 2, "ppm", "c", 0, 0.0, 0.0),
        ("bad", bytearray(b"\xff\x00garbage"), 2, 2, "ppm", "c", 0, 0.0, 0.0),
        ("nul", None, 2, 2, "ppm", "c", 0, 0.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, lon double, lat double",
    )
    out = image_tiles(df, tile=8).collect()
    assert {r.image_id for r in out} == {"good"}


def test_image_tiles_validation(spark):
    import pytest as _pt

    from vectortiles_spark.operators.images import image_tiles
    from vectortiles_spark.sources.synth import images_df

    imgs = images_df(spark, 1, seed=1)
    with _pt.raises(ValueError, match="tile"):
        image_tiles(imgs, tile=0)
    with _pt.raises(ValueError, match="levels"):
        image_tiles(imgs, tile=8, levels=0)


# ------------------------------------------------------------ augment_images


def test_augment_np_algebra():
    """Exact integer algebra of every op: involutions, rot90 order 4,
    gray idempotence, crop slice arithmetic."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    A = iops.augment_np
    for op in ("hflip", "vflip", "rot180", "invert"):
        assert (A(A(img, op), op) == img).all(), op
    r = img
    for _ in range(4):
        r = A(r, "rot90")
    assert (r == img).all()
    assert (A(A(img, "rot90"), "rot270") == img).all()
    assert A(img, "rot90").shape == (17, 13, 3)
    g = A(img, "gray")
    assert (g[..., 0] == g[..., 1]).all() and (g[..., 1] == g[..., 2]).all()
    assert (A(g, "gray") == g).all()  # (1000y)//1000 == y
    c = A(img, "crop_center")
    assert (c == img[3:3 + 6, 4:4 + 8]).all()
    with pytest.raises(ValueError, match="unknown"):
        A(img, "blur")


def test_augment_images_chain_and_identity(spark, imgs):
    """Spark path: double-hflip bytes == identity-lane bytes for every
    image (including the lossy-DCT-source rows — both chains re-encode
    through lossless ppm after ONE decode of the original), dims swap
    under rot90, corrupt payloads degrade to ok=False."""
    base = imgs.limit(60)
    ident = {
        r.image_id: bytes(r.bytes)
        for r in iops.augment_images(base, ops=("identity",)).collect()
    }
    h1 = iops.augment_images(base, ops=("hflip",))
    h2 = {
        r.image_id: bytes(r.bytes)
        for r in iops.augment_images(h1, ops=("hflip",)).collect()
    }
    assert h2 == ident
    dims = {
        (r.image_id, r.op): (r.w, r.h)
        for r in iops.augment_images(base, ops=("identity", "rot90")).collect()
    }
    for (iid, op), (w, h) in dims.items():
        if op == "rot90":
            assert (w, h) == dims[(iid, "identity")][::-1]
    src = {r.image_id: r for r in base.collect()}
    for (iid, op), (w, h) in dims.items():
        if op == "identity":
            assert (w, h) == (src[iid].w, src[iid].h)
    # corrupt payload: ok=False rows, one per op, job survives
    bad = spark.createDataFrame(
        pd.DataFrame({"image_id": ["x"], "bytes": [b"nope"], "fmt": ["ppm"]})
    )
    rows = iops.augment_images(bad, ops=("hflip", "invert")).collect()
    assert [(r.ok, r.bytes) for r in rows] == [(False, None), (False, None)]
    with pytest.raises(ValueError, match="unknown augmentation"):
        iops.augment_images(base, ops=("hflip", "sharpen"))
    with pytest.raises(ValueError, match="at least one"):
        iops.augment_images(base, ops=())


# --- letterbox ------------------------------------------------------------

def test_letterbox_geometry_and_pixels(spark):
    import numpy as np

    from vectortiles_spark.images import codec as ic
    from vectortiles_spark.operators.images import letterbox_images

    rng = np.random.default_rng(17)
    wide = rng.integers(0, 256, (50, 100, 3)).astype(np.uint8)
    tall = rng.integers(0, 256, (80, 20, 3)).astype(np.uint8)
    square = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    rows = [
        ("wide", ic.encode_image(wide, "ppm"), "ppm"),
        ("tall", ic.encode_image(tall, "ppm"), "ppm"),
        ("square", ic.encode_image(square, "ppm"), "ppm"),
        ("corrupt", b"nope", "ppm"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r.image_id: r for r in letterbox_images(df, size=64).collect()}
    assert len(got) == 4

    def ref(img, size=64, fill=114):
        sh, sw = img.shape[:2]
        if sw >= sh:
            tw, th = size, max(1, (sh * size) // sw)
        else:
            th, tw = size, max(1, (sw * size) // sh)
        ri = (np.arange(th) * sh) // th
        ci = (np.arange(tw) * sw) // tw
        canvas = np.full((size, size, 3), fill, np.uint8)
        ox, oy = (size - tw) // 2, (size - th) // 2
        canvas[oy:oy + th, ox:ox + tw] = img[ri][:, ci]
        return canvas, (ox, oy, tw, th)

    for name, img in (("wide", wide), ("tall", tall), ("square", square)):
        r = got[name]
        assert r.ok and (r.w, r.h) == (64, 64)
        exp, box = ref(img)
        assert (r.box_x, r.box_y, r.box_w, r.box_h) == box
        dec = ic.decode_image(bytes(r.bytes), "ppm")
        assert np.array_equal(dec, exp), name
    # square identity: content box covers the full canvas, pixels equal
    assert (got["square"].box_x, got["square"].box_w) == (0, 64)
    assert np.array_equal(
        ic.decode_image(bytes(got["square"].bytes), "ppm"), square
    )
    # wide: 100x50 -> 64x32 content centered vertically
    assert (got["wide"].box_x, got["wide"].box_y,
            got["wide"].box_w, got["wide"].box_h) == (0, 16, 64, 32)
    assert got["corrupt"].ok is False and got["corrupt"].bytes is None


def test_letterbox_validation(spark):
    import pytest as _pytest

    from vectortiles_spark.operators.images import letterbox_images

    df = spark.createDataFrame(
        [("a", b"x", "ppm")], "image_id string, bytes binary, fmt string"
    )
    with _pytest.raises(ValueError, match="size"):
        letterbox_images(df, size=0)
    with _pytest.raises(ValueError, match="fill"):
        letterbox_images(df, fill=300)
