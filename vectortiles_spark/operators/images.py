"""Multimodal (image) column operators — SURVEY.md §2.D12 + charter.

Images travel as opaque BINARY columns with typed metadata (w, h, fmt);
every pixel-touching step is a vectorized batch UDF over ``mapInArrow`` —
never per-row Python in the plan. The PPM/DCT codecs are real pure-NumPy
implementations (images/codec.py). Audio is read as raw PCM16; formats
needing external decoders (JPEG/PNG, compressed audio, video) are not
supported.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..images import codec as ic

STATS_SCHEMA = (
    "image_id string, ok boolean, width int, height int, fmt string, "
    "mean_r double, mean_g double, mean_b double, phash_recomputed bigint"
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image and emit per-image pixel statistics + a
    recomputed perceptual hash (the feature-extraction shape)."""

    def run(batches):
        for b in batches:
            ids = b["image_id"].to_pylist()
            payloads = b["bytes"].to_pylist()
            fmts = b["fmt"].to_pylist()
            out = {k: [] for k in ("image_id", "ok", "width", "height", "fmt",
                                    "mean_r", "mean_g", "mean_b", "phash_recomputed")}
            for i, (iid, raw, fmt) in enumerate(zip(ids, payloads, fmts)):
                try:
                    # compute EVERY value before the first append: a late
                    # raise (e.g. phash64 on a decodable zero-width image)
                    # after partial appends would skew the column lists and
                    # kill the whole batch on record_batch length mismatch
                    img = ic.decode_image(raw, fmt)
                    means = img.reshape(-1, 3).mean(axis=0)
                    w_, h_ = img.shape[1], img.shape[0]
                    mr, mg, mb = float(means[0]), float(means[1]), float(means[2])
                    ph_ = ic.phash64(img)
                    out["ok"].append(True)
                    out["width"].append(w_)
                    out["height"].append(h_)
                    out["mean_r"].append(mr)
                    out["mean_g"].append(mg)
                    out["mean_b"].append(mb)
                    out["phash_recomputed"].append(ph_)
                except Exception:
                    out["ok"].append(False)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["mean_r"].append(None)
                    out["mean_g"].append(None)
                    out["mean_b"].append(None)
                    out["phash_recomputed"].append(None)
                out["image_id"].append(iid)
                out["fmt"].append(fmt)
            yield pa.record_batch(
                {
                    "image_id": pa.array(out["image_id"], pa.string()),
                    "ok": pa.array(out["ok"], pa.bool_()),
                    "width": pa.array(out["width"], pa.int32()),
                    "height": pa.array(out["height"], pa.int32()),
                    "fmt": pa.array(out["fmt"], pa.string()),
                    "mean_r": pa.array(out["mean_r"], pa.float64()),
                    "mean_g": pa.array(out["mean_g"], pa.float64()),
                    "mean_b": pa.array(out["mean_b"], pa.float64()),
                    "phash_recomputed": pa.array(out["phash_recomputed"], pa.int64()),
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(run, STATS_SCHEMA)


INVARIANT_SCHEMA = (
    "image_id string, decode_ok boolean, reencode_psnr double, "
    "psnr_ok boolean, phash_hamming int, caption_preserved boolean"
)


def verify_invariants(images: DataFrame, min_psnr: float = 40.0) -> DataFrame:
    """The per-row image invariant gate (BASELINE.json input_hint):
    decode -> re-encode -> decode must hold PSNR >= 40 dB (exact for
    lossless PPM), the recomputed perceptual hash must match the carried
    phash, and the caption must survive untouched (utf-8 roundtrip).

    Honest scope note: the PSNR column measures RE-ENCODE STABILITY
    (decoded vs re-encoded pixels). For the DCT codec re-quantizing
    already-quantized pixels is near-idempotent, so this gate catches
    codec roundtrip breakage, not a quality regression of the ORIGINAL
    encode — content integrity against the original is what the carried
    phash comparison (an independent per-row reference signal) is for."""

    def run(batches):
        for b in batches:
            ids = b["image_id"].to_pylist()
            payloads = b["bytes"].to_pylist()
            fmts = b["fmt"].to_pylist()
            phashes = b["phash"].to_pylist()
            captions = b["caption"].to_pylist()
            rows = {k: [] for k in ("image_id", "decode_ok", "reencode_psnr",
                                     "psnr_ok", "phash_hamming", "caption_preserved")}
            for iid, raw, fmt, ph, cap in zip(ids, payloads, fmts, phashes, captions):
                try:
                    img = ic.decode_image(raw, fmt)
                    re_img = ic.decode_image(ic.encode_image(img, fmt), fmt)
                    psnr = ic.psnr(img, re_img)
                    # a missing carried phash is reported as a hash miss
                    # (hamming NULL, not a decode failure)
                    ham = ic.hamming64(ph, ic.phash64(img)) if ph is not None else None
                    rows["decode_ok"].append(True)
                    rows["reencode_psnr"].append(min(psnr, 1e9))
                    rows["psnr_ok"].append(psnr >= min_psnr)
                    rows["phash_hamming"].append(ham)
                except Exception:
                    rows["decode_ok"].append(False)
                    rows["reencode_psnr"].append(None)
                    rows["psnr_ok"].append(False)
                    rows["phash_hamming"].append(None)
                rows["image_id"].append(iid)
                # "caption survives transport" = it still utf-8 roundtrips;
                # unencodable captions (lone surrogates from upstream
                # corruption) must report False, not kill the task
                try:
                    ok_cap = cap is not None and cap == cap.encode("utf-8").decode("utf-8")
                except UnicodeError:
                    ok_cap = False
                rows["caption_preserved"].append(ok_cap)
            yield pa.record_batch(
                {
                    "image_id": pa.array(rows["image_id"], pa.string()),
                    "decode_ok": pa.array(rows["decode_ok"], pa.bool_()),
                    "reencode_psnr": pa.array(rows["reencode_psnr"], pa.float64()),
                    "psnr_ok": pa.array(rows["psnr_ok"], pa.bool_()),
                    "phash_hamming": pa.array(rows["phash_hamming"], pa.int32()),
                    "caption_preserved": pa.array(rows["caption_preserved"], pa.bool_()),
                }
            )

    return images.select("image_id", "bytes", "fmt", "phash", "caption").mapInArrow(
        run, INVARIANT_SCHEMA
    )


def resize_images(images: DataFrame, size: int = 16, out_fmt: str = "ppm") -> DataFrame:
    """Batch resize (deterministic block-mean) + re-encode — the thumbnail/
    normalization stage of a training-data pipeline."""

    def run(batches):
        for b in batches:
            ids = b["image_id"].to_pylist()
            payloads = b["bytes"].to_pylist()
            fmts = b["fmt"].to_pylist()
            out_ids, out_bytes, out_ok = [], [], []
            for iid, raw, fmt in zip(ids, payloads, fmts):
                # one corrupt payload in a billion rows must not fail the
                # job: degrade to ok=False like the sibling operators
                try:
                    img = ic.decode_image(raw, fmt)
                    small = np.stack(
                        [ic._resize_block_mean(img[:, :, c].astype(np.float64), size) for c in range(3)],
                        axis=-1,
                    )
                    small = np.clip(np.round(small), 0, 255).astype(np.uint8)
                    payload, ok = ic.encode_image(small, out_fmt), True
                except Exception:
                    payload, ok = None, False
                out_ids.append(iid)
                out_bytes.append(payload)
                out_ok.append(ok)
            yield pa.record_batch(
                {
                    "image_id": pa.array(out_ids, pa.string()),
                    "bytes": pa.array(out_bytes, pa.binary()),
                    "w": pa.array([size] * len(out_ids), pa.int32()),
                    "h": pa.array([size] * len(out_ids), pa.int32()),
                    "fmt": pa.array([out_fmt] * len(out_ids), pa.string()),
                    "ok": pa.array(out_ok, pa.bool_()),
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(
        run, "image_id string, bytes binary, w int, h int, fmt string, ok boolean"
    )


AUDIO_FEATURES_SCHEMA = (
    "media_id string, ok boolean, duration_s double, rms double, zero_crossings long"
)


def extract_audio_features(audio: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Audio feature extraction over raw PCM16 binary columns. PCM parsing
    is real NumPy (no external lib needed for raw PCM); container formats
    (ID3-tagged mp3, ogg, flac, riff — unambiguous magic) would need a
    decoder, and NULL payloads cannot be parsed at all — those rows come
    back ok=false with NULL features (one bad object must never kill a
    planet-scale job). NOTE: a bare mp3/aac frame-sync prefix (0xFF 0xEx)
    is AMBIGUOUS — legitimate PCM16 whose first sample is e.g. -1 has the
    same two bytes — so such rows are parsed as PCM; route containerized
    audio by format metadata, not by sniffing."""

    def run(batches):
        for b in batches:
            ids = b["media_id"].to_pylist()
            raws = b["bytes"].to_pylist()
            out = {"media_id": [], "ok": [], "duration_s": [], "rms": [], "zero_crossings": []}
            for mid, raw in zip(ids, raws):
                if raw is None or raw[:3] == b"ID3" or raw[:4] in (b"OggS", b"fLaC", b"RIFF"):
                    out["media_id"].append(mid)
                    out["ok"].append(False)
                    out["duration_s"].append(None)
                    out["rms"].append(None)
                    out["zero_crossings"].append(None)
                    continue
                # raw PCM16: an odd trailing byte is truncation, not samples
                pcm = np.frombuffer(raw[: len(raw) - (len(raw) % 2)], dtype=np.int16).astype(np.float64)
                out["media_id"].append(mid)
                out["ok"].append(True)
                out["duration_s"].append(len(pcm) / float(sample_rate))
                out["rms"].append(float(np.sqrt(np.mean(pcm**2))) if len(pcm) else 0.0)
                s = np.sign(pcm)
                s = s[s != 0]  # exact zeros would double-count a crossing
                out["zero_crossings"].append(int((np.diff(s) != 0).sum()) if len(s) else 0)
            yield pa.record_batch(
                {
                    "media_id": pa.array(out["media_id"], pa.string()),
                    "ok": pa.array(out["ok"], pa.bool_()),
                    "duration_s": pa.array(out["duration_s"], pa.float64()),
                    "rms": pa.array(out["rms"], pa.float64()),
                    "zero_crossings": pa.array(out["zero_crossings"], pa.int64()),
                }
            )

    return audio.mapInArrow(run, AUDIO_FEATURES_SCHEMA)


def phash_near_dups(
    images: DataFrame,
    max_hamming: int = 6,
    n_blocks: int = 8,
    block_cap: int = 200,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance —
    the image-table twin of SimHash dedup, over the ``phash:int64`` column
    the input-table schema carries (no pixel decode in the pair search).

    Scale shape: the block-pair LSH join (hamming_near_dups) sees only
    (id, phash) — the BINARY payload column is pruned at the scan and
    never shuffles; the pair space is bucketed, not all-pairs. Use
    verify_invariants/decode_stats to (re)compute phash from pixels when
    ingesting untrusted payloads. Output: (id_a, id_b, hamming), id_a <
    id_b, complete for pairs within max_hamming <= n_blocks - 2.

    KNOWN MISS CLASS (codec-inconsistent fingerprints): if the stored
    phash was computed on ORIGINAL pixels and the image was then pushed
    through a lossy re-encode, DCT requantization flips near-tie bits —
    measured up to hamming 22/64 on this repo's seeded corpus
    (q_image_invariants' literal oracle pins it) — far outside the
    default max_hamming=6 radius, so "same image, lossy re-encode" pairs
    are NOT found unless the pipeline recomputes phash from DECODED
    pixels for both sides (then re-encodes of one source agree and the
    pair surfaces). Funnels that dedup across codec generations must
    standardize on post-codec phash at ingest.
    """
    from .dedup import hamming_near_dups

    return hamming_near_dups(
        images.select(id_col, phash_col),
        max_hamming,
        n_blocks,
        block_cap,
        id_col=id_col,
        fp_col=phash_col,
    )


TILE_PYRAMID_SCHEMA = (
    "image_id string, level int, tile_row int, tile_col int, "
    "tw int, th int, px binary"
)

ASSEMBLE_SCHEMA = "image_id string, level int, w int, h int, px binary"


def box_downsample(img: np.ndarray, f: int) -> np.ndarray:
    """Mean-pool an (h, w, 3) uint8 image by integer factor ``f`` with
    ceil output dims (edge blocks average only the pixels present), values
    rounded half-to-even via np.rint — the deterministic twin the tests
    replay."""
    if f == 1:
        return img
    h, w, _ = img.shape
    ys, xs = np.arange(0, h, f), np.arange(0, w, f)
    acc = np.add.reduceat(np.add.reduceat(img.astype(np.float64), ys, 0), xs, 1)
    cnt = np.outer(
        np.diff(np.append(ys, h)), np.diff(np.append(xs, w))
    ).astype(np.float64)
    return np.rint(acc / cnt[:, :, None]).astype(np.uint8)


def pyramid_levels(w: int, h: int, tile: int) -> int:
    """Deep-zoom level count: halve until the whole image fits one tile."""
    n = 1
    while max(w, h) > tile * (1 << (n - 1)):
        n += 1
    return n


def image_tiles(
    images: DataFrame, tile: int = 256, levels: int | None = None
) -> DataFrame:
    """Cut every image into a deep-zoom tile pyramid: level 0 is the full
    resolution split into ``tile`` x ``tile`` patches (edge tiles keep
    their remainder dims), each higher level box-downsamples by 2x and
    re-tiles, until the image fits a single tile (or ``levels`` caps it).
    This is the gigapixel/WSI patching stage of an image training
    pipeline: bounded-size patches with pyramid context, keyed for
    shuffle-free downstream grouping.

    Output: one row per (image_id, level, tile_row, tile_col) with raw
    RGB bytes ``px`` (h*w*3, row-major) — the uncompressed exchange
    format ``raster.raster_to_features``-style consumers read directly.
    Rows that fail to decode are DROPPED (the loud alternative lives in
    verify_invariants; this operator mirrors raster_to_features'
    skip-corrupt contract).

    Scale shape: one mapInArrow pass, no shuffle; per-row output is
    <= 4/3 * pixel count across all levels (geometric series), so
    executor memory is bounded by batch pixel volume, not row count.
    """
    if tile < 1:
        raise ValueError(f"tile must be >= 1, got {tile}")
    if levels is not None and levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")

    def run(batches):
        for b in batches:
            out = {k: [] for k in (
                "image_id", "level", "tile_row", "tile_col", "tw", "th", "px"
            )}
            for iid, raw, fmt in zip(
                b["image_id"].to_pylist(), b["bytes"].to_pylist(),
                b["fmt"].to_pylist(),
            ):
                try:
                    img = ic.decode_image(raw, fmt)
                except Exception:
                    continue
                h, w = img.shape[:2]
                n_levels = pyramid_levels(w, h, tile)
                if levels is not None:
                    n_levels = min(n_levels, levels)
                cur = img
                for lv in range(n_levels):
                    if lv:
                        cur = box_downsample(img, 1 << lv)
                    lh, lw = cur.shape[:2]
                    for tr in range(0, lh, tile):
                        for tc in range(0, lw, tile):
                            patch = cur[tr : tr + tile, tc : tc + tile]
                            out["image_id"].append(iid)
                            out["level"].append(lv)
                            out["tile_row"].append(tr // tile)
                            out["tile_col"].append(tc // tile)
                            out["tw"].append(patch.shape[1])
                            out["th"].append(patch.shape[0])
                            out["px"].append(patch.tobytes())
            yield pa.record_batch(
                {
                    "image_id": pa.array(out["image_id"], pa.string()),
                    "level": pa.array(out["level"], pa.int32()),
                    "tile_row": pa.array(out["tile_row"], pa.int32()),
                    "tile_col": pa.array(out["tile_col"], pa.int32()),
                    "tw": pa.array(out["tw"], pa.int32()),
                    "th": pa.array(out["th"], pa.int32()),
                    "px": pa.array(out["px"], pa.binary()),
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(
        run, TILE_PYRAMID_SCHEMA
    )


def assemble_tiles(tiles: DataFrame) -> DataFrame:
    """Inverse of :func:`image_tiles` for one pyramid level: stitch a
    level's patches back into the full image (raw RGB ``px``). One
    shuffle on (image_id, level); group size is one image's pixels."""
    import pandas as pd

    def fn(key, pdf):
        pdf = pdf.sort_values(["tile_row", "tile_col"])
        n_rows = int(pdf["tile_row"].max()) + 1
        rows = []
        for tr in range(n_rows):
            band = pdf[pdf["tile_row"] == tr]
            rows.append(
                np.concatenate(
                    [
                        np.frombuffer(r.px, np.uint8).reshape(r.th, r.tw, 3)
                        for r in band.itertuples()
                    ],
                    axis=1,
                )
            )
        full = np.concatenate(rows, axis=0)
        return pd.DataFrame(
            {
                "image_id": [key[0]], "level": [int(key[1])],
                "w": [full.shape[1]], "h": [full.shape[0]],
                "px": [full.tobytes()],
            }
        )

    return tiles.groupBy("image_id", "level").applyInPandas(fn, ASSEMBLE_SCHEMA)


# ---------------- deterministic augmentation (training-data transforms) -----

AUG_OPS = (
    "identity", "hflip", "vflip", "rot90", "rot180", "rot270",
    "invert", "gray", "crop_center",
)


def augment_np(img: np.ndarray, op: str) -> np.ndarray:
    """One augmentation on an (h, w, 3) uint8 array. Every op is exact
    integer arithmetic, so the algebra is bit-testable: hflip/vflip/
    rot180/invert are involutions, rot90 has order 4, gray is idempotent
    ((299r+587g+114b)//1000 of a gray pixel is (1000y)//1000 = y), and
    identity is decode->re-encode only (the lossless-normalization lane
    the equality chains compare against)."""
    if op == "identity":
        return img
    if op == "hflip":
        return img[:, ::-1]
    if op == "vflip":
        return img[::-1]
    if op == "rot90":  # clockwise
        return np.rot90(img, k=-1)
    if op == "rot180":
        return img[::-1, ::-1]
    if op == "rot270":
        return np.rot90(img, k=1)
    if op == "invert":
        return 255 - img
    if op == "gray":
        y = (
            299 * img[..., 0].astype(np.int64)
            + 587 * img[..., 1].astype(np.int64)
            + 114 * img[..., 2].astype(np.int64)
        ) // 1000
        return np.repeat(y[..., None], 3, axis=-1).astype(np.uint8)
    if op == "crop_center":
        h, w = img.shape[:2]
        ch, cw = max(h // 2, 1), max(w // 2, 1)
        return img[h // 4:h // 4 + ch, w // 4:w // 4 + cw]
    raise ValueError(f"unknown augmentation {op!r}")


AUG_SCHEMA = (
    "image_id string, op string, bytes binary, w int, h int, "
    "fmt string, ok boolean"
)


def augment_images(
    images: DataFrame, ops: tuple = AUG_OPS, out_fmt: str = "ppm"
) -> DataFrame:
    """Deterministic augmentation fan-out: one output row per (image, op)
    — the geometric/photometric expansion stage of an image-training
    pipeline. Chainable: output columns are valid input columns, so
    augment(augment(df, ('hflip',)), ('hflip',)) composes (and is
    byte-identical to the 'identity' lane — pinned in tests).

    Zero shuffle (mapInArrow); output cardinality is a fixed len(ops)
    multiple of the input, never data-dependent. Corrupt payloads degrade
    to ok=False rows like the sibling operators — one bad object in a
    billion must not fail the job."""
    bad = [op for op in ops if op not in AUG_OPS]
    if bad:
        raise ValueError(f"unknown augmentation(s) {bad} — pick from {AUG_OPS}")
    if not ops:
        raise ValueError("ops must name at least one augmentation")

    def run(batches):
        for b in batches:
            ids = b["image_id"].to_pylist()
            payloads = b["bytes"].to_pylist()
            fmts = b["fmt"].to_pylist()
            out = {k: [] for k in ("image_id", "op", "bytes", "w", "h", "fmt", "ok")}
            for iid, raw, fmt in zip(ids, payloads, fmts):
                try:
                    img = ic.decode_image(raw, fmt)
                except Exception:
                    img = None
                for op in ops:
                    if img is None:
                        payload, w, h, ok = None, None, None, False
                    else:
                        a = augment_np(img, op)
                        payload = ic.encode_image(np.ascontiguousarray(a), out_fmt)
                        h, w, ok = int(a.shape[0]), int(a.shape[1]), True
                    out["image_id"].append(iid)
                    out["op"].append(op)
                    out["bytes"].append(payload)
                    out["w"].append(w)
                    out["h"].append(h)
                    out["fmt"].append(out_fmt)
                    out["ok"].append(ok)
            yield pa.record_batch(
                {
                    "image_id": pa.array(out["image_id"], pa.string()),
                    "op": pa.array(out["op"], pa.string()),
                    "bytes": pa.array(out["bytes"], pa.binary()),
                    "w": pa.array(out["w"], pa.int32()),
                    "h": pa.array(out["h"], pa.int32()),
                    "fmt": pa.array(out["fmt"], pa.string()),
                    "ok": pa.array(out["ok"], pa.bool_()),
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(run, AUG_SCHEMA)


QUALITY_SCHEMA = (
    "image_id string, ok boolean, n_px int, gray_sum bigint, lap_sum bigint, "
    "contrast int, n_dark int, n_bright int"
)


def quality_stats(images: DataFrame) -> DataFrame:
    """Per-image QUALITY features for training-data filtering — the image
    twin of the text quality gates (queries_text.py): every measure is
    exact integer arithmetic on the integer gray plane
    ``(r + g + b) // 3``, so thresholds behave identically everywhere and
    an aggregate oracle can pin the values.

    - ``lap_sum``: 4-neighbor Laplacian energy
      ``sum |4p - N - S - E - W|`` over interior pixels — the classic
      blur detector (sharp images score high, defocused ones collapse).
    - ``contrast``: gray max - min (flat/synthetic-fill detector).
    - ``n_dark`` / ``n_bright``: pixels < 32 / > 223 (exposure clipping).
    - ``gray_sum`` + ``n_px``: exact mean ingredients, division left to
      the consumer so no float leaves the executor.

    Zero shuffles (pure mapInArrow); corrupt rows emit ok=false with NULL
    measures — a planet-scale filter job drops them with a predicate, not
    a crash (clip.py policy).
    """

    def run(batches):
        for b in batches:
            ids = b["image_id"].to_pylist()
            payloads = b["bytes"].to_pylist()
            fmts = b["fmt"].to_pylist()
            cols = ("n_px", "gray_sum", "lap_sum", "contrast",
                    "n_dark", "n_bright")
            out = {k: [] for k in ("image_id", "ok") + cols}
            for iid, raw, fmt in zip(ids, payloads, fmts):
                try:
                    # compute EVERY value before the first append
                    # (decode_stats's partial-append lesson)
                    img = ic.decode_image(raw, fmt)
                    g = img.astype(np.int64).sum(axis=2) // 3
                    h_, w_ = g.shape
                    n_px = int(h_ * w_)
                    gray_sum = int(g.sum())
                    if h_ >= 3 and w_ >= 3:
                        core = g[1:-1, 1:-1]
                        lap = (
                            4 * core - g[:-2, 1:-1] - g[2:, 1:-1]
                            - g[1:-1, :-2] - g[1:-1, 2:]
                        )
                        lap_sum = int(np.abs(lap).sum())
                    else:
                        lap_sum = 0
                    contrast = int(g.max() - g.min())
                    n_dark = int((g < 32).sum())
                    n_bright = int((g > 223).sum())
                    out["ok"].append(True)
                    out["n_px"].append(n_px)
                    out["gray_sum"].append(gray_sum)
                    out["lap_sum"].append(lap_sum)
                    out["contrast"].append(contrast)
                    out["n_dark"].append(n_dark)
                    out["n_bright"].append(n_bright)
                except Exception:
                    out["ok"].append(False)
                    for k in cols:
                        out[k].append(None)
                out["image_id"].append(iid)
            yield pa.record_batch({
                "image_id": pa.array(out["image_id"], pa.string()),
                "ok": pa.array(out["ok"], pa.bool_()),
                "n_px": pa.array(out["n_px"], pa.int32()),
                "gray_sum": pa.array(out["gray_sum"], pa.int64()),
                "lap_sum": pa.array(out["lap_sum"], pa.int64()),
                "contrast": pa.array(out["contrast"], pa.int32()),
                "n_dark": pa.array(out["n_dark"], pa.int32()),
                "n_bright": pa.array(out["n_bright"], pa.int32()),
            })

    return images.select("image_id", "bytes", "fmt").mapInArrow(
        run, QUALITY_SCHEMA
    )


LETTERBOX_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, ok boolean, "
    "box_x int, box_y int, box_w int, box_h int"
)


def letterbox_images(
    images: DataFrame, size: int = 64, fill: int = 114, out_fmt: str = "ppm"
) -> DataFrame:
    """Letterbox to a ``size x size`` square — the aspect-preserving
    resize-and-pad every detection/vision training pipeline applies
    (YOLO-style, fill 114 gray by convention): the image's longest side
    scales to ``size`` by NEAREST sampling, the short side keeps aspect,
    and the remainder pads with ``fill``, content centered.

    Everything is exact integer arithmetic: nearest sampling reads
    ``src[(i * sh) // th, (j * sw) // tw]`` (one combined floor division
    per axis — bit-deterministic, no float resampling), short-side
    ``th = max(1, (sh * size) // sw)``, centering offsets are floor
    halves. The content box (``box_x, box_y, box_w, box_h``) rides along
    so downstream label/bbox coordinates can be mapped into the padded
    frame with the same exact arithmetic.

    Zero shuffle (mapInArrow); corrupt payloads degrade to ok=False rows
    (sibling-operator policy). Chainable: output columns are valid input
    columns, and letterboxing an already-square image of side ``size``
    is the identity on pixels (pinned in tests).
    """
    if size < 1:
        raise ValueError(f"size={size} must be >= 1")
    if not 0 <= fill <= 255:
        raise ValueError(f"fill={fill} outside uint8 range")

    def run(batches):
        for b in batches:
            ids = b["image_id"].to_pylist()
            payloads = b["bytes"].to_pylist()
            fmts = b["fmt"].to_pylist()
            out = {k: [] for k in (
                "image_id", "bytes", "ok", "box_x", "box_y", "box_w", "box_h",
            )}
            for iid, raw, fmt in zip(ids, payloads, fmts):
                try:
                    img = ic.decode_image(raw, fmt)
                    sh, sw = img.shape[0], img.shape[1]
                    if sw >= sh:
                        tw, th = size, max(1, (sh * size) // sw)
                    else:
                        th, tw = size, max(1, (sw * size) // sh)
                    ri = (np.arange(th) * sh) // th
                    ci = (np.arange(tw) * sw) // tw
                    content = img[ri][:, ci]
                    ox, oy = (size - tw) // 2, (size - th) // 2
                    canvas = np.full((size, size, 3), fill, dtype=np.uint8)
                    canvas[oy:oy + th, ox:ox + tw] = content
                    payload, ok = ic.encode_image(canvas, out_fmt), True
                    box = (ox, oy, tw, th)
                except Exception:
                    payload, ok, box = None, False, (None, None, None, None)
                out["image_id"].append(iid)
                out["bytes"].append(payload)
                out["ok"].append(ok)
                for k, v in zip(("box_x", "box_y", "box_w", "box_h"), box):
                    out[k].append(v)
            n = len(out["image_id"])
            yield pa.record_batch(
                {
                    "image_id": pa.array(out["image_id"], pa.string()),
                    "bytes": pa.array(out["bytes"], pa.binary()),
                    "w": pa.array([size] * n, pa.int32()),
                    "h": pa.array([size] * n, pa.int32()),
                    "fmt": pa.array([out_fmt] * n, pa.string()),
                    "ok": pa.array(out["ok"], pa.bool_()),
                    "box_x": pa.array(out["box_x"], pa.int32()),
                    "box_y": pa.array(out["box_y"], pa.int32()),
                    "box_w": pa.array(out["box_w"], pa.int32()),
                    "box_h": pa.array(out["box_h"], pa.int32()),
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(
        run, LETTERBOX_SCHEMA
    )
