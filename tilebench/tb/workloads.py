"""The five pipeline workloads.

Each workload drives the engine only through its public functions and has
five parts:
- setup: build the inputs from (n, seed) under the run's work directory;
- prepare: outside any timing, read the inputs back with pyarrow and work
  out, in NumPy, what a fixed sample of the output must hold;
- build: the plan-building calls (DataFrame construction);
- action: run the plan and bring back an aggregate row: output counts, an
  order-insensitive digest of the output, and the sampled output records;
- check: compare the sampled output with the NumPy expectation.
Kernel timings and keep ratios for the traced run live here too, because
they reuse each workload's inputs.
"""

from __future__ import annotations

import hashlib
import math
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vectortiles_spark.functions.tiles import tile_pixel_np, tile_xy_np
from vectortiles_spark.mvt import codec
from vectortiles_spark.operators import dedup, overzoom, tiling
from vectortiles_spark.operators.clip import clip_features, clip_polyline
from vectortiles_spark.operators.simplify import dp_keep_mask_batch, simplify_geoms
from vectortiles_spark.operators.spatial_join import pip_join
from vectortiles_spark.mvt.geometry import points_in_ring
from vectortiles_spark.sources import synth

from . import gen

EXTENT = codec.DEFAULT_EXTENT
POINT_Z = 10
JOIN_Z = 12
LINE_Z = 8
LINE_BUFFER_PX = 8
LINE_TOLERANCE = 8.0
N_REGIONS = 48
FID_STRIDE = 64  # join feature id = row id * FID_STRIDE + region index
DEDUP_THRESHOLD = 0.5
BAND_CAP = 200


@dataclass
class Ctx:
    """One workload run: the session, sizes and everything setup made."""

    spark: object
    n: int
    seed: int
    work: Path
    inputs: dict = field(default_factory=dict)
    expect: dict = field(default_factory=dict)


def kernel_rate(fn, work_units: float, min_s: float = 0.2, min_reps: int = 3) -> float:
    """Median units/s of fn() over repeats filling at least min_s."""
    fn()  # first call outside the timing: imports, caches
    rates, t_end = [], time.perf_counter() + min_s
    while len(rates) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(work_units / (time.perf_counter() - t0))
    return statistics.median(rates)


def encode_rate(k: dict, z: int, layer: str, meta: tuple) -> float:
    """codec.encode_multi_tile_batch features/s on one-point features in
    encoder order: k holds int64 arrays tx, ty, px, py, fid and a pyarrow
    column per (name, value tag) of meta."""
    m = len(k["fid"])
    gvals = np.empty(3 * m, dtype=np.int64)
    gvals[0::3] = 9  # MoveTo, count 1
    gvals[1::3] = 2 * k["px"]  # zigzag of a non-negative value
    gvals[2::3] = 2 * k["py"]
    goff = np.arange(0, 3 * m + 1, 3, dtype=np.int64)
    frames = []
    for name, tag in meta:
        d = k[name].combine_chunks().dictionary_encode()
        fbuf, foff = codec.frame_values_vec(tag, d.dictionary)
        frames.append((name, d.indices.to_numpy().astype(np.int64), fbuf, foff))
    tz = np.full(m, z, dtype=np.int64)
    zeros, ones = np.zeros(m, dtype=np.int64), np.ones(m, dtype=np.int64)

    def encode():
        codec.encode_multi_tile_batch(
            tz, k["tx"], k["ty"], zeros, [layer], k["fid"], ones, gvals, goff, frames
        )

    return kernel_rate(encode, m)


def cap_for(n: int) -> int:
    """Feature cap per tile, scaled as 50000 per 1M input rows."""
    return max(1, n // 20)


def _key(z, x, y) -> str:
    return f"{int(z)}/{int(x)}/{int(y)}"


def _pick_sample(counts: dict, cap: int, seed: int, hot: int = 2, cold: int = 4) -> list:
    """The `hot` busiest tile keys plus `cold` random uncapped ones."""
    keys = sorted(counts, key=lambda k: (-counts[k], k))
    chosen = keys[:hot]
    rest = sorted(k for k in keys[hot:] if counts[k] <= cap)
    rng = np.random.default_rng([seed, 5])
    if rest:
        chosen += [rest[i] for i in rng.choice(len(rest), min(cold, len(rest)), replace=False)]
    return chosen


def tile_action(df, sample_col) -> dict:
    """One aggregate over a tile frame: counts, an order-insensitive digest
    of (tile key, md5(mvt)), and the tiles where sample_col holds. Returns
    (result, the aggregate DataFrame that ran)."""
    h = F.xxhash64("tile_z", "tile_x", "tile_y", F.md5("mvt"))
    agg = df.agg(
        F.count(F.lit(1)).alias("n_out"),
        F.sum("n_features").alias("n_features"),
        F.sum(F.length("mvt")).alias("bytes"),
        F.bit_xor(h).alias("xor"),
        F.collect_list(
            F.when(sample_col, F.struct("tile_z", "tile_x", "tile_y", "n_features", "mvt"))
        ).alias("sample"),
    )
    row = agg.collect()[0]
    sample = {
        _key(r.tile_z, r.tile_x, r.tile_y): (int(r.n_features), bytes(r.mvt))
        for r in row.sample
    }
    return {
        "n_out": int(row.n_out),
        "n_features": int(row.n_features or 0),
        "bytes": int(row.bytes or 0),
        "digest": f"{row.n_out}:{(row.xor or 0) & (2**64 - 1):016x}",
        "sample": sample,
    }, agg


def _tile_key_col():
    return F.concat_ws("/", "tile_z", "tile_x", "tile_y")


def _decode_layer(blob: bytes, name: str, errors: list, where: str):
    layers = codec.decode_tile(blob)
    if list(layers) != [name]:
        errors.append(f"{where}: layers {list(layers)} != [{name!r}]")
        return None
    return layers[name]


def _check_points(key, layer, nf, expected: dict, cap: int, meta_keys, errors: list):
    """A decoded point tile against its NumPy-recomputed features:
    expected maps feature id -> (px, py, {meta key: value})."""
    feats = layer.features
    want_n = min(len(expected), cap)
    if len(feats) != want_n or nf != want_n:
        errors.append(f"{key}: {len(feats)} features decoded, n_features={nf}, want {want_n}")
    seen = set()
    for f in feats:
        exp = expected.get(f.feature_id)
        if exp is None:
            errors.append(f"{key}: feature {f.feature_id} does not belong in this tile")
            continue
        seen.add(f.feature_id)
        px, py, meta = exp
        if np.asarray(f.geom).reshape(-1, 2).tolist() != [[px, py]]:
            errors.append(f"{key}: feature {f.feature_id} at {np.asarray(f.geom).tolist()}, want {[px, py]}")
        got = {k: f.metadata[k][1] for k in meta_keys if k in f.metadata}
        if got != meta:
            errors.append(f"{key}: feature {f.feature_id} metadata {got} != {meta}")
    if len(seen) != len(feats):
        errors.append(f"{key}: duplicate feature ids")


class PointsTile:
    name = "points_tile"
    n, smoke_n = 200_000, 20_000
    meta_keys = ("caption", "phash")

    def setup(self, ctx: Ctx, d: Path) -> dict:
        path = str(d / "images")
        synth.write_images_table(ctx.spark, path, ctx.n, ctx.seed, light=True)
        return {"images": path, "input_rows": ctx.n}

    def prepare(self, ctx: Ctx) -> None:
        t = pq.read_table(ctx.inputs["images"], columns=["image_id", "lon", "lat", "caption", "phash"])
        ids = np.array([int(s[4:]) for s in t["image_id"].to_pylist()], dtype=np.int64)
        lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
        tx, ty = tile_xy_np(lon, lat, POINT_Z)
        px, py = tile_pixel_np(lon, lat, POINT_Z)
        keys = [_key(POINT_Z, a, b) for a, b in zip(tx, ty)]
        counts: dict[str, int] = {}
        for k in keys:
            counts[k] = counts.get(k, 0) + 1
        cap = cap_for(ctx.n)
        sample = set(_pick_sample(counts, cap, ctx.seed))
        captions, phashes = t["caption"].to_pylist(), t["phash"].to_pylist()
        expected = {k: {} for k in sample}
        for i, k in enumerate(keys):
            if k in sample:
                expected[k][int(ids[i])] = (
                    int(px[i]), int(py[i]), {"caption": captions[i], "phash": phashes[i]}
                )
        ctx.expect = {"cap": cap, "tiles": expected}
        # kernel sample: the first 20k rows, in encoder order
        m = min(20_000, len(ids))
        order = np.lexsort((ids[:m], ty[:m], tx[:m]))
        ctx.expect["kernel"] = {
            "tx": tx[:m][order].astype(np.int64), "ty": ty[:m][order].astype(np.int64),
            "px": px[:m][order].astype(np.int64), "py": py[:m][order].astype(np.int64),
            "fid": ids[:m][order], "caption": t["caption"].slice(0, m).take(order),
            "phash": t["phash"].slice(0, m).take(order),
        }

    def build(self, ctx: Ctx):
        imgs = ctx.spark.read.parquet(ctx.inputs["images"])
        feats = tiling.point_features(
            imgs, z=POINT_Z, layer="images",
            feature_id=F.substring("image_id", 5, 12).cast("long"),
            meta={"caption": F.col("caption"), "phash": F.col("phash")},
        )
        return tiling.encode_tiles(feats, max_per_tile=cap_for(ctx.n), single_layer="images")

    def action(self, ctx: Ctx, df) -> dict:
        return tile_action(df, _tile_key_col().isin(list(ctx.expect["tiles"])))

    def check(self, ctx: Ctx, res: dict) -> list[str]:
        errors: list[str] = []
        tiles = ctx.expect["tiles"]
        if set(res["sample"]) != set(tiles):
            errors.append(f"sampled tiles {sorted(res['sample'])} != {sorted(tiles)}")
        for key, (nf, blob) in res["sample"].items():
            layer = _decode_layer(blob, "images", errors, key)
            if layer is not None and key in tiles:
                _check_points(key, layer, nf, tiles[key], ctx.expect["cap"], self.meta_keys, errors)
        return errors

    def kernels(self, ctx: Ctx) -> dict:
        meta = (("caption", codec.VAL_STRING), ("phash", codec.VAL_INT))
        return {"mvt.encode_feat_per_s": encode_rate(ctx.expect["kernel"], POINT_Z, "images", meta)}

    def ratios(self, ctx: Ctx, res: dict, nodes: list) -> dict:
        return {"tiling.cap_keep_ratio": res["n_features"] / ctx.inputs["input_rows"]}


def _global_px(lon, lat, z: int):
    """Float WebMercator global pixel coordinates (tile math without floor)."""
    span = float(2**z * EXTENT)
    gx = (np.asarray(lon, np.float64) + 180.0) / 360.0 * span
    rad = np.radians(np.asarray(lat, np.float64))
    gy = (1.0 - np.arcsinh(np.tan(rad)) / math.pi) / 2.0 * span
    return gx, gy


def _dist_to_polyline(pts: np.ndarray, line: np.ndarray) -> np.ndarray:
    """Distance of each point to the nearest segment of the polyline."""
    a, b = line[:-1], line[1:]
    d = b - a
    len2 = np.maximum((d * d).sum(axis=1), 1e-12)
    rel = pts[:, None, :] - a[None, :, :]
    t = np.clip((rel * d[None]).sum(axis=2) / len2[None], 0.0, 1.0)
    near = a[None] + t[..., None] * d[None]
    return np.sqrt(((pts[:, None, :] - near) ** 2).sum(axis=2)).min(axis=1)


class LinesTile:
    name = "lines_tile"
    n, smoke_n = 12_000, 1_000

    def setup(self, ctx: Ctx, d: Path) -> dict:
        path = str(d / "lines")
        synth.lines_df(ctx.spark, ctx.n, ctx.seed).write.mode("overwrite").parquet(path)
        return {"lines": path, "input_rows": ctx.n}

    def prepare(self, ctx: Ctx) -> None:
        t = pq.read_table(ctx.inputs["lines"], columns=["feature_id", "geom"])
        fids = t["feature_id"].to_numpy()
        # geom: parts x rings x points x [lon, lat]; one part, one ring each
        flat = np.asarray(
            t["geom"].combine_chunks().flatten().flatten().flatten().flatten().to_numpy(),
            dtype=np.float64,
        ).reshape(len(fids), -1, 2)
        gx, gy = _global_px(flat[..., 0], flat[..., 1], LINE_Z)
        lines = np.stack([gx, gy], axis=-1)  # (n, vertices, 2)
        tx, ty = tile_xy_np(flat[..., 0], flat[..., 1], LINE_Z)
        counts: dict[str, int] = {}
        for i in range(len(fids)):
            for k in {_key(LINE_Z, a, b) for a, b in zip(tx[i], ty[i])}:
                counts[k] = counts.get(k, 0) + 1
        sample = _pick_sample(counts, cap=len(fids), seed=ctx.seed, hot=2, cold=3)
        b = LINE_BUFFER_PX
        lo, hi = lines.min(axis=1), lines.max(axis=1)
        tiles = {}
        for key in sample:
            _, x, y = (int(v) for v in key.split("/"))
            ox, oy = x * EXTENT, y * EXTENT
            near = (
                (hi[:, 0] >= ox - b) & (lo[:, 0] <= ox + EXTENT + b)
                & (hi[:, 1] >= oy - b) & (lo[:, 1] <= oy + EXTENT + b)
            )
            rel = lines - (ox, oy)
            interior = ((rel >= 16) & (rel <= EXTENT - 16)).all(axis=2).any(axis=1)
            tiles[key] = {
                "origin": (ox, oy),
                "candidates": {int(fids[i]): lines[i] for i in np.flatnonzero(near)},
                "required": {int(f) for f in fids[interior]},
            }
        ctx.expect = {"tiles": tiles, "kernel": lines[:500], "kernel_tiles": (tx[:500, 0], ty[:500, 0])}

    def build(self, ctx: Ctx):
        lines = ctx.spark.read.parquet(ctx.inputs["lines"])
        clipped = clip_features(lines, z=LINE_Z, buffer_px=LINE_BUFFER_PX)
        simplified = simplify_geoms(clipped, tolerance=LINE_TOLERANCE)
        return tiling.encode_tiles(tiling.geom_features(simplified))

    def action(self, ctx: Ctx, df) -> dict:
        return tile_action(df, _tile_key_col().isin(list(ctx.expect["tiles"])))

    def check(self, ctx: Ctx, res: dict) -> list[str]:
        errors: list[str] = []
        tiles = ctx.expect["tiles"]
        if set(res["sample"]) != set(tiles):
            errors.append(f"sampled tiles {sorted(res['sample'])} != {sorted(tiles)}")
        lim = LINE_BUFFER_PX + 1
        for key, (nf, blob) in res["sample"].items():
            layer = _decode_layer(blob, "roads", errors, key)
            if layer is None or key not in tiles:
                continue
            exp = tiles[key]
            if nf != len(layer.features):
                errors.append(f"{key}: n_features={nf}, decoded {len(layer.features)}")
            ids = {f.feature_id for f in layer.features}
            if not exp["required"] <= ids:
                errors.append(f"{key}: lines {sorted(exp['required'] - ids)[:5]} missing")
            for f in layer.features:
                line = exp["candidates"].get(f.feature_id)
                if line is None or f.geom_type != 2:
                    errors.append(f"{key}: feature {f.feature_id} (type {f.geom_type}) does not belong")
                    continue
                pts = np.concatenate([np.asarray(p, dtype=np.float64) for p in f.geom])
                if ((pts < -lim) | (pts > EXTENT + lim)).any():
                    errors.append(f"{key}: feature {f.feature_id} leaves the buffered tile")
                far = _dist_to_polyline(pts + exp["origin"], line).max()
                if far > 1.0:
                    errors.append(f"{key}: feature {f.feature_id} vertex {far:.2f}px off its line")
        return errors

    def kernels(self, ctx: Ctx) -> dict:
        lines = ctx.expect["kernel"]
        tx, ty = ctx.expect["kernel_tiles"]
        b = LINE_BUFFER_PX
        boxes = [
            (x * EXTENT - b, y * EXTENT - b, (x + 1) * EXTENT + b, (y + 1) * EXTENT + b)
            for x, y in zip(tx.tolist(), ty.tolist())
        ]

        def clip_all():
            for line, box in zip(lines, boxes):
                clip_polyline(line, *box)

        flat = lines.reshape(-1, 2)
        nv = lines.shape[1]
        starts = np.arange(0, len(flat), nv, dtype=np.int64)
        lengths = np.full(len(lines), nv, dtype=np.int64)
        tol2 = np.full(len(lines), LINE_TOLERANCE**2)
        return {
            "clip.polyline_per_s": kernel_rate(clip_all, len(lines)),
            "simplify.dp_pts_per_s": kernel_rate(
                lambda: dp_keep_mask_batch(flat, starts, lengths, tol2), len(flat)
            ),
        }

    def ratios(self, ctx: Ctx, res: dict, nodes: list) -> dict:
        return {}


def _even_odd(px, py, ring) -> np.ndarray:
    """Brute-force even-odd ray cast of points against one closed ring."""
    r = np.asarray(ring, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(r[:-1], r[1:]):
        if y0 == y1:
            continue
        crosses = (y0 > py) != (y1 > py)
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (px < xint)
    return inside


class JoinTile:
    name = "join_tile"
    n, smoke_n = 8_000, 2_000

    def setup(self, ctx: Ctx, d: Path) -> dict:
        imgs, regions = str(d / "images"), str(d / "regions")
        synth.write_images_table(ctx.spark, imgs, ctx.n, ctx.seed, light=True)
        pdf = gen.regions_pdf(N_REGIONS, ctx.seed)
        ctx.spark.createDataFrame(
            pdf, "polygon_id string, rings array<array<array<double>>>"
        ).write.mode("overwrite").parquet(regions)
        return {"images": imgs, "regions": regions, "input_rows": ctx.n}

    def prepare(self, ctx: Ctx) -> None:
        t = pq.read_table(ctx.inputs["images"], columns=["image_id", "lon", "lat"])
        ids = np.array([int(s[4:]) for s in t["image_id"].to_pylist()], dtype=np.int64)
        lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
        regions = pq.read_table(ctx.inputs["regions"]).to_pylist()
        tx, ty = tile_xy_np(lon, lat, JOIN_Z)
        px, py = tile_pixel_np(lon, lat, JOIN_Z)
        feats: dict[str, dict] = {}
        for reg in regions:
            k = int(reg["polygon_id"][1:])
            ext = np.asarray(reg["rings"][0])
            box = (
                (lon >= ext[:, 0].min()) & (lon <= ext[:, 0].max())
                & (lat >= ext[:, 1].min()) & (lat <= ext[:, 1].max())
            )
            idx = np.flatnonzero(box)
            inside = np.zeros(len(idx), dtype=bool)
            for ring in reg["rings"]:
                inside ^= _even_odd(lon[idx], lat[idx], ring)
            for i in idx[inside]:
                key = _key(JOIN_Z, tx[i], ty[i])
                feats.setdefault(key, {})[int(ids[i]) * FID_STRIDE + k] = (
                    int(px[i]), int(py[i]), {"region": reg["polygon_id"]}
                )
        counts = {k: len(v) for k, v in feats.items()}
        sample = _pick_sample(counts, max(counts.values()), ctx.seed, hot=2, cold=6)
        # encode-kernel sample: up to 20k matched features, in encoder order
        rows = sorted(
            (tuple(int(v) for v in key.split("/")[1:]), fid, f)
            for key, fs in feats.items() for fid, f in fs.items()
        )[:20_000]
        ctx.expect = {
            "tiles": {k: feats[k] for k in sample},
            "matches": sum(len(v) for v in feats.values()),
            "kernel": (lon[:20_000], lat[:20_000], [np.asarray(r["rings"][0]) for r in regions[:8]]),
            "encode": {
                "tx": np.array([r[0][0] for r in rows], dtype=np.int64),
                "ty": np.array([r[0][1] for r in rows], dtype=np.int64),
                "px": np.array([r[2][0] for r in rows], dtype=np.int64),
                "py": np.array([r[2][1] for r in rows], dtype=np.int64),
                "fid": np.array([r[1] for r in rows], dtype=np.int64),
                "region": pa.chunked_array([pa.array([r[2][2]["region"] for r in rows])]),
            },
        }

    def build(self, ctx: Ctx):
        pts = ctx.spark.read.parquet(ctx.inputs["images"]).select("image_id", "lon", "lat")
        regions = ctx.spark.read.parquet(ctx.inputs["regions"])
        joined = pip_join(pts, regions)
        feats = tiling.point_features(
            joined, z=JOIN_Z, layer="regions",
            feature_id=F.substring("image_id", 5, 12).cast("long") * FID_STRIDE
            + F.substring("polygon_id", 2, 2).cast("long"),
            meta={"region": F.col("polygon_id")},
        )
        return tiling.encode_tiles(feats, single_layer="regions")

    def action(self, ctx: Ctx, df) -> dict:
        return tile_action(df, _tile_key_col().isin(list(ctx.expect["tiles"])))

    def check(self, ctx: Ctx, res: dict) -> list[str]:
        errors: list[str] = []
        tiles = ctx.expect["tiles"]
        if set(res["sample"]) != set(tiles):
            errors.append(f"sampled tiles {sorted(res['sample'])} != {sorted(tiles)}")
        if res["n_features"] != ctx.expect["matches"]:
            errors.append(f"{res['n_features']} features from {ctx.expect['matches']} matches")
        for key, (nf, blob) in res["sample"].items():
            layer = _decode_layer(blob, "regions", errors, key)
            if layer is not None and key in tiles:
                _check_points(key, layer, nf, tiles[key], len(tiles[key]), ("region",), errors)
        return errors

    def kernels(self, ctx: Ctx) -> dict:
        lon, lat, rings = ctx.expect["kernel"]
        edges = sum(len(r) - 1 for r in rings)

        def cast():
            for r in rings:
                points_in_ring(lon, lat, r)

        return {
            "spatial_join.pip_pts_edges_per_s": kernel_rate(cast, len(lon) * edges),
            "mvt.encode_feat_per_s": encode_rate(
                ctx.expect["encode"], JOIN_Z, "regions", (("region", codec.VAL_STRING),)
            ),
        }

    def ratios(self, ctx: Ctx, res: dict, nodes: list) -> dict:
        out = {}
        refine = [n for n in nodes if n["node"] == "MapInPandas"]
        if len(refine) == 1 and isinstance(refine[0]["rows_in"], float) and refine[0]["rows_in"]:
            out["spatial_join.refine_keep_ratio"] = refine[0]["rows_received"] / refine[0]["rows_in"]
        else:
            out["spatial_join.refine_keep_ratio"] = (
                f"expected one MapInPandas refine node with an input row count, found {refine}"
            )
        return out


class TilesOverzoom:
    name = "tiles_overzoom"
    n, smoke_n = 8_000, 3_000  # source image rows behind the parent tile set

    def setup(self, ctx: Ctx, d: Path) -> dict:
        imgs, tiles = str(d / "images"), str(d / "tiles")
        df = synth.write_images_table(ctx.spark, imgs, ctx.n, ctx.seed, light=True)
        feats = tiling.point_features(
            df, z=POINT_Z, layer="images",
            feature_id=F.substring("image_id", 5, 12).cast("long"),
            meta={"caption": F.col("caption"), "phash": F.col("phash")},
        )
        encoded = tiling.encode_tiles(feats, max_per_tile=cap_for(ctx.n), single_layer="images")
        # one file per core, so the overzoom scan can use every core
        encoded.select("tile_z", "tile_x", "tile_y", "mvt").repartition(
            ctx.spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(tiles)
        return {"tiles": tiles, "input_rows": pq.read_table(tiles, columns=["tile_z"]).num_rows}

    def prepare(self, ctx: Ctx) -> None:
        t = pq.read_table(ctx.inputs["tiles"]).sort_by([("tile_x", "ascending"), ("tile_y", "ascending")])
        keys = [_key(z, x, y) for z, x, y in zip(
            t["tile_z"].to_pylist(), t["tile_x"].to_pylist(), t["tile_y"].to_pylist())]
        blobs = t["mvt"].to_pylist()
        sizes = {k: len(b) for k, b in zip(keys, blobs)}
        sample = _pick_sample(sizes, cap=max(sizes.values()), seed=ctx.seed, hot=2, cold=4)
        by_key = dict(zip(keys, blobs))
        expected = {}
        for key in sample:
            z, x, y = (int(v) for v in key.split("/"))
            expected[key] = {
                _key(z + 1, 2 * x + dx, 2 * y + dy): (nf, blob)
                for dx, dy, blob, nf, _ in overzoom.overzoom_blob_scalar(by_key[key])
            }
        ctx.expect = {"parents": expected, "kernel": blobs[:200]}

    def build(self, ctx: Ctx):
        return overzoom.overzoom_tiles(ctx.spark.read.parquet(ctx.inputs["tiles"]), levels=1)

    def action(self, ctx: Ctx, df) -> dict:
        parent = F.concat_ws(
            "/", F.col("tile_z") - 1, F.shiftright("tile_x", 1), F.shiftright("tile_y", 1)
        )
        return tile_action(df, parent.isin(list(ctx.expect["parents"])))

    def check(self, ctx: Ctx, res: dict) -> list[str]:
        want = {k: v for kids in ctx.expect["parents"].values() for k, v in kids.items()}
        got = res["sample"]
        errors = []
        if set(got) != set(want):
            errors.append(f"children {sorted(set(got) ^ set(want))[:6]} differ from overzoom_blob_scalar")
        for key in set(got) & set(want):
            if got[key] != want[key]:
                errors.append(f"{key}: child differs from overzoom_blob_scalar "
                              f"(n_features {got[key][0]} vs {want[key][0]})")
        return errors

    def kernels(self, ctx: Ctx) -> dict:
        blobs = ctx.expect["kernel"]

        def decode_all():
            for b in blobs:
                codec.decode_tile(b)

        def overzoom_all():
            for b in blobs:
                overzoom.overzoom_blob(b)

        return {
            "mvt.decode_tile_ms": 1000.0 / kernel_rate(decode_all, len(blobs)),
            "overzoom.blob_tiles_per_s": kernel_rate(overzoom_all, len(blobs)),
        }

    def ratios(self, ctx: Ctx, res: dict, nodes: list) -> dict:
        return {}


class DocsDedup:
    name = "docs_dedup"
    n, smoke_n = 1_000, 300

    def setup(self, ctx: Ctx, d: Path) -> dict:
        path = str(d / "documents")
        ctx.spark.createDataFrame(gen.documents_pdf(ctx.n, ctx.seed)).write.mode(
            "overwrite").parquet(path)
        return {"documents": path, "input_rows": ctx.n}

    def prepare(self, ctx: Ctx) -> None:
        docs = ctx.spark.read.parquet(ctx.inputs["documents"])
        sig = dedup.minhash_signatures(docs).toPandas().sort_values("doc_id")
        mh = sig[[c for c in sig.columns if c.startswith("mh")]].to_numpy()
        ids = sig["doc_id"].to_numpy()
        bands = getattr(dedup, "_BANDS", 16)
        rows = mh.shape[1] // bands
        buckets: dict[tuple, list] = {}
        for b in range(bands):
            for i, key in enumerate(map(tuple, mh[:, b * rows:(b + 1) * rows])):
                buckets.setdefault((b, key), []).append(i)
        cand = {(i, j) for m in buckets.values() for a, i in enumerate(m) for j in m[a + 1:]}
        est = {(int(ids[i]), int(ids[j])): round(float((mh[i] == mh[j]).mean()), 6) for i, j in cand}
        text = pq.read_table(ctx.inputs["documents"]).to_pydict()
        shingles = {}
        for did, s in zip(text["doc_id"], text["text"]):
            w = s.lower().split()
            shingles[did] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        ctx.expect = {
            "candidates": len(cand),
            "est": est,
            "want": {p for p, e in est.items() if e >= DEDUP_THRESHOLD},
            "shingles": shingles,
            "max_bucket": max(len(m) for m in buckets.values()),
        }

    def build(self, ctx: Ctx):
        docs = ctx.spark.read.parquet(ctx.inputs["documents"])
        return dedup.minhash_near_dups(docs, threshold=DEDUP_THRESHOLD, band_cap=BAND_CAP)

    def action(self, ctx: Ctx, df) -> dict:
        pairs = sorted((int(r.doc_a), int(r.doc_b), float(r.est_jaccard)) for r in df.collect())
        return {
            "n_out": len(pairs),
            "digest": hashlib.sha1(repr(pairs).encode()).hexdigest(),
            "sample": pairs,
        }, df

    def check(self, ctx: Ctx, res: dict) -> list[str]:
        errors = []
        exp = ctx.expect
        got = {(a, b) for a, b, _ in res["sample"]}
        for a, b, e in res["sample"]:
            want = exp["est"].get((a, b))
            if want is None:
                errors.append(f"pair ({a}, {b}) shares no LSH band")
            elif abs(want - e) > 1e-9:
                errors.append(f"pair ({a}, {b}) est_jaccard {e} != {want} from signatures")
            sa, sb = exp["shingles"][a], exp["shingles"][b]
            if len(sa & sb) / max(1, len(sa | sb)) < 0.2:
                errors.append(f"pair ({a}, {b}) has true Jaccard below 0.2")
        if exp["max_bucket"] <= BAND_CAP and got != exp["want"]:
            errors.append(f"{len(exp['want'] - got)} pairs missing, {len(got - exp['want'])} extra")
        return errors

    def kernels(self, ctx: Ctx) -> dict:
        return {}

    def ratios(self, ctx: Ctx, res: dict, nodes: list) -> dict:
        return {"dedup.pair_keep_ratio": res["n_out"] / max(1, ctx.expect["candidates"])}


WORKLOADS = {w.name: w for w in (PointsTile(), LinesTile(), JoinTile(), TilesOverzoom(), DocsDedup())}


def sample_digest(res: dict) -> str:
    """Digest of the sampled output records of one pass."""
    if not isinstance(res["sample"], dict):
        return res["digest"]  # docs_dedup samples every pair
    h = hashlib.sha1()
    for k in sorted(res["sample"]):
        nf, blob = res["sample"][k]
        h.update(f"{k}:{nf}:".encode() + hashlib.md5(blob).digest())
    return h.hexdigest()
