"""overlay_areas: tabulate intersection over tile grids (SURVEY.md D44)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.operators import tiling
from vectortiles_spark.operators.raster import overlay_areas


def _rect_feats(spark, rows):
    """rows: (feature_id, tile_x, x0, y0, x1, y1) extent-coord rects."""
    pdf = pd.DataFrame(
        rows, columns=["feature_id", "tile_x", "x0", "y0", "x1", "y1"]
    )
    df = spark.createDataFrame(pdf)
    c = lambda n: F.col(n).cast("double")
    ring = F.array(
        F.array(c("x0"), c("y0")), F.array(c("x1"), c("y0")),
        F.array(c("x1"), c("y1")), F.array(c("x0"), c("y1")),
        F.array(c("x0"), c("y0")),
    )
    return tiling.geom_features(df.select(
        F.lit(3).alias("tile_z"),
        F.col("tile_x").cast("int"),
        F.lit(0).cast("int").alias("tile_y"),
        F.lit("r").alias("layer"),
        F.lit(3).alias("geom_type"),
        F.col("feature_id").cast("bigint"),
        F.array(F.array(ring)).alias("geom"),
    ))


def _pix_overlap(a, b, w=64, extent=4096):
    """exact pixel-center count of rect intersection per axis pair."""
    step = extent // w
    cnt = 1
    for lo_a, hi_a, lo_b, hi_b in (
        (a[0], a[2], b[0], b[2]), (a[1], a[3], b[1], b[3])
    ):
        lo, hi = max(lo_a, lo_b), min(hi_a, hi_b)
        n = sum(1 for c in range(w) if lo <= step * c + step // 2 < hi)
        cnt *= n
    return cnt


def test_rect_overlap_counts_exact(spark):
    a_rows = [(1, 0, 0, 0, 2048, 2048), (2, 0, 1024, 1024, 3072, 3072)]
    b_rows = [(10, 0, 1024, 0, 4096, 4096), (11, 0, 0, 0, 512, 512)]
    out = {
        (r["feature_a"], r["feature_b"]): r["n_px"]
        for r in overlay_areas(
            _rect_feats(spark, a_rows), _rect_feats(spark, b_rows)
        ).collect()
    }
    for fa, _, *ra in a_rows:
        for fb, _, *rb in b_rows:
            exp = _pix_overlap(ra, rb)
            assert out.get((fa, fb), 0) == exp, (fa, fb)


def test_full_cover_count_exact_past_float32_grid(spark):
    """A grid just over 2^24 pixels (odd, so float32 cannot even hold
    the total) still counts every pixel of two full-cover polygons."""
    n = 4097
    a = _rect_feats(spark, [(1, 0, 0, 0, n, n)])
    b = _rect_feats(spark, [(2, 0, 0, 0, n, n)])
    out = overlay_areas(a, b, w=n, h=n, extent=n).collect()
    assert [(r["feature_a"], r["feature_b"], r["n_px"]) for r in out] == [(1, 2, n * n)]


def test_disjoint_tiles_never_pair(spark):
    a = _rect_feats(spark, [(1, 0, 0, 0, 4096, 4096)])
    b = _rect_feats(spark, [(2, 1, 0, 0, 4096, 4096)])
    assert overlay_areas(a, b).count() == 0


def test_pair_guard_raises(spark):
    rows_a = [(i, 0, 0, 0, 4096, 4096) for i in range(20)]
    rows_b = [(i, 0, 0, 0, 4096, 4096) for i in range(20)]
    with pytest.raises(Exception, match="max_pairs_per_tile"):
        overlay_areas(
            _rect_feats(spark, rows_a), _rect_feats(spark, rows_b),
            max_pairs_per_tile=100,
        ).collect()


def test_non_polygon_raises(spark):
    a = _rect_feats(spark, [(1, 0, 0, 0, 64, 64)])
    b = _rect_feats(spark, [(2, 0, 0, 0, 64, 64)]).withColumn(
        "geom_type", F.lit(1)
    )
    with pytest.raises(Exception, match="filter to polygons"):
        overlay_areas(a, b).collect()


def test_bad_grid_raises(spark):
    a = _rect_feats(spark, [(1, 0, 0, 0, 64, 64)])
    with pytest.raises(ValueError, match="must divide extent"):
        overlay_areas(a, a, w=60, h=64)


def test_one_cogroup_shuffle_per_side(spark):
    from vectortiles_spark.plans import audit

    a = _rect_feats(spark, [(1, 0, 0, 0, 64, 64)])
    b = _rect_feats(spark, [(2, 0, 0, 0, 64, 64)])
    out = overlay_areas(a, b)
    audit.assert_no_cartesian(out)
    assert audit.count_shuffles(out) <= 2


def test_zonal_mode_matches_numpy(spark):
    import numpy as np

    from vectortiles_spark.operators.raster import fill_polygons_mask, zonal_mode

    rows_i, cols_i = np.arange(64)[:, None], np.arange(64)[None, :]
    px = ((rows_i * 3 + cols_i) % 7).astype(np.uint8)  # many ties
    rasters = spark.createDataFrame(pd.DataFrame([
        {"tile_z": 3, "tile_x": 0, "tile_y": 0, "w": 64, "h": 64,
         "px": px.tobytes()},
    ]))
    rects = [(1, 0, 0, 0, 2048, 2048), (2, 0, 100, 100, 500, 900),
             (3, 0, 4000, 4000, 4096, 4096)]
    out = {
        r["feature_id"]: (r["n_px"], r["mode_val"], r["mode_count"])
        for r in zonal_mode(_rect_feats(spark, rects), rasters).collect()
    }
    for fid, _, x0, y0, x1, y1 in rects:
        ring = np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
        )
        vals = px[fill_polygons_mask([ring], 64, 64, 4096)]
        counts = np.bincount(vals, minlength=256)
        mv = int(counts.argmax())
        assert out[fid] == (int(vals.size), mv, int(counts[mv])), fid


def test_zonal_mode_empty_mask_null(spark):
    import numpy as np

    from vectortiles_spark.operators.raster import zonal_mode

    rasters = spark.createDataFrame(pd.DataFrame([
        {"tile_z": 3, "tile_x": 0, "tile_y": 0, "w": 64, "h": 64,
         "px": np.zeros(4096, np.uint8).tobytes()},
    ]))
    # degenerate sliver between pixel centers: covers no center
    feats = _rect_feats(spark, [(1, 0, 33, 33, 34, 34)])
    row = zonal_mode(feats, rasters).collect()[0]
    assert row["n_px"] == 0 and row["mode_val"] is None
