"""Regression tests for the round-1 code-review findings — each test pins
one fixed defect."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vectortiles_spark.functions.tiles import tile_pixel_np, tile_px
from vectortiles_spark.images import codec as ic
from vectortiles_spark.mvt import codec
from vectortiles_spark.operators import tiling
from vectortiles_spark.operators.spatial_join import knn_join
from vectortiles_spark.sources.synth import images_df


def test_point_features_nondefault_extent(spark):
    """extent != 4096 must produce correct coordinates AND declare the
    extent in the emitted layer (was: 13-bit lane overflow + extent always
    written as 4096)."""
    imgs = images_df(spark, 200, seed=11)
    for extent in (512, 8192):
        feats = tiling.point_features(imgs, z=5, layer="im", extent=extent,
                                      feature_id=F.xxhash64("image_id"))
        rows = tiling.encode_tiles(feats, extent=extent).collect()
        truth = imgs.select("lon", "lat").toPandas()
        px, py = tile_pixel_np(truth.lon.values, truth.lat.values, 5, extent=extent)
        expected = set(zip(px.tolist(), py.tolist()))
        got = set()
        for r in rows:
            layer = codec.decode_tile(bytes(r.mvt))["im"]
            assert layer.extent == extent
            for f in layer.features:
                got.add((int(f.geom[0][0]), int(f.geom[0][1])))
        assert got == expected


def test_float_metadata_survives_decode_encode_roundtrip(spark):
    """VAL_FLOAT (tag 2) properties must survive decode_tiles -> encode_tiles
    (was: silently dropped by the struct-metadata converter)."""
    feat = codec.Feature(1, {"f32": (codec.VAL_FLOAT, 1.5)}, 1, np.array([[7, 7]]))
    mvt = codec.encode_tile([codec.Layer("ext", features=[feat])])
    tiles = spark.createDataFrame(
        pd.DataFrame({"tile_z": [0], "tile_x": [0], "tile_y": [0], "mvt": [mvt]})
    )
    back = tiling.encode_tiles(tiling.decode_tiles(tiles)).collect()
    layer = codec.decode_tile(bytes(back[0].mvt))["ext"]
    assert layer.features[0].metadata == {"f32": (codec.VAL_FLOAT, 1.5)}


def test_ngram_jaccard_short_docs(spark, tmp_path):
    """Documents with < 3 tokens must not crash the jaccard query (was:
    sequence(0, -1) + slice(toks, 0, 3) error)."""
    from vectortiles_spark.plans.queries_text import q_ngram_jaccard

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["one", "two words", "a b c d e f", "a b c d e f"],
            "lang": ["en"] * 4, "source": ["s"] * 4, "n_chars": [3, 9, 11, 11],
        }
    )
    d = str(tmp_path / "docs_sf")
    spark.createDataFrame(docs).write.parquet(f"{d}/documents.parquet")
    out = q_ngram_jaccard(spark, d).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(2, 3)}
    assert out[0].jaccard == 1.0


def test_geom_features_degenerate_geometries_dropped(spark):
    """Empty points / 1-point lines / 2-point rings must be dropped, not
    emitted as undecodable streams (was: MoveTo count 0 broke decode)."""
    rows = pd.DataFrame(
        {
            "tile_z": [1] * 4, "tile_x": [0] * 4, "tile_y": [0] * 4,
            "layer": ["l"] * 4, "geom_type": [1, 2, 3, 1],
            "feature_id": [1, 2, 3, 4],
            "geom": [
                [],                                   # empty point
                [[[[5, 5]]]],                         # 1-point line part
                [[[[0, 0], [1, 0], [0, 0]]]],         # 3-point "ring"
                [[[[9, 9]]]],                         # valid point
            ],
        }
    )
    feats = tiling.geom_features(spark.createDataFrame(rows))
    tiles = tiling.encode_tiles(feats).collect()
    assert tiles[0].n_features == 1
    layer = codec.decode_tile(bytes(tiles[0].mvt))["l"]  # must decode cleanly
    assert [f.feature_id for f in layer.features] == [4]


def test_truncated_ppm_raises_not_hangs():
    with pytest.raises(ValueError, match="truncated"):
        ic.decode_ppm(b"P6\n123")
    with pytest.raises(ValueError, match="truncated"):
        ic.decode_ppm(b"P6\n# comment with no newline")


def test_antimeridian_pixel(spark):
    """lon=180 belongs to the east edge of the last tile (was: px=0)."""
    px, _ = tile_pixel_np(np.array([180.0]), np.array([0.0]), 3)
    assert px[0] == 4095
    got = (
        spark.createDataFrame(pd.DataFrame({"lon": [180.0]}))
        .select(tile_px(F.col("lon"), 3).alias("px"))
        .collect()[0].px
    )
    assert got == 4095


def test_knn_dateline_distance(spark):
    """A candidate across the antimeridian must rank by wrapped distance."""
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [1], "lon": [-179.9], "lat": [0.0]})
    )
    candidates = spark.createDataFrame(
        pd.DataFrame(
            {"cand_id": [10, 20], "lon": [179.9, -170.0], "lat": [0.0, 0.0]}
        )
    )
    rows = knn_join(queries, candidates, k=1, z=5, ring=1).collect()
    assert rows[0].cand_id == 10  # the wrapped neighbor, 0.2 degrees away
    assert rows[0].dist2 == pytest.approx(0.04, rel=1e-6)


def test_single_layer_guard_rejects_union_and_nulls(spark):
    """The literal-constancy fast path must not false-prove through a Union
    (whose output reuses only the first child's expr ids), and the data
    guard must reject NULL layer values that min/max alone would skip."""
    import pytest
    from pyspark.sql import functions as F

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.sources.synth import images_df

    imgs = images_df(spark, 40, seed=7)
    a = tiling.point_features(imgs, z=4, layer="images", feature_id=F.xxhash64("image_id"))
    b = tiling.point_features(imgs, z=4, layer="roads", feature_id=F.xxhash64("image_id"))
    u = a.union(b)
    assert not tiling._layer_is_expected_literal(u, "images")
    with pytest.raises(ValueError, match="refusing to re-label"):
        tiling.encode_tiles(u, single_layer="images").collect()

    nulled = a.withColumn(
        "layer", F.when(F.col("feature_id") % 2 == 0, F.col("layer"))
    )
    with pytest.raises(ValueError, match="refusing to re-label"):
        tiling.encode_tiles(nulled, single_layer="images").collect()

    # trusted=True skips the data-scan guard entirely (the caller vouches
    # for the constant): same bytes as the validated path on honest input,
    # no second pass over the lineage
    honest = a.withColumn("layer", F.concat(F.col("layer"), F.lit("")))  # non-literal plan
    assert not tiling._layer_is_expected_literal(honest, "images")
    t1 = {r.mvt for r in tiling.encode_tiles(honest, single_layer="images", trusted=True).collect()}
    t2 = {r.mvt for r in tiling.encode_tiles(a, single_layer="images").collect()}
    assert t1 == t2


def test_ivf_topk_empty_and_zero_norm(spark):
    import numpy as np

    from vectortiles_spark.operators.similarity import ivf_topk

    rng = np.random.Generator(np.random.PCG64(5))
    qs = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(2)],
        "query_id long, q_emb array<double>",
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ivf_topk(qs, empty, k=3, n_cells=4).count() == 0

    # a zero vector among the seed centroids must not NaN-funnel every
    # candidate into one cell: results still rank by true cosine
    rows = [(0, [0.0] * 8)] + [(i, rng.normal(size=8).tolist()) for i in range(1, 40)]
    cand = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ivf_topk(qs, cand, k=3, n_cells=4, nprobe=4).collect()
    assert len(got) == 6 and all(not np.isnan(r.cosine) for r in got if r.vec_id != 0)
