"""Multimodal plumbing + layer algebra kernels."""

import numpy as np
import pandas as pd

from gdal_spark.geometry.packed import geom_area
from gdal_spark.geometry.wkb import parse_wkb, polygon_wkb
from gdal_spark.operators.layer_algebra import overlay_general
from gdal_spark.sources.multimodal import (
    decode_any, encode_fakeimg, extract_features, resize_images,
    sample_frames, synth_media_df,
)


def test_fakeimg_roundtrip():
    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    assert np.array_equal(decode_any(encode_fakeimg(arr)), arr)


def test_media_features(spark):
    media = synth_media_df(spark, 20, partitions=2)
    feats = extract_features(media).toPandas().sort_values("media_id")
    assert len(feats) == 20
    # widths follow the deterministic formula 16 + (id%4)*8
    want_w = [16 + (i % 4) * 8 for i in range(20)]
    assert feats["width"].tolist() == want_w


def test_media_resize(spark):
    media = synth_media_df(spark, 6, partitions=2)
    resized = resize_images(media, 8, 8).toPandas()
    for _, r in resized.iterrows():
        arr = decode_any(bytes(r["payload"]))
        assert arr.shape == (8, 8, 3)


def test_frame_sampling(spark):
    media = synth_media_df(spark, 4, partitions=1).withColumn(
        "n_frames", __import__("pyspark.sql.functions",
                               fromlist=["lit"]).lit(10))
    frames = sample_frames(media, every_n=3).toPandas()
    assert sorted(frames["frame_idx"].unique()) == [0, 3, 6, 9]
    assert len(frames) == 4 * 4


SQ = np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], dtype=float)


def _rect(x0, y0, x1, y1):
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                    dtype=float)


def _layer(rings_by_fid):
    return pd.DataFrame({
        "fid": np.array(list(rings_by_fid), dtype=np.int64),
        "geometry": [polygon_wkb([r]) for r in rings_by_fid.values()]})


def test_clip_ring_convex_triangle(spark):
    """Square clipped by a triangle equals the triangle clipped by the
    square's rectangle (symmetric check)."""
    tri = np.array([(5, -5), (15, 5), (5, 15), (5, -5)], dtype=float)
    out = overlay_general(spark, spark.createDataFrame(_layer({0: SQ})),
                          _layer({1: tri}), "clip").toPandas()
    assert len(out) == 1
    a = out.iloc[0]["area"]
    assert 0 < a < 100
    from gdal_spark.geometry.ops import clip_ring_rect

    out2 = clip_ring_rect(tri, 0, 0, 10, 10)
    a2 = geom_area(parse_wkb(polygon_wkb([out2])))
    np.testing.assert_allclose(a, a2)


def test_intersection_layer(spark):
    inputs = _layer({0: SQ, 1: SQ + 100.0})
    method = _layer({7: _rect(5.0, 5.0, 20.0, 20.0)})
    out = overlay_general(spark, spark.createDataFrame(inputs), method,
                          "intersection").toPandas()
    assert len(out) == 1
    assert out.iloc[0]["fid"] == 0 and out.iloc[0]["method_fid"] == 7
    np.testing.assert_allclose(out.iloc[0]["area"], 25.0)  # 5x5 overlap


def test_erase_rect(spark):
    inputs = spark.createDataFrame(_layer({0: SQ}))
    out = overlay_general(spark, inputs,
                          _layer({9: _rect(2.0, 2.0, 8.0, 8.0)}),
                          "erase").toPandas()
    assert len(out) == 1
    np.testing.assert_allclose(out.iloc[0]["area"], 100.0 - 36.0)
    # erase with disjoint rect -> full area survives
    out2 = overlay_general(spark, inputs,
                           _layer({9: _rect(50.0, 50.0, 60.0, 60.0)}),
                           "erase").toPandas()
    np.testing.assert_allclose(out2.iloc[0]["area"], 100.0)


def test_real_codec_payloads_without_pillow(spark):
    """Real PNG/JPEG/TIFF bytes decode through the multimodal column
    via the IN-REPO codecs (magic-byte dispatch; Pillow is NOT
    installed in this container, which this test asserts), the way
    the reference decodes rasters with its own frmts/ drivers."""
    import pytest

    with pytest.raises(ImportError):
        import PIL  # noqa: F401

    from pyspark.sql import functions as F

    from gdal_spark.operators.gtiff import encode_gtiff
    from gdal_spark.operators.jpeg import encode_jpeg
    from gdal_spark.operators.png import encode_png
    from gdal_spark.sources.multimodal import MEDIA_SCHEMA

    rng = np.random.default_rng(7)
    imgs = {mid: rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
            for mid in range(3)}
    payloads = {0: encode_png(imgs[0]),
                1: encode_jpeg(imgs[1], quality=95),
                2: encode_gtiff(imgs[2])}
    pdf = pd.DataFrame([
        {"media_id": mid, "kind": "image",
         "payload": bytearray(payloads[mid]),
         "width": 32, "height": 24, "channels": 3, "n_frames": 1}
        for mid in range(3)])
    media = spark.createDataFrame(pdf, MEDIA_SCHEMA)
    feats = (extract_features(media).orderBy("media_id")
             .toPandas().set_index("media_id"))
    assert feats.loc[0, "width"] == 32 and feats.loc[0, "height"] == 24
    for mid in range(3):
        m = imgs[mid].reshape(-1, 3).mean(axis=0)
        # PNG/TIFF are lossless (int-truncated mean must match
        # exactly); JPEG is lossy -> small tolerance
        tol = 3 if mid == 1 else 0
        assert abs(int(feats.loc[mid, "mean_r"]) - int(m[0])) <= tol
        assert abs(int(feats.loc[mid, "mean_g"]) - int(m[1])) <= tol
        assert abs(int(feats.loc[mid, "mean_b"]) - int(m[2])) <= tol
    # resize consumes the real-codec payloads too
    resized = resize_images(media, 8, 8).toPandas()
    for _, r in resized.iterrows():
        assert decode_any(bytes(r["payload"])).shape == (8, 8, 3)
