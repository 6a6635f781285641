"""PNG tile sink: encoder byte identity, Byte conversion, writer width.

The encoder digests below were computed with the encoder that
searched all five filters on every row, before all-zero rows
skipped the search.  Any change to the bytes encode_png writes for
these images fails here.  The digests hold for the stock zlib
deflate at level 6.
"""

import hashlib
import uuid

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators.png import decode_png, encode_png


def _images():
    rng = np.random.default_rng(20261017)
    sparse = np.zeros((256, 256), dtype=np.uint8)
    idx = rng.choice(256 * 256, 40, replace=False)
    sparse.flat[idx] = rng.integers(1, 256, 40)
    sparse[100:104, 30:36] = rng.integers(1, 40, (4, 6))
    first = np.zeros((32, 32), dtype=np.uint8)
    first[0, 3:9] = rng.integers(1, 256, 6)
    last = np.zeros((32, 32), dtype=np.uint8)
    last[-1, ::5] = rng.integers(1, 256, 7)
    adjacent = np.zeros((40, 24), dtype=np.uint8)
    adjacent[10:14] = rng.integers(0, 256, (4, 24))
    gaps = np.zeros((40, 24), dtype=np.uint8)
    gaps[[2, 5, 6, 20, 39]] = rng.integers(0, 256, (5, 24))
    rgb_sparse = np.zeros((16, 16, 3), dtype=np.uint8)
    rgb_sparse[[0, 7, 8, 15], 4] = rng.integers(1, 256, (4, 3))
    return {
        "sparse_density_256": sparse,
        "only_row_0": first,
        "only_last_row": last,
        "adjacent_rows": adjacent,
        "rows_with_gaps": gaps,
        "rgb_sparse_rows": rgb_sparse,
        "all_zero": np.zeros((64, 64), dtype=np.uint8),
        "constant": np.full((64, 64), 77, dtype=np.uint8),
        "dense_grey": rng.integers(0, 256, (64, 64), dtype=np.uint8),
        "dense_rgb_33x17": rng.integers(0, 256, (33, 17, 3),
                                        dtype=np.uint8),
        "dense_rgba": rng.integers(0, 256, (16, 16, 4), dtype=np.uint8),
        "one_by_n": rng.integers(0, 256, (1, 50), dtype=np.uint8),
        "n_by_one": rng.integers(0, 256, (50, 1), dtype=np.uint8),
    }


_DIGESTS = {
    "sparse_density_256": "84df1063bd762d116cbe8ef5d89f8e12595c85dbae95fd2399c4617686993201",
    "only_row_0": "a0117aa22de54114835d21ebaf7cf11c6821b9638e4bccdbfca4351e1a6a480a",
    "only_last_row": "44d0b1bcc21f91c3ef0a5de0f6248c33b7e5f65768532a4e26de49b8bd603c55",
    "adjacent_rows": "0f012d5c5f4b84ed0cfcd9d4acbadbffa34dbab5633954c8ed6a6b3682c8ee27",
    "rows_with_gaps": "63c2b49d9d8568a53d1c5590b99b79fe54cf53a4678027ca693db214ee90d74a",
    "rgb_sparse_rows": "a29c9178b3b9f5814db080e524a8e541bfaa26c7c6a767d208f000d81b913b02",
    "all_zero": "7373d93c0cc4bf540ee0e6279ba16a8694eb8bffd10a83bcbaaaf02af9dc7716",
    "constant": "af5f7ab6ae20425b06a9e7683588a3b5e175f9367bce7cd5581d8ffb919c1dc0",
    "dense_grey": "ee35c9f836ca14d60462b220ed9a9d6b0cd2a97ea7922fdd0fc7fdd69cabf64d",
    "dense_rgb_33x17": "0d6370cc3877e2bc9ce61ac4d7d2b593a88c69a72f185cd7f2332be6b3b62a70",
    "dense_rgba": "2915905e6ac69a8e4bd1c10472093d4981e50be8637e4b718a51f67fbd50d77a",
    "one_by_n": "6ebef48f84d85ef71e50fe79d1fb574008ac4ba0b24fd4f6ccbbf52e68ba6417",
    "n_by_one": "ed2aa05d877f3a20716874ce8c94aab7df36a8c5e87039db7ba8be675e3326de",
}


@pytest.mark.parametrize("name", sorted(_DIGESTS))
def test_encode_png_digest(name):
    """encode_png writes exactly the bytes of the all-rows filter
    search, and they decode back to the image."""
    img = _images()[name]
    data = encode_png(img)
    assert hashlib.sha256(data).hexdigest() == _DIGESTS[name]
    np.testing.assert_array_equal(decode_png(data), img)


# (bands, codec, expected Byte image): the clip(round(.)) law with
# numpy's round-half-to-even; integers only clip
_BYTE_CASES = {
    "uint32_above_255": (
        [np.array([[0, 1, 255, 256], [1000, 70000, 2**32 - 1, 128],
                   [7, 0, 0, 0], [0, 0, 0, 300]], dtype=np.uint32)],
        "deflate",
        np.array([[0, 1, 255, 255], [255, 255, 255, 128],
                  [7, 0, 0, 0], [0, 0, 0, 255]], dtype=np.uint8)),
    "negative_int16": (
        [np.array([[-32768, -1, 0, 5], [255, 256, 32767, -255],
                   [1, 2, 3, 4], [-4, -3, -2, 254]], dtype=np.int16)],
        None,
        np.array([[0, 0, 0, 5], [255, 255, 255, 0],
                  [1, 2, 3, 4], [0, 0, 0, 254]], dtype=np.uint8)),
    "float32_half_even": (
        [np.array([[2.5, 3.5, 0.5, 1.5], [-0.5, 254.5, 255.5, 300.0],
                   [-7.25, 10.49, 10.51, 0.0], [128.0, 4.5, 5.5, 6.5]],
                  dtype=np.float32)],
        None,
        np.array([[2, 4, 0, 2], [0, 254, 255, 255],
                  [0, 10, 11, 0], [128, 4, 6, 6]], dtype=np.uint8)),
    "rgb_three_bands": (
        [np.full((4, 4), 300, dtype=np.uint16),
         np.arange(16, dtype=np.uint16).reshape(4, 4) * 20,
         np.eye(4, dtype=np.uint16) * 9],
        "deflate",
        np.stack([np.full((4, 4), 255, dtype=np.uint8),
                  np.minimum(np.arange(16).reshape(4, 4) * 20, 255)
                  .astype(np.uint8),
                  (np.eye(4) * 9).astype(np.uint8)], axis=-1)),
}


def _tile_frame(spark, bands, codec):
    from gdal_spark.operators.tiling import encode_tile

    rows = []
    for b, arr in enumerate(bands, start=1):
        payload, dts = encode_tile(arr, codec)
        rows.append({"zoom": 3, "tile_x": 5, "tile_y": 2, "band": b,
                     "data": payload, "dtype": dts, "tile_size": 4})
    return spark.createDataFrame(pd.DataFrame(rows))


@pytest.mark.parametrize("case", sorted(_BYTE_CASES))
def test_png_sinks_byte_conversion(spark, tmp_path, case):
    """Both PNG sinks clip+round non-Byte tiles to the same bytes:
    the z/x/y file and the container blob are encode_png of the
    expected Byte image."""
    from gdal_spark.operators.tiling import tile_blob_frame, write_tiles

    bands, codec, want = _BYTE_CASES[case]
    tiles = _tile_frame(spark, bands, codec)
    write_tiles(tiles, str(tmp_path), format="png")
    assert (tmp_path / "3" / "5" / "2.png").read_bytes() == encode_png(want)
    (blob,) = tile_blob_frame(tiles).select("blob").collect()
    assert bytes(blob["blob"]) == encode_png(want)


def _stage_tasks(spark, action):
    """Task count of every stage that ``action()`` runs, read from
    its own job group."""
    sc = spark.sparkContext
    group = f"png-sink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return [st.getStageInfo(s).numTasks
            for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds
            if st.getStageInfo(s) is not None]


@pytest.mark.parametrize("sink", ["write_tiles", "tile_blob_frame"])
def test_png_sinks_encode_at_default_parallelism(spark, tmp_path, sink):
    """The encode stage after the tile-key shuffle runs exactly
    defaultParallelism tasks: the one-partition input and the count
    stage run one task each, so the widest stage is the encode."""
    from gdal_spark.operators.tiling import tile_blob_frame, write_tiles

    rows = []
    for tx in range(12):
        payload = np.full((4, 4), tx, dtype=np.uint8).tobytes()
        rows.append({"zoom": 4, "tile_x": tx, "tile_y": 1, "band": 1,
                     "data": payload, "dtype": "uint8", "tile_size": 4})
    tiles = spark.createDataFrame(pd.DataFrame(rows)).coalesce(1)
    if sink == "write_tiles":
        tasks = _stage_tasks(spark, lambda: write_tiles(
            tiles, str(tmp_path), format="png"))
        assert len(list(tmp_path.rglob("*.png"))) == 12
    else:
        tasks = _stage_tasks(
            spark, lambda: tile_blob_frame(tiles).collect())
    assert max(tasks) == spark.sparkContext.defaultParallelism, tasks


@pytest.mark.parametrize("format", ["png", "jpeg", "gtiff"])
def test_file_sink_mode_error_names_its_format(spark, tmp_path, format):
    """An unknown write mode is reported against the sink in use."""
    from gdal_spark.operators.tiling import write_tiles

    tiles = _tile_frame(spark, [np.zeros((4, 4), dtype=np.uint8)], None)
    with pytest.raises(ValueError, match=f"unknown {format} sink mode"):
        write_tiles(tiles, str(tmp_path), format=format, mode="bogus")
