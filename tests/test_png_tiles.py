"""PNG codec + PNG tile sink.

Golden strategy: encode -> decode round-trip must be the identity on
the raw arrays (the decoder implements the full five-filter spec, so
a filter bug on either side breaks the identity), chunk CRCs must
verify, and the z/x/y file layout must match the XYZ/TMS conventions
(gdalalg_raster_tile.cpp:509-514 GetFileY).  If Pillow happens to be
installed the decode is cross-checked against it (import-gated).
"""

import os
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from gdal_spark.operators.png import decode_png, encode_png


def _check_chunks(data: bytes):
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    off = 8
    tags = []
    while off < len(data):
        (ln,) = struct.unpack_from(">I", data, off)
        tag = data[off + 4:off + 8]
        payload = data[off + 8:off + 8 + ln]
        (crc,) = struct.unpack_from(">I", data, off + 8 + ln)
        assert crc == (zlib.crc32(tag + payload) & 0xFFFFFFFF), tag
        tags.append(tag)
        off += 12 + ln
    assert tags[0] == b"IHDR" and tags[-1] == b"IEND"


def test_png_roundtrip_and_chunks():
    rng = np.random.RandomState(3)
    cases = [
        rng.randint(0, 256, (64, 64)).astype(np.uint8),       # noise
        np.add.outer(np.arange(64), np.arange(64)).astype(np.uint8),
        rng.randint(0, 256, (33, 17, 3)).astype(np.uint8),    # rgb
        rng.randint(0, 256, (16, 16, 4)).astype(np.uint8),    # rgba
        np.zeros((8, 8), dtype=np.uint8),
    ]
    for a in cases:
        data = encode_png(a)
        _check_chunks(data)
        got = decode_png(data)
        np.testing.assert_array_equal(got, a)
        try:  # cross-decoder check when an image lib exists
            import io

            from PIL import Image
            ext = np.asarray(Image.open(io.BytesIO(data)))
            np.testing.assert_array_equal(ext, a)
        except ImportError:
            pass

    # smooth data must actually engage the predictive filters
    grad = np.add.outer(np.arange(256), np.arange(256)).astype(np.uint8)
    assert len(encode_png(grad)) < 2000  # vs 64 KiB raw

    with pytest.raises(ValueError):
        encode_png(np.zeros((4, 4), dtype=np.float64))


def test_write_tiles_png_files(spark, tmp_path):
    """write_tiles(format='png') emits decodable z/x/y.png files
    whose pixels equal the tile arrays, under both conventions."""
    from gdal_spark.operators.tiling import encode_tile, write_tiles

    rng = np.random.RandomState(9)
    rows = []
    arrays = {}
    for tx, ty in [(0, 0), (1, 0), (3, 2)]:
        arr = rng.randint(0, 256, (16, 16)).astype(np.uint8)
        payload, dts = encode_tile(arr, None)
        arrays[(tx, ty)] = arr
        rows.append({"zoom": 2, "tile_x": tx, "tile_y": ty, "band": 1,
                     "data": payload, "dtype": dts, "tile_size": 16})
    tiles = spark.createDataFrame(pd.DataFrame(rows))

    out = tmp_path / "xyz"
    write_tiles(tiles, str(out), convention="xyz", format="png")
    for (tx, ty), arr in arrays.items():
        p = out / "2" / str(tx) / f"{ty}.png"
        assert p.exists(), p
        np.testing.assert_array_equal(decode_png(p.read_bytes()), arr)

    # TMS flips y: file_y = 2^z - 1 - tile_y
    out2 = tmp_path / "tms"
    write_tiles(tiles, str(out2), convention="tms", format="png")
    for (tx, ty), arr in arrays.items():
        p = out2 / "2" / str(tx) / f"{(1 << 2) - 1 - ty}.png"
        assert p.exists(), p
        np.testing.assert_array_equal(decode_png(p.read_bytes()), arr)


def test_write_tiles_png_multiband_and_float(spark, tmp_path):
    """Bands stack into RGB channels; float tiles clip+cast to Byte
    (the translate -ot Byte convention)."""
    from gdal_spark.operators.tiling import encode_tile, write_tiles

    rng = np.random.RandomState(4)
    chans = [rng.randint(0, 256, (8, 8)).astype(np.uint8)
             for _ in range(3)]
    rows = []
    for b, arr in enumerate(chans, start=1):
        payload, dts = encode_tile(arr, None)
        rows.append({"zoom": 1, "tile_x": 0, "tile_y": 1, "band": b,
                     "data": payload, "dtype": dts, "tile_size": 8})
    # float tile: values beyond [0,255] clip
    farr = np.linspace(-50.0, 300.0, 64).reshape(8, 8)
    payload, dts = encode_tile(farr, None)
    rows.append({"zoom": 1, "tile_x": 1, "tile_y": 0, "band": 1,
                 "data": payload, "dtype": dts, "tile_size": 8})
    tiles = spark.createDataFrame(pd.DataFrame(rows))

    out = tmp_path / "t"
    write_tiles(tiles, str(out), convention="xyz", format="png")
    rgb = decode_png((out / "1" / "0" / "1.png").read_bytes())
    assert rgb.shape == (8, 8, 3)
    for c in range(3):
        np.testing.assert_array_equal(rgb[:, :, c], chans[c])
    grey = decode_png((out / "1" / "1" / "0.png").read_bytes())
    np.testing.assert_array_equal(
        grey, np.clip(np.round(farr), 0, 255).astype(np.uint8))


def test_write_tiles_png_overwrite_mode(spark, tmp_path):
    """mode='overwrite' (default) clean-replaces the pyramid — stale
    z/x/y.png files from a previous larger write must not survive;
    mode='append' keeps them."""
    from gdal_spark.operators.tiling import encode_tile, write_tiles

    def tile_df(coords, val):
        rows = []
        for tx, ty in coords:
            arr = np.full((8, 8), val, dtype=np.uint8)
            payload, dts = encode_tile(arr, None)
            rows.append({"zoom": 1, "tile_x": tx, "tile_y": ty,
                         "band": 1, "data": payload, "dtype": dts,
                         "tile_size": 8})
        return spark.createDataFrame(pd.DataFrame(rows))

    out = tmp_path / "pyr"
    write_tiles(tile_df([(0, 0), (1, 0), (1, 1)], 5), str(out),
                format="png")
    assert len(list(out.rglob("*.png"))) == 3
    # smaller overwrite: the two stale tiles disappear
    write_tiles(tile_df([(0, 0)], 9), str(out), format="png")
    pngs = list(out.rglob("*.png"))
    assert len(pngs) == 1 and pngs[0].parts[-3:] == ("1", "0", "0.png")
    np.testing.assert_array_equal(
        decode_png(pngs[0].read_bytes()),
        np.full((8, 8), 9, dtype=np.uint8))
    # append keeps existing files
    write_tiles(tile_df([(1, 1)], 3), str(out), format="png",
                mode="append")
    assert len(list(out.rglob("*.png"))) == 2
    import pytest
    with pytest.raises(ValueError, match="mode"):
        write_tiles(tile_df([(0, 0)], 1), str(out), format="png",
                    mode="bogus")


# -- in-place overwrite contract of the png/jpeg/gtiff file sinks --------

_EXT = {"png": "png", "jpeg": "jpg", "gtiff": "tif"}


def _decode(format, data):
    if format == "png":
        return decode_png(data)
    if format == "jpeg":
        from gdal_spark.operators.jpeg import decode_jpeg
        return decode_jpeg(data)
    from gdal_spark.operators.gtiff import decode_gtiff
    return decode_gtiff(data)[0]


def _frame(spark, tiles):
    """z/x/y -> uint8 array, as a one-band TILE_SCHEMA frame."""
    from gdal_spark.operators.tiling import encode_tile

    rows = []
    for (z, tx, ty), arr in tiles.items():
        payload, dts = encode_tile(arr, None)
        rows.append({"zoom": z, "tile_x": tx, "tile_y": ty, "band": 1,
                     "data": payload, "dtype": dts,
                     "tile_size": arr.shape[0]})
    return spark.createDataFrame(pd.DataFrame(rows))


def _noise(seed, keys, ts=16):
    rng = np.random.RandomState(seed)
    return {k: rng.randint(0, 256, (ts, ts)).astype(np.uint8)
            for k in keys}


def _tree(root):
    """Every entry under *root*: relative path -> file bytes, or None
    for a directory."""
    return {str(p.relative_to(root)): (None if p.is_dir()
                                       else p.read_bytes())
            for p in root.rglob("*")}


def _jobs_run(spark, action):
    """Spark job ids that ``action()`` runs, read from its own group."""
    import uuid

    sc = spark.sparkContext
    group = f"tile-sink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


_KEYS = [(1, 0, 0), (1, 1, 0), (1, 1, 1)]


@pytest.mark.parametrize("format", ["png", "jpeg", "gtiff"])
def test_overwrite_keeps_each_surviving_tiles_inode(spark, tmp_path,
                                                    format):
    """A rewrite writes into the old files: every surviving tile keeps
    its inode (the old file is held open, so a delete-and-create
    writer could not be handed the same number back)."""
    from gdal_spark.operators.tiling import write_tiles

    out = tmp_path / "pyr"
    write_tiles(_frame(spark, _noise(1, _KEYS)), str(out), format=format)
    paths = [out / str(z) / str(x) / f"{y}.{_EXT[format]}"
             for z, x, y in _KEYS]
    held = [open(p, "rb") for p in paths]
    try:
        write_tiles(_frame(spark, _noise(2, _KEYS)), str(out),
                    format=format)
        for p, fh in zip(paths, held):
            assert p.stat().st_ino == os.fstat(fh.fileno()).st_ino, p
    finally:
        for fh in held:
            fh.close()


@pytest.mark.parametrize("format", ["png", "jpeg", "gtiff"])
def test_shorter_rewrite_leaves_no_stale_tail(spark, tmp_path, format):
    """Flat tiles written over noise tiles in place: each file is cut
    to its new blob (the bytes a fresh write gives) and decodes to the
    new image, on the same inode."""
    from gdal_spark.operators.tiling import write_tiles

    out, fresh = tmp_path / "pyr", tmp_path / "fresh"
    write_tiles(_frame(spark, _noise(3, _KEYS)), str(out), format=format)
    inodes = {k: os.stat(out / str(k[0]) / str(k[1])
                         / f"{k[2]}.{_EXT[format]}").st_ino
              for k in _KEYS}
    flat = {k: np.full((16, 16), 40 + i, dtype=np.uint8)
            for i, k in enumerate(_KEYS)}
    write_tiles(_frame(spark, flat), str(out), format=format)
    write_tiles(_frame(spark, flat), str(fresh), format=format)
    for k, want in flat.items():
        rel = os.path.join(str(k[0]), str(k[1]), f"{k[2]}.{_EXT[format]}")
        got = (out / rel).read_bytes()
        blob = (fresh / rel).read_bytes()
        assert os.stat(out / rel).st_ino == inodes[k]
        assert len(got) == len(blob) and got == blob, rel
        np.testing.assert_array_equal(_decode(format, got), want)


@pytest.mark.parametrize("format", ["png", "jpeg", "gtiff"])
def test_overwrite_over_stale_tree_equals_fresh_write(spark, tmp_path,
                                                      format):
    """Stale tiles, a .jpg of an earlier jpeg write, a root
    metadata.json and a stale zoom directory all go: the tree equals
    a write to a fresh path, file list and bytes."""
    from gdal_spark.operators.tiling import write_tiles

    out, fresh = tmp_path / "pyr", tmp_path / "fresh"
    write_tiles(_frame(spark, _noise(4, _KEYS + [(1, 0, 1)])), str(out),
                format=format)
    write_tiles(_frame(spark, _noise(5, [(1, 0, 1), (2, 3, 3)])),
                str(out), format="jpeg", mode="append")
    (out / "metadata.json").write_text("{}")
    (out / "7" / "5").mkdir(parents=True)
    (out / "7" / "5" / "9.png").write_bytes(b"stale")
    (out / "2" / "0").mkdir()                       # empty x directory

    new = _noise(6, _KEYS[:2] + [(2, 1, 2)])
    write_tiles(_frame(spark, new), str(out), format=format)
    write_tiles(_frame(spark, new), str(fresh), format=format)
    assert _tree(out) == _tree(fresh)


@pytest.mark.parametrize("format", ["png", "jpeg", "gtiff"])
def test_overwrite_never_writes_through_links(spark, tmp_path, format):
    """An x directory symlinked outside the pyramid and a tile
    hard-linked from outside: the rewrite drops the links and the
    bytes outside stay as they were."""
    from gdal_spark.operators.tiling import write_tiles

    out, fresh, ext = tmp_path / "pyr", tmp_path / "fresh", _EXT[format]
    outside = tmp_path / "outside"
    outside.mkdir()
    (outside / f"0.{ext}").write_bytes(b"outside x dir")
    (out / "1").mkdir(parents=True)
    (out / "1" / "0").symlink_to(outside, target_is_directory=True)
    (out / "1" / "1").mkdir()
    (tmp_path / "linked").write_bytes(b"hard linked")
    os.link(tmp_path / "linked", out / "1" / "1" / f"0.{ext}")

    new = _noise(7, _KEYS)
    write_tiles(_frame(spark, new), str(out), format=format)
    write_tiles(_frame(spark, new), str(fresh), format=format)
    assert (outside / f"0.{ext}").read_bytes() == b"outside x dir"
    assert (tmp_path / "linked").read_bytes() == b"hard linked"
    assert not (out / "1" / "0").is_symlink()
    assert _tree(out) == _tree(fresh)


@pytest.mark.parametrize("format", ["png", "jpeg", "gtiff"])
def test_file_sink_refuses_a_file_path_before_any_job(spark, tmp_path,
                                                      format):
    """A regular file where the pyramid belongs is refused on the
    driver, naming the path, before a job runs (it used to survive a
    silent rmtree and kill the write job in a worker)."""
    from gdal_spark.operators.tiling import write_tiles

    target = tmp_path / "not_a_dir"
    target.write_bytes(b"x")
    tiles = _frame(spark, _noise(8, _KEYS[:1]))
    for mode in ("overwrite", "append"):
        def refused():
            with pytest.raises(ValueError, match="not_a_dir"):
                write_tiles(tiles, str(target), format=format, mode=mode)
        assert _jobs_run(spark, refused) == []
    assert target.read_bytes() == b"x"


def test_png_sink_runs_one_job_fewer_than_a_count(spark, tmp_path):
    """The write job collects its rows instead of counting them: one
    job fewer than the same encode kernel behind ``.count()``, and the
    driver-side prune runs none (a rewrite that prunes runs as many
    jobs as a write to a fresh path)."""
    from gdal_spark.operators.tiling import tile_blob_frame, write_tiles

    tiles = _frame(spark, _noise(9, _KEYS))
    out = tmp_path / "pyr"
    write_tiles(_frame(spark, _noise(10, _KEYS + [(2, 0, 0)])), str(out),
                format="png")
    counted = _jobs_run(spark, lambda: tile_blob_frame(tiles).count())
    pruning = _jobs_run(spark, lambda: write_tiles(tiles, str(out),
                                                   format="png"))
    fresh = _jobs_run(spark, lambda: write_tiles(
        tiles, str(tmp_path / "fresh"), format="png"))
    assert not (out / "2").exists()
    assert len(pruning) == len(counted) - 1
    assert len(pruning) == len(fresh)
