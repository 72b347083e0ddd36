"""PNG tile codec and the distributed tile encode (gdal raster tile
output stage; reference frmts/png/ + apps/gdalalg_raster_tile.cpp)."""

import hashlib
import zlib

import numpy as np
import pytest

from osgeo_gdal_spark.kernels import png as PNG
from osgeo_gdal_spark.sources.raster import synth_pixel_grid

# byte-level determinism contract: pinned zlib level/strategy/wbits/
# memLevel (kernels/png.py) make the encoder's output reproducible —
# any drift in these parameters or the scanline stream breaks the gold
GOLD_GRAY_MD5 = "2424b9665afe1bf75f8ddb8585c31a0a"
GOLD_RGB_MD5 = "069aa413a218761c9e96feaaa066a762"


def test_png_gray_golden_and_roundtrip():
    arr = synth_pixel_grid(0, 0, 1)
    data = PNG.encode_png(arr)
    assert hashlib.md5(data).hexdigest() == GOLD_GRAY_MD5
    assert (PNG.decode_png(data) == arr).all()


def test_png_rgb_rgba_roundtrip():
    rgb = np.dstack([synth_pixel_grid(0, 0, 1, coeffs=c)
                     for c in ((7, 11), (13, 5), (3, 17))])
    data = PNG.encode_png(rgb)
    assert hashlib.md5(data).hexdigest() == GOLD_RGB_MD5
    assert (PNG.decode_png(data) == rgb).all()
    rgba = np.dstack([rgb, np.full(rgb.shape[:2], 200, np.uint8)])
    assert (PNG.decode_png(PNG.encode_png(rgba)) == rgba).all()


def test_png_decode_all_filter_types():
    """The decoder must handle externally produced PNGs using Sub/Up/
    Average/Paeth filters, not just our filter-0 output: hand-build a
    stream with one scanline per filter type and check reconstruction
    against a scalar transliteration of the PNG spec."""
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int16)
    lines = []
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        prior = flat[y - 1] if y else np.zeros(stride, np.int16)

        def left(x):
            return cur[x - c] if x >= c else 0

        def up_left(x):
            return prior[x - c] if x >= c else 0

        enc = np.zeros(stride, np.int16)
        for x in range(stride):
            if ft == 0:
                enc[x] = cur[x]
            elif ft == 1:
                enc[x] = cur[x] - left(x)
            elif ft == 2:
                enc[x] = cur[x] - prior[x]
            elif ft == 3:
                enc[x] = cur[x] - (left(x) + prior[x]) // 2
            else:
                a, b, cc = left(x), prior[x], up_left(x)
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else cc)
                enc[x] = cur[x] - pred
        lines.append(bytes([ft]) + (enc % 256).astype(np.uint8).tobytes())
    raw = b"".join(lines)
    import struct
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + PNG._chunk(b"IHDR", ihdr)
            + PNG._chunk(b"IDAT", zlib.compress(raw))
            + PNG._chunk(b"IEND", b""))
    assert (PNG.decode_png(data) == img).all()


def test_png_decode_rejects_corruption():
    data = bytearray(PNG.encode_png(synth_pixel_grid(0, 0, 1)))
    data[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(Exception):
        PNG.decode_png(bytes(data))
    with pytest.raises(ValueError):
        PNG.decode_png(b"nonsense")


def test_encode_png_tiles_gray_and_rgb(spark):
    """Distributed encode: gray map-only, and RGB band co-group."""
    from osgeo_gdal_spark.operators import tiling as TLL
    from osgeo_gdal_spark.sources.raster import synth_tiles

    tiles = synth_tiles(spark, 1)
    png_df = TLL.encode_png_tiles(tiles)
    rows = {(r["gx"], r["gy"]): bytes(r["png"]) for r in png_df.collect()}
    assert len(rows) == 4
    for (gx, gy), data in rows.items():
        assert (PNG.decode_png(data) == synth_pixel_grid(gx, gy, 1)).all()
    assert hashlib.md5(rows[(0, 0)]).hexdigest() == GOLD_GRAY_MD5

    # RGB: three band rows per tile co-grouped into one PNG
    b1 = synth_tiles(spark, 1, coeffs=(7, 11))
    import pyspark.sql.functions as SF
    b2 = synth_tiles(spark, 1, coeffs=(13, 5)).withColumn(
        "band", SF.lit(2))
    b3 = synth_tiles(spark, 1, coeffs=(3, 17)).withColumn(
        "band", SF.lit(3))
    rgb_df = TLL.encode_png_tiles(b1.unionByName(b2).unionByName(b3),
                                  rgb=True)
    got = {(r["gx"], r["gy"]): bytes(r["png"]) for r in rgb_df.collect()}
    exp = np.dstack([synth_pixel_grid(1, 0, 1, coeffs=c)
                     for c in ((7, 11), (13, 5), (3, 17))])
    assert (PNG.decode_png(got[(1, 0)]) == exp).all()


def test_png_roundtrip_property_sweep():
    """Derandomized property sweep: random sizes/channels/content (incl.
    1-pixel and non-square extremes) encode -> decode to identity."""
    rng = np.random.RandomState(20260817)
    for _ in range(60):
        h = int(rng.randint(1, 40))
        w = int(rng.randint(1, 40))
        ch = int(rng.choice([0, 3, 4]))
        shape = (h, w) if ch == 0 else (h, w, ch)
        arr = rng.randint(0, 256, shape).astype(np.uint8)
        assert (PNG.decode_png(PNG.encode_png(arr)) == arr).all(), shape


def test_full_tile_pyramid_png_story(spark):
    """The complete `gdal raster tile` user story: base z2 raster ->
    AVERAGE overviews down to z0 -> PNG bytes for EVERY level: 16 + 4 + 1
    tiles, each decodable and the z0 root equal to the reduced chain
    applied in numpy."""
    from osgeo_gdal_spark.kernels.resample import average_2x2
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.operators import tiling as TLL
    from osgeo_gdal_spark.sources.raster import synth_pixel_grid, synth_tiles

    base = synth_tiles(spark, 2)
    z1 = RO.pyramid_reduce(base, "average")
    z0 = RO.pyramid_reduce(z1, "average")
    # encode_png_tiles needs uint8; the average chain stays in [0, 255)
    def as_uint8(t):
        return RO.translate_tiles(t, scale=1.0, offset=0.0,
                                  out_dtype="uint8").drop("_ox0", "_oy0")

    all_levels = base.unionByName(as_uint8(z1)).unionByName(as_uint8(z0))
    pngs = {(r["zoom"], r["gx"], r["gy"]): bytes(r["png"])
            for r in TLL.encode_png_tiles(all_levels).collect()}
    assert len(pngs) == 16 + 4 + 1
    assert (0, 0, 0) in pngs and (2, 3, 3) in pngs
    for data in pngs.values():
        assert PNG.decode_png(data).shape == (256, 256)

    # the z0 root must equal the numpy reduction chain + GDALCopyWord
    got = PNG.decode_png(pngs[(0, 0, 0)])
    full = np.zeros((1024, 1024))
    for gy in range(4):
        for gx in range(4):
            full[gy*256:(gy+1)*256, gx*256:(gx+1)*256] = \
                synth_pixel_grid(gx, gy, 2)
    r1 = average_2x2(full)
    r0 = average_2x2(r1)
    exp = np.clip(np.floor(r0 + 0.5), 0, 255).astype(np.uint8)
    assert (got == exp).all()
