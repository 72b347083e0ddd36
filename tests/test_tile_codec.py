"""The tile row codec (sources/raster.tile_row / parse_tile) and the halo
exchange (operators/focal.halo_apply) that every raster operator shares."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from hypothesis.extra import numpy as hnp

from osgeo_gdal_spark.kernels.checksum import checksum_image
from osgeo_gdal_spark.operators.focal import halo_apply
from osgeo_gdal_spark.sources.raster import (
    TILE, TILE_SCHEMA, parse_tile, tile_row, tiles_from_grid)

KEY = {"dataset_id": "src", "zoom": 3, "gx": 5, "gy": 6, "band": 2,
       "nodata": -1.0, "crs": "EPSG:3857"}


@st.composite
def arrays(draw):
    """2-D arrays of every tile dtype, including 1xN shapes and
    non-contiguous views (strided and transposed)."""
    dtype = draw(st.sampled_from(
        ["uint8", "int16", "int32", "float32", "float64"]))
    shape = draw(st.tuples(st.integers(1, 9), st.integers(1, 9)))
    base = draw(hnp.arrays(np.dtype(dtype), shape))
    view = draw(st.sampled_from(["whole", "step", "transpose"]))
    if view == "step":
        return base[::2, ::-3]
    if view == "transpose":
        return base.T
    return base


@settings(max_examples=200, deadline=None)
@given(arr=arrays())
def test_round_trip_is_bit_exact(arr):
    row = tile_row(arr, like=KEY)
    got = parse_tile(row)
    assert got.dtype == arr.dtype and got.shape == arr.shape
    # bytes equality: bit-for-bit, NaN payloads and -0.0 included
    assert got.tobytes() == np.ascontiguousarray(arr).tobytes()
    assert row["checksum"] == checksum_image(arr)
    assert (row["width"], row["height"]) == (arr.shape[1], arr.shape[0])
    assert row["dtype"] == str(arr.dtype)


def test_key_columns_come_from_like_and_fields_override():
    arr = np.arange(6, dtype=np.uint8).reshape(2, 3)
    row = tile_row(arr, like=KEY)
    assert {k: row[k] for k in KEY} == KEY
    row = tile_row(arr, like=KEY, dataset_id="out", nodata=None, gx=9)
    assert {k: row[k] for k in KEY} == {**KEY, "dataset_id": "out",
                                        "nodata": None, "gx": 9}
    # the schema columns keep TILE_SCHEMA order; extra fields follow
    row = tile_row(arr, like=KEY, _ox0=7, _oy0=8)
    assert list(row) == TILE_SCHEMA.names + ["_ox0", "_oy0"]
    assert (row["_ox0"], row["_oy0"]) == (7, 8)


def test_like_needs_only_the_columns_fields_leave_out():
    arr = np.zeros((2, 2))
    like = {k: v for k, v in KEY.items() if k != "nodata"}
    assert tile_row(arr, like=like, nodata=0.0)["nodata"] == 0.0
    with pytest.raises(KeyError):
        tile_row(arr, like=like)
    # without like, only the given key columns are written
    row = tile_row(arr, zoom=1, gx=2, gy=3, n_points=4)
    assert list(row) == ["zoom", "gx", "gy", "width", "height", "dtype",
                         "pixels", "checksum", "n_points"]


PAD_SCHEMA = "tgx LONG, tgy LONG, zoom INT, pad BINARY"


def _pads(tiles, zoom, r):
    """{(tgx, tgy): pad} for every tile halo_apply hands to its fn."""
    def fn(tgx, tgy, zoom_v, pad):
        import pandas as pd

        return pd.DataFrame([{"tgx": tgx, "tgy": tgy, "zoom": zoom_v,
                              "pad": pad.tobytes()}])

    out = {}
    for row in halo_apply(tiles, zoom, r, fn, PAD_SCHEMA).collect():
        assert row["zoom"] == zoom
        side = TILE + 2 * r
        out[(row["tgx"], row["tgy"])] = np.frombuffer(
            row["pad"], dtype=np.float64).reshape(side, side)
    return out


def _check_against_global(pads, grid, r):
    ref = np.pad(grid, r, constant_values=np.nan)
    for (tgx, tgy), pad in pads.items():
        want = ref[tgy * TILE:(tgy + 1) * TILE + 2 * r,
                   tgx * TILE:(tgx + 1) * TILE + 2 * r]
        assert np.array_equal(pad, want, equal_nan=True), (tgx, tgy)


@pytest.mark.parametrize("r", [1, 2, 4])
@pytest.mark.parametrize("zoom", [1, 2])
def test_halo_pad_equals_global_slice(spark, zoom, r):
    n = 1 << zoom
    grid = np.random.default_rng(zoom * 10 + r).random((n * TILE, n * TILE))
    pads = _pads(tiles_from_grid(spark, grid, zoom), zoom, r)
    assert set(pads) == {(x, y) for x in range(n) for y in range(n)}
    _check_against_global(pads, grid, r)


def test_halo_of_sparse_table_is_nan_where_a_tile_is_missing(spark):
    zoom, r, gone = 1, 2, (1, 0)
    grid = np.random.default_rng(7).random((2 * TILE, 2 * TILE))
    tiles = tiles_from_grid(spark, grid, zoom).filter(
        f"NOT (gx = {gone[0]} AND gy = {gone[1]})")
    pads = _pads(tiles, zoom, r)
    # the missing tile gets no output, though its neighbors send to it
    assert set(pads) == {(0, 0), (0, 1), (1, 1)}
    holed = grid.copy()
    holed[gone[1] * TILE:(gone[1] + 1) * TILE,
          gone[0] * TILE:(gone[0] + 1) * TILE] = np.nan
    _check_against_global(pads, holed, r)
    assert np.isnan(pads[(0, 0)][r:r + TILE, r + TILE:]).all()
