"""A windowed explode is the unwindowed explode filtered to the rect.

Raster queries pass their (x0, y0, w, h) probe window to
``explode_pixels(…, window=…)`` and apply no rect filter of their own, so
the window must emit exactly the rows of the filter it replaces: across
tile seams, at the raster's edge, for a rect that misses every tile, and
over windowed (``_ox0``/``_oy0``-origin) tiles.
"""

import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.operators import raster_ops as RO
from osgeo_gdal_spark.sources import raster as RS

# zoom-1 raster: 2x2 tiles of 256 px -> global pixels [0, 512)
WINDOWS = {
    "seam": (200, 230, 100, 60),        # crosses the x and y tile seams
    "outside": (-16, 480, 48, 64),      # hangs off the west and south edges
    "disjoint": (600, 40, 16, 16),      # overlaps no tile
    "origin": (230, 240, 100, 50),      # over srcwin pieces, past their east edge
}
SRCWIN = (200, 220, 100, 80)  # 4 windowed pieces with _ox0/_oy0 origins


@pytest.fixture(scope="module")
def sources(spark):
    a = RS.synth_tiles(spark, 1)
    b = RS.synth_tiles(spark, 1, dataset_id="b", coeffs=(13, 5))
    stacked = RO.stack_tiles([a, b])  # bands 1 and 2
    return {
        (False, False): a,
        (True, False): stacked,
        (False, True): RO.translate_tiles(a, srcwin=SRCWIN),
        (True, True): RO.translate_tiles(stacked, srcwin=SRCWIN),
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("case", sorted(WINDOWS))
@pytest.mark.parametrize("banded", [False, True],
                         ids=["explode_pixels", "explode_pixels_banded"])
def test_windowed_explode_equals_filtered_explode(sources, banded, case):
    explode = RO.explode_pixels_banded if banded else RO.explode_pixels
    tiles = sources[(banded, case == "origin")]
    if case == "origin":
        assert "_ox0" in tiles.columns
    x0, y0, w, h = win = WINDOWS[case]
    want = explode(tiles).filter(
        (F.col("gpx") >= x0) & (F.col("gpx") < x0 + w)
        & (F.col("gpy") >= y0) & (F.col("gpy") < y0 + h))
    got = explode(tiles, window=win)
    assert got.columns == want.columns
    rows = _rows(got)
    assert rows == _rows(want)
    if case == "disjoint":
        assert rows == []
    else:
        assert rows, case
