"""Synthetic raster tile table — the byte.tif-shaped fixture at tile scale.

FIXTURES.md §3: one row per (dataset_id, zoom, gx, gy, band) with packed
C-order pixels in a BinaryType column. The deterministic pixel generator is
``value(gpx, gpy) = (gpx*7 + gpy*11 + zoom) % 255`` over *global* pixel
coordinates — exactly reproducible by a SQL ``range()`` cross product, which
is what lets DuckDB oracles verify pixel-level raster operators without any
binary exchange.

Tiles are built in an Arrow-batched ``mapInPandas`` over a tiny tile-key
DataFrame — the per-tile numpy generation is the same shape as every other
raster kernel stage (the GDAL block ≙ packed-binary row mapping, SURVEY
§1.1).

``tile_row`` and ``parse_tile`` are the only codec of that row format:
every operator that emits a tile builds it with ``tile_row`` (which alone
writes ``pixels``, ``checksum``, ``width``, ``height`` and ``dtype``), and
every reader of a ``pixels`` column decodes it with ``parse_tile``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..kernels import checksum as CK

TILE = 256


def key_range(spark: SparkSession, n_rows: int):
    """``spark.range(n_rows)`` with the partition count matched to the
    row count: a tile-key table of a few rows must not fan out to
    ``defaultParallelism`` mostly-EMPTY partitions — every empty
    partition still launches a task and a Python-worker round trip in
    the mapInPandas generator it feeds (~10 ms each, measured). At
    z12+ the key count exceeds the parallelism and this degenerates to
    the default behavior, so the source stays scale-adaptive."""
    dp = spark.sparkContext.defaultParallelism
    return spark.range(0, n_rows, 1, max(1, min(dp, int(n_rows))))


TILE_SCHEMA = T.StructType(
    [
        T.StructField("dataset_id", T.StringType()),
        T.StructField("zoom", T.IntegerType()),
        T.StructField("gx", T.LongType()),
        T.StructField("gy", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("nodata", T.DoubleType()),
        T.StructField("crs", T.StringType()),
        T.StructField("pixels", T.BinaryType()),
        T.StructField("checksum", T.IntegerType()),
    ]
)

_KEY_COLUMNS = ("dataset_id", "zoom", "gx", "gy", "band", "nodata", "crs")


def tile_row(arr: np.ndarray, like=None, **fields) -> dict:
    """Encode a 2-D array as one tile row. ``pixels`` (C-order bytes),
    ``checksum`` (GDALChecksumImage), ``width``, ``height`` and ``dtype``
    all derive from ``arr``. The key columns come from ``like`` (a source
    row: pandas Series, Row or dict) and are overridden by ``fields``;
    other fields (``_ox0``/``_oy0``, ``n_points``) pass through after the
    TILE_SCHEMA columns, which keep their schema order."""
    cols = {} if like is None else {
        k: like[k] for k in _KEY_COLUMNS if k not in fields}
    cols.update(fields)
    cols.update(width=arr.shape[1], height=arr.shape[0], dtype=str(arr.dtype),
                pixels=arr.tobytes(), checksum=CK.checksum_image(arr))
    head = {k: cols.pop(k) for k in TILE_SCHEMA.names if k in cols}
    return {**head, **cols}


def parse_tile(row) -> np.ndarray:
    """Unpack a tile row's pixels into a 2-D numpy array."""
    dt = np.dtype(row["dtype"])
    return np.frombuffer(bytes(row["pixels"]), dtype=dt).reshape(
        row["height"], row["width"]
    )


def synth_pixel_grid(gx: int, gy: int, zoom: int, tile=TILE,
                     coeffs=(7, 11)) -> np.ndarray:
    """The deterministic uint8 tile: (gpx*mx + gpy*my + zoom) % 255
    (default mx, my = 7, 11)."""
    mx, my = coeffs
    gpx = gx * tile + np.arange(tile)[None, :]
    gpy = gy * tile + np.arange(tile)[:, None]
    return ((gpx * mx + gpy * my + zoom) % 255).astype(np.uint8)


def synth_tiles(spark: SparkSession, zoom: int, dataset_id="synth",
                coeffs=(7, 11), nodata=None) -> DataFrame:
    """All 4^zoom tiles of the synthetic dataset at a zoom level.
    ``coeffs`` picks the generator multipliers (a second dataset for
    update/stack fixtures); ``nodata`` stamps the metadata column."""
    n = 1 << zoom
    keys = key_range(spark, n * n).select(
        (F.col("id") % n).alias("gx"), (F.col("id") / n).cast("long").alias("gy")
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for gx, gy in zip(pdf["gx"], pdf["gy"]):
                grid = synth_pixel_grid(int(gx), int(gy), zoom, coeffs=coeffs)
                rows.append(tile_row(
                    grid, dataset_id=dataset_id, zoom=zoom, gx=int(gx),
                    gy=int(gy), band=1, nodata=nodata, crs="EPSG:3857"))
            yield pd.DataFrame(rows)

    return keys.mapInPandas(gen, TILE_SCHEMA)


def synth_category_tiles(spark: SparkSession, zoom: int, block=96,
                         dataset_id="blocks") -> DataFrame:
    """Categorical fixture for polygonize: value = (gpx//block +
    gpy//block) % 3. Adjacent blocks always differ (4-connectivity), so
    every block is exactly one connected region; block=96 does NOT divide
    the 256-px tile, so regions straddle tile borders — the cross-tile
    merge is always exercised. Fully reproducible by SQL arithmetic."""
    n = 1 << zoom
    keys = key_range(spark, n * n).select(
        (F.col("id") % n).alias("gx"), (F.col("id") / n).cast("long").alias("gy")
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for gx, gy in zip(pdf["gx"], pdf["gy"]):
                gpx = int(gx) * TILE + np.arange(TILE)[None, :]
                gpy = int(gy) * TILE + np.arange(TILE)[:, None]
                grid = ((gpx // block + gpy // block) % 3).astype(np.uint8)
                rows.append(tile_row(
                    grid, dataset_id=dataset_id, zoom=zoom, gx=int(gx),
                    gy=int(gy), band=1, nodata=None, crs="EPSG:3857"))
            yield pd.DataFrame(rows)

    return keys.mapInPandas(gen, TILE_SCHEMA)


def tiles_from_grid(spark: SparkSession, grid: np.ndarray, zoom: int,
                    dataset_id="custom", nodata=None) -> DataFrame:
    """Tile table from an explicit (n*TILE)^2 numpy grid — for hand-built
    test fixtures (concave regions, sieve chains) that the generators
    can't express."""
    n = 1 << zoom
    assert grid.shape == (n * TILE, n * TILE), grid.shape
    rows = []
    for gy in range(n):
        for gx in range(n):
            sub = grid[gy * TILE:(gy + 1) * TILE, gx * TILE:(gx + 1) * TILE]
            rows.append(tile_row(
                sub, dataset_id=dataset_id, zoom=zoom, gx=gx, gy=gy, band=1,
                nodata=nodata, crs="EPSG:3857"))
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows), TILE_SCHEMA)


RGBA_CHANNELS = {
    # SQL-replicable uint8 channel generators for the blend fixtures:
    # (dataset, band) -> (gpx mult, gpy mult, offset)
    ("base", 1): (7, 3, 0), ("base", 2): (5, 13, 0),
    ("base", 3): (11, 2, 0), ("base", 4): (1, 1, 128),
    ("over", 1): (3, 17, 0), ("over", 2): (13, 7, 0),
    ("over", 3): (2, 19, 0), ("over", 4): (9, 5, 0),
}


def synth_rgba_tiles(spark: SparkSession, zoom: int,
                     dataset_id="base") -> DataFrame:
    """Deterministic RGBA fixture for the blend tier: channel value =
    (gpx*mx + gpy*my + off) % 256 with per-(dataset, band) multipliers
    from RGBA_CHANNELS (band 4 = alpha: 128 + (gpx+gpy) % 128 for the
    base so the premultiply path is exercised). Bit-replicable by SQL
    integer arithmetic."""
    n = 1 << zoom
    keys = key_range(spark, n * n).select(
        (F.col("id") % n).alias("gx"),
        (F.col("id") / n).cast("long").alias("gy"))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for gx, gy in zip(pdf["gx"], pdf["gy"]):
                gpx = int(gx) * TILE + np.arange(TILE)[None, :]
                gpy = int(gy) * TILE + np.arange(TILE)[:, None]
                for band in (1, 2, 3, 4):
                    mx, my, off = RGBA_CHANNELS[(dataset_id, band)]
                    if off:
                        grid = (off + (gpx * mx + gpy * my) % off) \
                            .astype(np.uint8)
                    else:
                        grid = ((gpx * mx + gpy * my) % 256).astype(np.uint8)
                    rows.append(tile_row(
                        grid, dataset_id=dataset_id, zoom=zoom, gx=int(gx),
                        gy=int(gy), band=band, nodata=None, crs="EPSG:3857"))
            yield pd.DataFrame(rows)

    return keys.mapInPandas(gen, TILE_SCHEMA)
