"""Tiling engine: point-density rasterization onto the XYZ pyramid.

The Spark-native re-expression of ``gdal raster tile`` + rasterize
(``/root/reference/apps/gdalalg_raster_tile.cpp``,
``/root/reference/alg/gdalrasterize.cpp`` MERGE_ALG=ADD point burning,
``alg/llrasterize.cpp:407`` point path) and the overview pyramid loop
(``/root/reference/gcore/overview.cpp`` AVERAGE dispatch):

- **tile counts**: one native groupBy per zoom — partial (map-side)
  aggregation makes the shuffle carry at most one row per non-empty tile,
  regardless of input size;
- **pyramid**: per-level parent aggregation: parent gx = floor(gx/2) — a
  chain of tiny shuffles over tile rows, never over pages;
- **pixel burn**: ``groupBy(tile).applyInPandas`` assembling the 256x256
  uint32/float64 count grid per tile with ``np.add.at`` (additive burn =
  MERGE_ALG=ADD), emitting packed-binary pixels + the ported
  GDALChecksumImage value per tile.

Pixel coordinates reuse the exact gdal2tiles global-pixel math: the pixel
row/col inside a tile is the global pixel index minus the tile origin.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions import sqlgen as G
from ..sources.raster import TILE, parse_tile, tile_row


def tile_counts(pages: DataFrame, zoom: int) -> DataFrame:
    """Pages per XYZ tile at a zoom: (gx, gy, cnt). Map-side combine."""
    return (
        pages.select(
            F.expr(G.tile_x_sql("lon", zoom)).alias("gx"),
            F.expr(G.tile_y_sql("lat", zoom)).alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count("*").alias("cnt"))
    )


def pyramid_counts(base: DataFrame, levels: int) -> DataFrame:
    """Overview chain: counts at zoom-1..zoom-levels from the base tile
    counts (SUM reduction — counts aggregate additively; AVERAGE applies
    to pixel payloads, see reduce_tiles_average). Returns a union with a
    ``dz`` column = levels above base (0 = base)."""
    out = base.withColumn("dz", F.lit(0))
    cur = base
    for i in range(1, levels + 1):
        cur = (
            cur.select(
                F.expr("CAST(FLOOR(gx / CAST(2.0 AS DOUBLE)) AS BIGINT)").alias("gx"),
                F.expr("CAST(FLOOR(gy / CAST(2.0 AS DOUBLE)) AS BIGINT)").alias("gy"),
                "cnt",
            )
            .groupBy("gx", "gy")
            .agg(F.sum("cnt").alias("cnt"))
        )
        out = out.unionByName(cur.withColumn("dz", F.lit(i)))
    return out


_BURN_SCHEMA = T.StructType(
    [
        T.StructField("zoom", T.IntegerType()),
        T.StructField("gx", T.LongType()),
        T.StructField("gy", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("pixels", T.BinaryType()),
        T.StructField("checksum", T.IntegerType()),
        T.StructField("n_points", T.LongType()),
    ]
)


def with_global_pixels(pages: DataFrame, zoom: int) -> DataFrame:
    """Attach global pixel indices at a zoom (native SQL; the SQL twin of
    mercator.meters_to_pixels floored to ints).

    gpx = floor((lon+180)/360 * n * 256); gpy (top-left origin) =
    floor((1 - merc/pi)/2 * n * 256), both clamped to the global raster.
    """
    n = 1 << zoom
    world = n * TILE
    qx = f"((lon + 180.0) / 360.0 * {world})"
    qy = f"((1.0 - {G.merc_y_sql('lat')} / PI()) / 2.0 * {world})"
    return pages.withColumn(
        "gpx",
        F.expr(f"LEAST({world - 1}, GREATEST(0, CAST(FLOOR({qx}) AS BIGINT)))"),
    ).withColumn(
        "gpy",
        F.expr(f"LEAST({world - 1}, GREATEST(0, CAST(FLOOR({qy}) AS BIGINT)))"),
    )


def burn_point_tiles(pages: DataFrame, zoom: int) -> DataFrame:
    """Rasterize point counts into 256x256 tiles (additive burn).

    Returns one row per non-empty tile with packed float64 pixels and the
    GDAL checksum of the count grid. Group key = (tile) so each task builds
    exactly one tile — chunking ≙ partitioning (gdalwarpoperation.cpp
    design note, :126-146)."""
    px = with_global_pixels(pages, zoom)
    cells = (
        px.select(
            F.expr(f"CAST(FLOOR(gpx / CAST({TILE} AS DOUBLE)) AS BIGINT)").alias("gx"),
            F.expr(f"CAST(FLOOR(gpy / CAST({TILE} AS DOUBLE)) AS BIGINT)").alias("gy"),
            (F.col("gpx") % TILE).alias("ppx"),
            (F.col("gpy") % TILE).alias("ppy"),
        )
        # pre-aggregate per pixel natively: the shuffle carries at most
        # 65536 rows per tile, not one row per page
        .groupBy("gx", "gy", "ppx", "ppy")
        .agg(F.count("*").alias("cnt"))
    )

    def burn(pdf):
        import pandas as pd

        gx = int(pdf["gx"].iloc[0])
        gy = int(pdf["gy"].iloc[0])
        grid = np.zeros((TILE, TILE), dtype=np.float64)
        np.add.at(
            grid,
            (pdf["ppy"].to_numpy(np.int64), pdf["ppx"].to_numpy(np.int64)),
            pdf["cnt"].to_numpy(np.float64),
        )
        return pd.DataFrame([tile_row(grid, zoom=zoom, gx=gx, gy=gy,
                                      n_points=int(pdf["cnt"].sum()))])

    return cells.groupBy("gx", "gy").applyInPandas(burn, _BURN_SCHEMA)


def reduce_tiles_average(tiles: DataFrame) -> DataFrame:
    """One pyramid step on pixel tiles: each parent tile = 2x2 children,
    each child average_2x2-reduced into its 128x128 quadrant
    (overview.cpp AVERAGE semantics). Missing children = zero fill."""
    from ..kernels import resample as R

    def reduce(pdf):
        import pandas as pd

        pgx = int(pdf["pgx"].iloc[0])
        pgy = int(pdf["pgy"].iloc[0])
        zoom = int(pdf["zoom"].iloc[0]) - 1
        grid = np.zeros((TILE, TILE), dtype=np.float64)
        total = 0
        for _, row in pdf.iterrows():
            child = parse_tile(row)
            qx = (int(row["gx"]) % 2) * (TILE // 2)
            qy = (int(row["gy"]) % 2) * (TILE // 2)
            grid[qy : qy + TILE // 2, qx : qx + TILE // 2] = R.average_2x2(child)
            total += int(row["n_points"])
        return pd.DataFrame([tile_row(grid, zoom=zoom, gx=pgx, gy=pgy,
                                      n_points=total)])

    parents = tiles.withColumn(
        "pgx", F.expr("CAST(FLOOR(gx / CAST(2.0 AS DOUBLE)) AS BIGINT)")
    ).withColumn("pgy", F.expr("CAST(FLOOR(gy / CAST(2.0 AS DOUBLE)) AS BIGINT)"))
    return parents.groupBy("pgx", "pgy").applyInPandas(reduce, _BURN_SCHEMA)


def explode_tile_pixels(tiles: DataFrame, nonzero_only=True) -> DataFrame:
    """Tiles -> (zoom, gx, gy, ppx, ppy, value) pixel rows — the bridge to
    SQL-oracle comparison and to vector-side ops. mapInPandas keeps it
    Arrow-batched."""
    out_schema = T.StructType(
        [
            T.StructField("zoom", T.IntegerType()),
            T.StructField("gx", T.LongType()),
            T.StructField("gy", T.LongType()),
            T.StructField("ppx", T.IntegerType()),
            T.StructField("ppy", T.IntegerType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                grid = parse_tile(row)
                if nonzero_only:
                    ys, xs = np.nonzero(grid)
                else:
                    ys, xs = np.indices(grid.shape).reshape(2, -1)
                outs.append(
                    pd.DataFrame(
                        {
                            "zoom": row["zoom"],
                            "gx": row["gx"],
                            "gy": row["gy"],
                            "ppx": xs.astype(np.int32),
                            "ppy": ys.astype(np.int32),
                            "value": grid[ys, xs],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)

    return tiles.mapInPandas(gen, out_schema)


def hex_counts(pages: DataFrame, size: float = 3.0) -> DataFrame:
    """Hexagonal cell density (the H3-style index of the north star,
    over the lon/lat plane): axial pointy-top hex binning with exact
    cube-rounding, one partial-aggregated groupBy on the skinny
    (hq, hr) key. The hex math is generated once in functions/sqlgen
    and shared verbatim with the DuckDB oracle — bit-identical doubles,
    no transcendentals."""
    from ..functions import sqlgen as G

    qf = pages.withColumn(
        "qf", F.expr(G.hex_qf_sql("lon", "lat", size))
    ).withColumn("rf", F.expr(G.hex_rf_sql("lat", size)))
    return (
        qf.select(
            F.expr(G.hex_q_sql("qf", "rf")).alias("hq"),
            F.expr(G.hex_r_sql("qf", "rf")).alias("hr"),
        )
        .groupBy("hq", "hr")
        .agg(F.count("*").alias("cnt"))
    )


def hex_raster_rollup(tiles: DataFrame, zoom: int,
                      size: float = 3.0) -> DataFrame:
    """Raster -> hex-cell aggregation (the raster↔vector rollup on the
    H3-style index): every pixel center maps to lon/lat (linear x,
    inverse-mercator y) and cube-rounds into its hex cell; per cell the
    pixel count and value sum/mean. Pixel values here are integral, so
    the sums are exact in any shuffle order. One partial-aggregated
    groupBy on (hq, hr); pixels never shuffle raw — only per-partition
    (cell, partial) rows do."""
    from ..functions import sqlgen as G
    from .raster_ops import explode_pixels

    px = explode_pixels(tiles)
    ll = px.withColumn(
        "lon", F.expr(G.px_lon_sql("gpx", zoom))
    ).withColumn("lat", F.expr(G.px_lat_sql("gpy", zoom)))
    ax = ll.withColumn(
        "qf", F.expr(G.hex_qf_sql("lon", "lat", size))
    ).withColumn("rf", F.expr(G.hex_rf_sql("lat", size)))
    return (
        ax.select(
            F.expr(G.hex_q_sql("qf", "rf")).alias("hq"),
            F.expr(G.hex_r_sql("qf", "rf")).alias("hr"),
            "value",
        )
        .groupBy("hq", "hr")
        .agg(
            F.count("*").alias("n_px"),
            F.sum("value").alias("val_sum"),
            (F.sum("value") / F.count("*")).alias("val_mean"),
        )
    )


# --- PNG tile serving (gdal raster tile output stage) --------------------

PNG_SCHEMA = T.StructType([
    T.StructField("zoom", T.IntegerType()),
    T.StructField("gx", T.LongType()),
    T.StructField("gy", T.LongType()),
    T.StructField("png", T.BinaryType()),
])


def encode_png_tiles(tiles: DataFrame, rgb: bool = False,
                     palette=None, band=None) -> DataFrame:
    """Encode packed-binary tile rows as PNG bytes — the byte-emitting
    half of ``gdal raster tile`` (apps/gdalalg_raster_tile.cpp; PNG
    driver frmts/png/). MAP-ONLY at any scale: greyscale encodes one
    row per tile with zero shuffle; RGB(A) co-groups a tile's band rows
    (one skinny shuffle keyed on the tile id, group size = band count).
    zlib parameters are pinned (kernels/png.py) so output bytes are
    deterministic and golden-checksummable. ``palette`` (a broadcast-
    small [(r, g, b), ...] list, e.g. from rgb_to_palette_tiles) makes
    single-band index tiles encode as type-3 paletted PNGs with a PLTE
    chunk — the reference's color-table tile output."""
    from ..kernels import png as PNG
    from ..sources.raster import parse_tile

    if not rgb:
        # Greyscale encodes one PNG per ROW: a multi-band input would
        # silently emit several PNGs at the same {z}/{x}/{y} path
        # (last-writer-wins). Parameterize with ``band`` or prove the
        # input single-band up front (one skinny column scan).
        if "band" in tiles.columns:
            if band is not None:
                tiles = tiles.filter(F.col("band") == band)
            else:
                nb = tiles.select("band").distinct().limit(2).count()
                if nb > 1:
                    raise ValueError(
                        "encode_png_tiles(rgb=False) on a multi-band "
                        "input: pass band=<n> (one PNG per tile path) "
                        "or rgb=True"
                    )

        def enc(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                for _, row in pdf.iterrows():
                    arr = parse_tile(row).astype(np.uint8)
                    data = (PNG.encode_png_palette(arr, palette)
                            if palette is not None else
                            PNG.encode_png(arr))
                    out.append({"zoom": int(row["zoom"]),
                                "gx": int(row["gx"]), "gy": int(row["gy"]),
                                "png": data})
                yield pd.DataFrame(out)

        return tiles.mapInPandas(enc, PNG_SCHEMA)

    def enc_rgb(pdf):
        import pandas as pd

        pdf = pdf.sort_values("band")
        arrs = [parse_tile(row).astype(np.uint8)
                for _, row in pdf.iterrows()]
        stack = np.dstack(arrs)
        row0 = pdf.iloc[0]
        return pd.DataFrame([{
            "zoom": int(row0["zoom"]),
            "gx": int(row0["gx"]), "gy": int(row0["gy"]),
            "png": PNG.encode_png(stack)}])

    return tiles.groupBy("zoom", "gx", "gy").applyInPandas(
        enc_rgb, PNG_SCHEMA)


GTIFF_SCHEMA = T.StructType([
    T.StructField("zoom", T.IntegerType()),
    T.StructField("gx", T.LongType()),
    T.StructField("gy", T.LongType()),
    T.StructField("tif", T.BinaryType()),
])


def encode_gtiff_tiles(tiles: DataFrame, compression: str = "lzw",
                       rows_per_strip: int = 64, band=None,
                       rgb: bool = False) -> DataFrame:
    """Encode packed-binary tile rows as striped GeoTIFF bytes — the
    GIS-interchange half of ``gdal raster tile`` output
    (frmts/gtiff/; apps/gdalalg_raster_tile.cpp GTiff/COG default),
    alongside the map-client PNG path. MAP-ONLY at any scale (one row
    per single-band tile, zero shuffle); each file carries the
    EPSG:3857 GeoKeyDirectory + per-tile pixel scale/tiepoint
    (kernels/gtiff.py). Layout and LZW output are deterministic, so
    bytes are golden-checksummable. uint8/int16/float32 bands."""
    from ..kernels import gtiff as GT
    from ..sources.raster import parse_tile

    if rgb:
        # co-group a tile's band rows (one skinny tile-key Exchange,
        # same shape as the PNG RGB path) and write ONE interleaved
        # RGB(A) GeoTIFF per tile (PhotometricInterpretation=2)
        def enc_rgb(pdf):
            import pandas as pd

            pdf = pdf.sort_values("band")
            arrs = [parse_tile(row) for _, row in pdf.iterrows()]
            stack = np.dstack(arrs)
            row0 = pdf.iloc[0]
            data = GT.encode_gtiff(
                stack, compression, rows_per_strip,
                zoom=int(row0["zoom"]), gx=int(row0["gx"]),
                gy=int(row0["gy"]))
            return pd.DataFrame([{
                "zoom": int(row0["zoom"]),
                "gx": int(row0["gx"]), "gy": int(row0["gy"]),
                "tif": data}])

        return tiles.groupBy("zoom", "gx", "gy").applyInPandas(
            enc_rgb, GTIFF_SCHEMA)

    if "band" in tiles.columns:
        if band is not None:
            tiles = tiles.filter(F.col("band") == band)
        else:
            nb = tiles.select("band").distinct().limit(2).count()
            if nb > 1:
                raise ValueError(
                    "encode_gtiff_tiles on a multi-band input: pass "
                    "band=<n> (one file per tile path)")

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                arr = parse_tile(row)
                data = GT.encode_gtiff(
                    arr, compression, rows_per_strip,
                    zoom=int(row["zoom"]), gx=int(row["gx"]),
                    gy=int(row["gy"]))
                out.append({"zoom": int(row["zoom"]),
                            "gx": int(row["gx"]), "gy": int(row["gy"]),
                            "tif": data})
            yield pd.DataFrame(out)

    return tiles.mapInPandas(enc, GTIFF_SCHEMA)


def write_gtiff_pyramid(tif_df: DataFrame, out_dir: str,
                        convention: str = "xyz") -> None:
    """Write encoded GeoTIFF tiles to the ``{z}/{x}/{y}.tif`` pyramid
    layout (same GetFileY convention as the PNG sink)."""
    flip = convention == "tms"

    def write_part(rows):
        import os

        for r in rows:
            y = ((1 << r["zoom"]) - 1 - r["gy"]) if flip else r["gy"]
            d = os.path.join(out_dir, str(r["zoom"]), str(r["gx"]))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{y}.tif"), "wb") as f:
                f.write(bytes(r["tif"]))

    tif_df.foreachPartition(write_part)


COG_SCHEMA = T.StructType([
    T.StructField("zoom", T.IntegerType()),
    T.StructField("gx", T.LongType()),
    T.StructField("gy", T.LongType()),
    T.StructField("cog", T.BinaryType()),
])


def encode_cog_tiles(tiles: DataFrame, overviews: int = 2,
                     compression: str = "lzw", band=None) -> DataFrame:
    """Encode each tile as a Cloud-Optimized GeoTIFF: tiled layout,
    ``overviews`` AVERAGE-reduced pyramid levels in the IFD chain
    (overview.cpp AVERAGE semantics via kernels/resample.average_2x2),
    directory up front, tile data last (frmts/gtiff/cogdriver.cpp
    layout contract; codec kernels/gtiff.encode_cog). MAP-ONLY: each
    COG is self-contained, so the pyramid reduction is task-local per
    tile — zero shuffle at any scale."""
    from ..kernels import gtiff as GT
    from ..kernels import resample as RSMP
    from ..sources.raster import parse_tile

    if "band" in tiles.columns:
        if band is not None:
            tiles = tiles.filter(F.col("band") == band)
        else:
            nb = tiles.select("band").distinct().limit(2).count()
            if nb > 1:
                raise ValueError(
                    "encode_cog_tiles on a multi-band input: pass "
                    "band=<n>")

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                arr = parse_tile(row)
                levels = [arr]
                cur = arr
                for _ in range(int(overviews)):
                    if min(cur.shape) < 2 or cur.shape[0] % 2 or \
                            cur.shape[1] % 2:
                        break
                    cur = RSMP.average_2x2(
                        cur.astype(np.float64)).astype(arr.dtype)
                    levels.append(cur)
                data = GT.encode_cog(
                    levels, compression,
                    zoom=int(row["zoom"]), gx=int(row["gx"]),
                    gy=int(row["gy"]))
                out.append({"zoom": int(row["zoom"]),
                            "gx": int(row["gx"]), "gy": int(row["gy"]),
                            "cog": data})
            yield pd.DataFrame(out)

    return tiles.mapInPandas(enc, COG_SCHEMA)


def write_png_pyramid(png_df: DataFrame, out_dir: str,
                      convention: str = "xyz") -> None:
    """Write encoded tiles to the ``{z}/{x}/{y}.png`` pyramid layout
    (GetFileY, apps/gdalalg_raster_tile.cpp:509): ``xyz`` keeps the
    top-left-origin row index, ``tms`` flips it. Runs as a map-only
    foreachPartition — each executor writes its own tiles (local FS
    here; an object-store sink would PUT the same keys)."""
    flip = convention == "tms"

    def write_part(rows):
        import os

        for r in rows:
            y = ((1 << r["zoom"]) - 1 - r["gy"]) if flip else r["gy"]
            d = os.path.join(out_dir, str(r["zoom"]), str(r["gx"]))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{y}.png"), "wb") as f:
                f.write(bytes(r["png"]))

    png_df.foreachPartition(write_part)
