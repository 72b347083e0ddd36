"""osgeo_gdal_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the core query/data-processing capabilities of GDAL/OGR
(reference: OSGeo-gdal 3.14.0, surveyed in SURVEY.md) as idiomatic Spark:
DataFrame transformations + vectorized pandas/Arrow UDF kernels over tables
of Common-Crawl-style web pages geocoded to points.

Layout:
    kernels/    pure-numpy golden-matched primitives (no Spark imports)
    functions/  Spark Column expressions + pandas UDFs (ST_* library)
    sources/    deterministic table synthesis (pages, polygons, raster tiles)
    operators/  distributed operators (spatial join, kNN, tiling, dedup, ...)
    plans/      lineage/checkpointing (the stage writer)
"""

__version__ = "0.1.0"
