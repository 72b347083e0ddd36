"""Hilbert-curve codes — the spatial-locality sort key.

Vectorized numpy port of ``GDALHilbertCode``
(``/root/reference/alg/hilbert.cpp:19-90``, itself from the public-domain
rawrunprotected/hilbert_curves bit tricks): 16-bit x/y -> 32-bit Hilbert
index. Used by ``gdal vector sort --strategy hilbert``
(``apps/gdalalg_vector_sort.cpp:40,302-375``) to lay features out with
spatial locality — our analog is ``repartitionByRange(hilbert_code)``
(SURVEY §2.H), the layout that makes Iceberg/parquet min-max metrics prune
spatial queries.
"""

from __future__ import annotations

import numpy as np

HILBERT_MAX = (1 << 16) - 2  # reference reserves the max for null geoms


def hilbert_code_xy(x, y):
    """Exact port: uint32 Hilbert index of 16-bit (x, y). Vectorized.

    Test-only: the numpy reference that ``with_hilbert_code`` (the native
    Spark form the queries use) is checked against."""
    x = np.asarray(x, dtype=np.uint32)
    y = np.asarray(y, dtype=np.uint32)
    M = np.uint32(0xFFFF)

    a = x ^ y
    b = M ^ a
    c = M ^ (x | y)
    d = x & (y ^ M)

    A = a | (b >> 1)
    B = (a >> 1) ^ a
    C = ((c >> 1) ^ (b & (d >> 1))) ^ c
    D = ((a & (c >> 1)) ^ (d >> 1)) ^ d

    a, b, c, d = A, B, C, D
    A = (a & (a >> 2)) ^ (b & (b >> 2))
    B = (a & (b >> 2)) ^ (b & ((a ^ b) >> 2))
    C = C ^ ((a & (c >> 2)) ^ (b & (d >> 2)))
    D = D ^ ((b & (c >> 2)) ^ ((a ^ b) & (d >> 2)))

    a, b, c, d = A, B, C, D
    A = (a & (a >> 4)) ^ (b & (b >> 4))
    B = (a & (b >> 4)) ^ (b & ((a ^ b) >> 4))
    C = C ^ ((a & (c >> 4)) ^ (b & (d >> 4)))
    D = D ^ ((b & (c >> 4)) ^ ((a ^ b) & (d >> 4)))

    a, b, c, d = A, B, C, D
    C = C ^ ((a & (c >> 8)) ^ (b & (d >> 8)))
    D = D ^ ((b & (c >> 8)) ^ ((a ^ b) & (d >> 8)))

    a = C ^ (C >> 1)
    b = D ^ (D >> 1)

    i0 = x ^ y
    i1 = b | (M ^ (i0 | a))

    def spread(v):
        v = (v | (v << 8)) & np.uint32(0x00FF00FF)
        v = (v | (v << 4)) & np.uint32(0x0F0F0F0F)
        v = (v | (v << 2)) & np.uint32(0x33333333)
        v = (v | (v << 1)) & np.uint32(0x55555555)
        return v

    return (spread(i1) << 1) | spread(i0)


def hilbert_code(lon, lat, xmin=-180.0, ymin=-90.0, xmax=180.0, ymax=90.0):
    """lon/lat -> Hilbert index over a domain envelope, matching the
    reference's round-to-grid quantization (hilbert.cpp:80-93).

    Test-only: the numpy reference for the Hilbert code properties and
    the layout test."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.rint(HILBERT_MAX * (lon - xmin) / (xmax - xmin)).astype(np.uint32)
    y = np.rint(HILBERT_MAX * (lat - ymin) / (ymax - ymin)).astype(np.uint32)
    return hilbert_code_xy(x, y)


def with_hilbert_code(df, xcol: str, ycol: str, out: str = "hcode"):
    """NATIVE Spark transliteration of ``hilbert_code_xy`` — the
    GDALHilbertCode bit cascade as pure JVM integer expressions
    (whole-stage codegen; zero Python in the sort path).

    STAGED projections, one select per cascade level (mirroring the
    DuckDB CTE oracle): composing the whole cascade as one nested
    Column expression duplicates the a/b/c/d subtrees at every level —
    an exponentially-sized expression tree that took Catalyst ~20 s to
    chew at sf0.1. Named intermediate columns keep the tree linear;
    Catalyst collapses the selects into one codegen'd Project.

    ``xcol``/``ycol`` must be BIGINT 16-bit grid coords; all
    intermediates stay < 2^32 so no unsigned emulation is needed.
    Returns df + the ``out`` column (intermediates dropped)."""
    from pyspark.sql import functions as F

    keep = list(df.columns)
    M = F.lit(0xFFFF)
    x, y = F.col(xcol), F.col(ycol)

    def sr(c, n):
        return F.shiftright(F.col(c), n)

    d0 = df.select(
        *keep,
        x.bitwiseXOR(y).alias("_a"),
        M.bitwiseXOR(x.bitwiseXOR(y)).alias("_b"),
        M.bitwiseXOR(x.bitwiseOR(y)).alias("_c"),
        x.bitwiseAND(y.bitwiseXOR(M)).alias("_d"),
    )
    d1 = d0.select(
        *keep,
        F.col("_a").bitwiseOR(sr("_b", 1)).alias("_a"),
        sr("_a", 1).bitwiseXOR(F.col("_a")).alias("_b"),
        sr("_c", 1).bitwiseXOR(F.col("_b").bitwiseAND(sr("_d", 1)))
        .bitwiseXOR(F.col("_c")).alias("_c"),
        F.col("_a").bitwiseAND(sr("_c", 1)).bitwiseXOR(sr("_d", 1))
        .bitwiseXOR(F.col("_d")).alias("_d"),
    )

    def level(dprev, n):
        ab = F.col("_a").bitwiseXOR(F.col("_b"))
        return dprev.select(
            *keep,
            F.col("_a").bitwiseAND(sr("_a", n))
            .bitwiseXOR(F.col("_b").bitwiseAND(sr("_b", n))).alias("_a"),
            F.col("_a").bitwiseAND(sr("_b", n))
            .bitwiseXOR(F.col("_b").bitwiseAND(
                F.shiftright(ab, n))).alias("_b"),
            F.col("_c").bitwiseXOR(
                F.col("_a").bitwiseAND(sr("_c", n))
                .bitwiseXOR(F.col("_b").bitwiseAND(sr("_d", n))))
            .alias("_c"),
            F.col("_d").bitwiseXOR(
                F.col("_b").bitwiseAND(sr("_c", n))
                .bitwiseXOR(ab.bitwiseAND(sr("_d", n)))).alias("_d"),
        )

    d2 = level(d1, 2)
    d3 = level(d2, 4)
    d4 = d3.select(
        *keep,
        F.col("_c").bitwiseXOR(
            F.col("_a").bitwiseAND(sr("_c", 8))
            .bitwiseXOR(F.col("_b").bitwiseAND(sr("_d", 8)))).alias("_c"),
        F.col("_d").bitwiseXOR(
            F.col("_b").bitwiseAND(sr("_c", 8))
            .bitwiseXOR(F.col("_a").bitwiseXOR(F.col("_b"))
                        .bitwiseAND(sr("_d", 8)))).alias("_d"),
    )
    d5 = d4.select(
        *keep,
        F.col(xcol).bitwiseXOR(F.col(ycol)).alias("_i0"),
        F.col("_c").bitwiseXOR(sr("_c", 1)).alias("_af"),
        F.col("_d").bitwiseXOR(sr("_d", 1)).alias("_bf"),
    )
    d6 = d5.select(
        *keep, "_i0",
        F.col("_bf").bitwiseOR(
            M.bitwiseXOR(F.col("_i0").bitwiseOR(F.col("_af"))))
        .alias("_i1"),
    )

    def spread_step(dprev, cols, shift, mask):
        return dprev.select(
            *keep,
            *[F.col(c).bitwiseOR(F.shiftleft(F.col(c), shift))
              .bitwiseAND(F.lit(mask)).alias(c) for c in cols],
        )

    p = d6.select(*keep, F.col("_i0").alias("_u"), F.col("_i1").alias("_v"))
    p = spread_step(p, ["_u", "_v"], 8, 0x00FF00FF)
    p = spread_step(p, ["_u", "_v"], 4, 0x0F0F0F0F)
    p = spread_step(p, ["_u", "_v"], 2, 0x33333333)
    p = spread_step(p, ["_u", "_v"], 1, 0x55555555)
    return p.select(
        *keep,
        F.shiftleft(F.col("_v"), 1).bitwiseOR(F.col("_u")).alias(out),
    )
