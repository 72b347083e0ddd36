"""Coordinate transform tier beyond the mercator closed forms.

SURVEY §2.K names "PROJ-style affine + datum transforms" as v1 scope
(``/root/reference/ogr/ogrct.cpp:2359`` delegates to PROJ; these are the
closed-form members of that chain):

- generic 2-D affine (6 parameters — the GDALGeoTransform shape,
  ``gcore/gdal_geotransform.h:150``);
- 7-parameter Helmert datum shift (position-vector convention, the
  EPSG:9606 method PROJ applies for classic datum transforms) over
  WGS84-ellipsoid geodetic<->ECEF conversions.

All functions are vectorized numpy over coordinate arrays — the
``mapInArrow`` kernel contract of SURVEY §3.3.
"""

from __future__ import annotations

import numpy as np

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563


def affine2d(x, y, gt):
    """6-parameter affine (GDALGeoTransform.Apply order): returns
    (gt[0] + x*gt[1] + y*gt[2], gt[3] + x*gt[4] + y*gt[5]).

    Test-only: the numpy reference of the transform helpers; the affine
    round-trip property test pins it."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return (gt[0] + x * gt[1] + y * gt[2],
            gt[3] + x * gt[4] + y * gt[5])


def affine2d_inverse(gt):
    """Inverse 6-parameter affine (GDALInvGeoTransform semantics).

    Test-only: the inverse in the affine round-trip property test."""
    det = gt[1] * gt[5] - gt[2] * gt[4]
    if det == 0:
        raise ValueError("singular affine")
    inv1 = gt[5] / det
    inv2 = -gt[2] / det
    inv4 = -gt[4] / det
    inv5 = gt[1] / det
    inv0 = -(inv1 * gt[0] + inv2 * gt[3])
    inv3 = -(inv4 * gt[0] + inv5 * gt[3])
    return (inv0, inv1, inv2, inv3, inv4, inv5)


def geodetic_to_ecef(lon, lat, h=0.0, a=WGS84_A, f=WGS84_F):
    """Geodetic (degrees) -> ECEF meters on an ellipsoid.

    Test-only: the numpy reference of the datum-shift chain; the ECEF
    round-trip property test pins it."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    e2 = f * (2.0 - f)
    sin_lat = np.sin(lat)
    n = a / np.sqrt(1.0 - e2 * sin_lat * sin_lat)
    x = (n + h) * np.cos(lat) * np.cos(lon)
    y = (n + h) * np.cos(lat) * np.sin(lon)
    z = (n * (1.0 - e2) + h) * sin_lat
    return x, y, z


def ecef_to_geodetic(x, y, z, a=WGS84_A, f=WGS84_F, iters=6):
    """ECEF meters -> geodetic degrees + height (fixed-point iteration on
    latitude; 6 rounds is < 1e-11 deg for near-surface points).

    Test-only: the inverse in the ECEF round-trip property test."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    e2 = f * (2.0 - f)
    lon = np.arctan2(y, x)
    p = np.hypot(x, y)
    lat = np.arctan2(z, p * (1.0 - e2))
    h = np.zeros_like(p)
    for _ in range(iters):
        sin_lat = np.sin(lat)
        n = a / np.sqrt(1.0 - e2 * sin_lat * sin_lat)
        h = p / np.cos(lat) - n
        lat = np.arctan2(z, p * (1.0 - e2 * n / (n + h)))
    return np.degrees(lon), np.degrees(lat), h


def helmert7(x, y, z, dx, dy, dz, rx_as, ry_as, rz_as, s_ppm):
    """7-parameter Helmert, position-vector convention (EPSG:9606):
    rotations in ARC-SECONDS, scale in PPM — the published parameter
    units. Small-angle linearized form (what PROJ uses for the classic
    transform method).

    Test-only: the numpy reference of the Helmert step; the known-shift
    and identity tests pin it."""
    to_rad = np.pi / (180.0 * 3600.0)
    rx, ry, rz = rx_as * to_rad, ry_as * to_rad, rz_as * to_rad
    m = 1.0 + s_ppm * 1e-6
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    x2 = dx + m * (x - rz * y + ry * z)
    y2 = dy + m * (rz * x + y - rx * z)
    z2 = dz + m * (-ry * x + rx * y + z)
    return x2, y2, z2


def helmert7_inverse_params(dx, dy, dz, rx_as, ry_as, rz_as, s_ppm):
    """Linearized inverse: negate all 7 parameters (exact to the same
    small-angle order as the forward — the convention PROJ documents).

    Test-only: the inverse in the Helmert round-trip test."""
    return (-dx, -dy, -dz, -rx_as, -ry_as, -rz_as, -s_ppm)


def datum_shift(lon, lat, params7, h=0.0, a=WGS84_A, f=WGS84_F):
    """Geodetic datum shift: geodetic -> ECEF -> Helmert -> geodetic
    (same ellipsoid both sides in v1; per-datum ellipsoids plug into the
    a/f arguments).

    Test-only: the numpy reference of the whole datum-shift chain,
    pinned by the Helmert known-shift and identity tests."""
    x, y, z = geodetic_to_ecef(lon, lat, h, a, f)
    x2, y2, z2 = helmert7(x, y, z, *params7)
    return ecef_to_geodetic(x2, y2, z2, a, f)
