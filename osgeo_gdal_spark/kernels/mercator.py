"""Spherical-mercator (WebMercatorQuad / EPSG:3857) tile math.

Port of the reference formulas in
``/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py``
class ``GlobalMercator`` (lines 415-533): ``LatLonToMeters:423``,
``MetersToLatLon:433``, ``PixelsToMeters:446``, ``MetersToPixels:453``,
``PixelsToTile:461`` (the ``ceil(p/256)-1`` convention), ``TileBounds:480``,
``Resolution:498`` (``2*pi*6378137/256/2**z``), ``GoogleTile:512`` (y flip),
``QuadTree:518`` (quadkey digits).

All functions are vectorized over numpy arrays and also accept scalars.
TMS tile coordinates have origin bottom-left; XYZ ("Google") tiles have
origin top-left: ``gy = 2**z - 1 - ty``.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS = 6378137.0
TILE_SIZE = 256
ORIGIN_SHIFT = 2.0 * np.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
INITIAL_RESOLUTION = 2.0 * np.pi * EARTH_RADIUS / TILE_SIZE  # 156543.03392804097
MAX_LAT = 85.05112877980659  # MetersToLatLon(anything, ORIGIN_SHIFT)


def resolution(zoom):
    """Meters/pixel at the equator for a zoom level (Resolution:498)."""
    return INITIAL_RESOLUTION / (2 ** np.asarray(zoom))


def latlon_to_meters(lat, lon):
    """WGS84 lat/lon -> spherical-mercator meters (LatLonToMeters:423)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) / (np.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    return mx, my


def meters_to_latlon(mx, my):
    """Spherical-mercator meters -> WGS84 lat/lon (MetersToLatLon:433)."""
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180.0 / np.pi * (2.0 * np.arctan(np.exp(lat * np.pi / 180.0)) - np.pi / 2.0)
    return lat, lon


def meters_to_pixels(mx, my, zoom):
    """EPSG:3857 -> global pixel coords at zoom (MetersToPixels:453)."""
    res = resolution(zoom)
    px = (np.asarray(mx, dtype=np.float64) + ORIGIN_SHIFT) / res
    py = (np.asarray(my, dtype=np.float64) + ORIGIN_SHIFT) / res
    return px, py


def pixels_to_meters(px, py, zoom):
    """Global pixel coords at zoom -> EPSG:3857 (PixelsToMeters:446)."""
    res = resolution(zoom)
    mx = np.asarray(px, dtype=np.float64) * res - ORIGIN_SHIFT
    my = np.asarray(py, dtype=np.float64) * res - ORIGIN_SHIFT
    return mx, my


def pixels_to_tile(px, py):
    """Pixel coords -> TMS tile containing them (PixelsToTile:461).

    Pins the reference's ``ceil(p/256) - 1`` convention: a point exactly on
    a 256-px line belongs to the tile *below/left* of the line.
    """
    tx = np.ceil(np.asarray(px, dtype=np.float64) / float(TILE_SIZE)).astype(np.int64) - 1
    ty = np.ceil(np.asarray(py, dtype=np.float64) / float(TILE_SIZE)).astype(np.int64) - 1
    return tx, ty


def latlon_to_tile_tms(lat, lon, zoom):
    """lat/lon -> TMS tile (composition used by gdal2tiles MetersToTile:473)."""
    mx, my = latlon_to_meters(lat, lon)
    px, py = meters_to_pixels(mx, my, zoom)
    return pixels_to_tile(px, py)


def latlon_to_tile_xyz(lat, lon, zoom):
    """lat/lon -> XYZ/Google tile, clamped to the valid range.

    Clamping matters only for lat outside +-MAX_LAT or lon = +-180 edge
    inputs; interior points match the exact gdal2tiles math bit-for-bit.
    """
    tx, ty = latlon_to_tile_tms(lat, lon, zoom)
    n = 2**int(zoom)
    gx = np.clip(tx, 0, n - 1)
    gy = np.clip((n - 1) - ty, 0, n - 1)
    return gx, gy


def tile_bounds_meters(tx, ty, zoom):
    """TMS tile -> (minx, miny, maxx, maxy) in EPSG:3857 (TileBounds:480)."""
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    minx, miny = pixels_to_meters(tx * TILE_SIZE, ty * TILE_SIZE, zoom)
    maxx, maxy = pixels_to_meters((tx + 1) * TILE_SIZE, (ty + 1) * TILE_SIZE, zoom)
    return minx, miny, maxx, maxy


def quadkey(tx, ty, zoom):
    """TMS tile -> Microsoft quadkey string (QuadTree:518).

    Vectorized: returns an object-dtype array of strings for array input.
    """
    tx = np.atleast_1d(np.asarray(tx, dtype=np.int64))
    ty_in = np.atleast_1d(np.asarray(ty, dtype=np.int64))
    z = int(zoom)
    gy = (2**z - 1) - ty_in  # reference flips TMS ty to Google before digits
    digits = np.zeros((len(tx), z), dtype=np.int64)
    for i in range(z, 0, -1):
        mask = 1 << (i - 1)
        d = ((tx & mask) != 0).astype(np.int64) + 2 * ((gy & mask) != 0).astype(np.int64)
        digits[:, z - i] = d
    out = np.array(["".join(str(d) for d in row) for row in digits], dtype=object)
    return out if out.size > 1 else out[0]


