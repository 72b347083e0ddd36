"""Reference results the benchmark checks every engine output against.

Nothing in this module imports the engine. Each reference restates the
documented rule it checks:

- ``JoinOracle``: the page geocode (FIXTURES.md section 1) and the XYZ
  tile rule, evaluated by DuckDB over the same ``doc_id`` range, with
  polygon containment decided by the GDAL ``Contains`` rule (SURVEY
  section 7(f)): a point counts only when it lies strictly inside the
  stored geometry, never on its boundary.
- ``pyramid_tile`` / ``decode_png_gray8``: the closed form of the
  synthetic raster generator, reduced by exact block means, and a stdlib
  ``zlib`` PNG decoder.
- ``canonical_rows``: the query comparator (columns sorted by name, NaN
  canonicalised, -0.0 folded to 0.0, order-insensitive multiset).
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib

import numpy as np

# --- page geocode (FIXTURES.md section 1) ---------------------------------
# 5% of pages (doc_id % 20 == 0) land in a hot cluster near Paris; the rest
# spread over a millidegree grid. Pure int64 arithmetic, so doc_id must stay
# below 2**63 / 2654435761 (about 3.47e9) or the multiply overflows.

HOT_MOD = 20
MULT_X = 2654435761
MULT_Y = 2246822519
ADD_Y = 3266489917
MOD_32 = 4294967296
MAX_DOC_ID = (2**63 - 1) // MULT_X


def _dbl(x: float) -> str:
    """A DOUBLE literal that parses to exactly ``x`` (a bare literal would
    parse as DECIMAL)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def geocode_sql(doc_id: str = "doc_id") -> tuple[str, str]:
    hx = f"(({doc_id} * {MULT_X}) % {MOD_32})"
    hy = f"((({doc_id} * {MULT_Y}) + {ADD_Y}) % {MOD_32})"
    hot = f"{doc_id} % {HOT_MOD} = 0"
    lon = (f"(CASE WHEN {hot} THEN {_dbl(2.0)} + ({hx} % 500) / {_dbl(1000.0)} "
           f"ELSE {_dbl(-180.0)} + ({hx} % 360000) / {_dbl(1000.0)} END)")
    lat = (f"(CASE WHEN {hot} THEN {_dbl(48.5)} + ({hy} % 500) / {_dbl(1000.0)} "
           f"ELSE {_dbl(-85.0)} + ({hy} % 170000) / {_dbl(1000.0)} END)")
    return lon, lat


def geocode_np(lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
    """The same geocode in numpy, for kernel timings outside Spark."""
    d = np.arange(lo, hi, dtype=np.int64)
    hx = (d * MULT_X) % MOD_32
    hy = (d * MULT_Y + ADD_Y) % MOD_32
    hot = d % HOT_MOD == 0
    lon = np.where(hot, 2.0 + (hx % 500) / 1000.0, -180.0 + (hx % 360000) / 1000.0)
    lat = np.where(hot, 48.5 + (hy % 500) / 1000.0, -85.0 + (hy % 170000) / 1000.0)
    return lon, lat


def tile_xy_sql(lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """XYZ tile of a point (gdal2tiles ``ceil(q) - 1`` boundary rule)."""
    n = 1 << zoom
    qx = f"(({lon} + {_dbl(180.0)}) / {_dbl(360.0)} * {n})"
    merc = f"LN(TAN(RADIANS({lat})) + {_dbl(1.0)} / COS(RADIANS({lat})))"
    qy = f"(({_dbl(1.0)} + {merc} / PI()) / {_dbl(2.0)} * {n})"
    gx = f"LEAST({n - 1}, GREATEST(0, CAST(CEILING({qx}) AS BIGINT) - 1))"
    gy = f"LEAST({n - 1}, GREATEST(0, {n} - CAST(CEILING({qy}) AS BIGINT)))"
    return gx, gy


# --- polygon containment from the stored WKB -------------------------------


def parse_polygons_wkb(buf: bytes) -> list[list[list[tuple[float, float]]]]:
    """WKB Polygon / MultiPolygon -> parts -> rings -> (x, y) vertices."""

    def header(off):
        endian = "<" if buf[off] == 1 else ">"
        (gtype,) = struct.unpack_from(endian + "I", buf, off + 1)
        return endian, gtype, off + 5

    def polygon(off, endian):
        (nrings,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            (npts,) = struct.unpack_from(endian + "I", buf, off)
            off += 4
            xy = struct.unpack_from(endian + "d" * (2 * npts), buf, off)
            off += 16 * npts
            rings.append(list(zip(xy[0::2], xy[1::2])))
        return rings, off

    endian, gtype, off = header(0)
    if gtype == 3:
        return [polygon(off, endian)[0]]
    if gtype == 6:
        (nparts,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        parts = []
        for _ in range(nparts):
            endian, sub, off = header(off)
            if sub != 3:
                raise ValueError(f"multipolygon member of WKB type {sub}")
            rings, off = polygon(off, endian)
            parts.append(rings)
        return parts
    raise ValueError(f"WKB type {gtype} is not a polygon")


def _axis_rect(ring):
    xs = sorted({x for x, _ in ring})
    ys = sorted({y for _, y in ring})
    if len(ring) == 5 and ring[0] == ring[-1] and len(xs) == 2 and len(ys) == 2:
        return xs[0], ys[0], xs[1], ys[1]
    return None


def _ring_sql(ring, lon: str, lat: str, closed: bool) -> str:
    """Inside the ring: strictly (``closed=False``) or including its
    boundary (``closed=True``). Axis rects and triangles only, which is
    every ring the benchmark's polygon layer has."""
    lt, gt = ("<=", ">=") if closed else ("<", ">")
    rect = _axis_rect(ring)
    if rect is not None:
        x0, y0, x1, y1 = (_dbl(v) for v in rect)
        return (f"({lon} {gt} {x0} AND {lon} {lt} {x1} "
                f"AND {lat} {gt} {y0} AND {lat} {lt} {y1})")
    if len(ring) == 4 and ring[0] == ring[-1] and not closed:
        (ax, ay), (bx, by), (cx, cy) = ring[:3]
        ccw = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) > 0
        op = ">" if ccw else "<"
        edges = []
        for (px, py), (qx, qy) in (((ax, ay), (bx, by)), ((bx, by), (cx, cy)),
                                   ((cx, cy), (ax, ay))):
            edges.append(
                f"(({_dbl(qx)} - {_dbl(px)}) * ({lat} - {_dbl(py)}) - "
                f"({_dbl(qy)} - {_dbl(py)}) * ({lon} - {_dbl(px)}) {op} 0)")
        return "(" + " AND ".join(edges) + ")"
    raise ValueError(f"unsupported ring shape with {len(ring)} vertices")


def contains_sql(parts, lon: str, lat: str) -> str:
    """GDAL ``Contains``: strictly inside some part's exterior ring and not
    inside or on any of that part's holes."""
    terms = []
    for rings in parts:
        t = _ring_sql(rings[0], lon, lat, closed=False)
        for hole in rings[1:]:
            t += f" AND NOT {_ring_sql(hole, lon, lat, closed=True)}"
        terms.append(f"({t})")
    return "(" + " OR ".join(terms) + ")"


def antimeridian_edges(parts) -> list[tuple[float, float, float]]:
    """(x, ymin, ymax) of every vertical ring edge lying on x = +-180: the
    split edges a dateline-crossing polygon gets when it is stored split."""
    out = []
    for rings in parts:
        for ring in rings:
            for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                if x1 == x2 and abs(x1) == 180.0 and y1 != y2:
                    out.append((x1, min(y1, y2), max(y1, y2)))
    return out


class JoinOracle:
    """Per-polygon page counts and tile counts for a ``doc_id`` range,
    computed by DuckDB without the engine."""

    def __init__(self, polygons, max_pages: int, zoom: int, threads: int,
                 temp_dir: str):
        """polygons: [(eas_id, wkb_bytes)]."""
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        # a materialised index table scans in parallel; range() does not
        self.con.execute(
            f"CREATE TEMP TABLE ix AS SELECT range AS i FROM range(0, {int(max_pages)})")
        self.max_pages = max_pages
        lon, lat = geocode_sql("doc_id")
        self.pages_sql = f"SELECT doc_id, {lon} AS lon, {lat} AS lat FROM ({{ids}})"
        flags = []
        self.eas_ids = []
        edges = []
        for eas_id, wkb in polygons:
            parts = parse_polygons_wkb(wkb)
            self.eas_ids.append(eas_id)
            flags.append(contains_sql(parts, "lon", "lat"))
            edges += antimeridian_edges(parts)
        flags.append(" OR ".join(
            f"(lon = {_dbl(x)} AND lat > {_dbl(y0)} AND lat < {_dbl(y1)})"
            for x, y0, y1 in edges) or "FALSE")
        gx, gy = tile_xy_sql("lon", "lat", zoom)
        # one scan: page counts per tile, split by polygon membership
        self.select = (f"{gx} AS gx, {gy} AS gy, COUNT(*), " + ", ".join(
            f"CAST(SUM(CASE WHEN {f} THEN 1 ELSE 0 END) AS BIGINT)" for f in flags))

    def compute(self, lo: int, n: int):
        """-> ({eas_id: pages}, {(gx, gy): pages}, split_edge_pages)."""
        if n > self.max_pages or lo < 0 or lo + n > MAX_DOC_ID:
            raise ValueError(f"range [{lo}, {lo + n}) outside the oracle's limits")
        ids = f"SELECT {int(lo)} + i AS doc_id FROM ix WHERE i < {int(n)}"
        rows = self.con.execute(
            f"SELECT {self.select} FROM ({self.pages_sql.format(ids=ids)}) "
            f"GROUP BY gx, gy").fetchall()
        tiles = {(int(r[0]), int(r[1])): int(r[2]) for r in rows}
        sums = [sum(int(r[3 + i]) for r in rows) for i in range(len(self.eas_ids) + 1)]
        counts = {e: c for e, c in zip(self.eas_ids, sums) if c}
        return counts, tiles, sums[-1]

    def close(self):
        self.con.close()


def compare_counts(what: str, got: dict, want: dict, limit: int = 5) -> list[str]:
    """Differences between two key -> count maps, as messages."""
    keys = sorted(set(got) | set(want), key=repr)
    bad = [k for k in keys if got.get(k, 0) != want.get(k, 0)]
    return [f"{what} {k!r}: engine {got.get(k, 0)} != oracle {want.get(k, 0)}"
            for k in bad[:limit]] + (
        [f"{what}: {len(bad) - limit} more differences"] if len(bad) > limit else [])


# --- raster pyramid --------------------------------------------------------

TILE = 256


def pyramid_tile(coeffs, base_zoom: int, zoom: int, gx: int, gy: int) -> np.ndarray:
    """Tile (gx, gy) of the AVERAGE pyramid level ``zoom`` built from the
    synthetic base level ``base_zoom``. The base pixel at global (px, py)
    is ``(px * mx + py * my + base_zoom) % 255``; each level halves the
    resolution by 2x2 means, so a level-``zoom`` pixel is the exact mean of
    its 2**k x 2**k base block (k = base_zoom - zoom). Block sums of
    integers divided by a power of two are exact in float64, so this equals
    any order of repeated 2x2 means bit for bit."""
    mx, my = coeffs
    f = 1 << (base_zoom - zoom)
    size = TILE * f
    px = gx * size + np.arange(size, dtype=np.int64)
    py = gy * size + np.arange(size, dtype=np.int64)
    base = (px[None, :] * mx + py[:, None] * my + base_zoom) % 255
    sums = base.reshape(TILE, f, TILE, f).sum(axis=(1, 3))
    return sums.astype(np.float64) / float(f * f)


def digest(arr: np.ndarray) -> str:
    return hashlib.sha256(np.ascontiguousarray(arr, dtype="<f8").tobytes()).hexdigest()


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_gray8(data: bytes) -> np.ndarray:
    """Decode an 8-bit greyscale, non-interlaced PNG with stdlib zlib.
    Verifies the signature and every chunk CRC; all five scanline filters
    are undone."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off, idat, ihdr = 8, [], None
    while off < len(data):
        (length,) = struct.unpack_from(">I", data, off)
        tag = data[off + 4:off + 8]
        body = data[off + 8:off + 8 + length]
        (crc,) = struct.unpack_from(">I", data, off + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        off += 12 + length
    if ihdr is None:
        raise ValueError("no IHDR")
    w, h, depth, color, _, _, interlace = ihdr
    if (depth, color, interlace) != (8, 0, 0):
        raise ValueError(f"not 8-bit greyscale non-interlaced: {ihdr}")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("scanline data has the wrong length")
    out = np.zeros((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (w + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=w,
                             offset=y * (w + 1) + 1).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):
            cur = np.zeros(w, dtype=np.int32)
            for x in range(w):
                a = int(cur[x - 1]) if x else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + int(prev[x])) // 2
                else:
                    pred = _paeth(a, int(prev[x]), int(prev[x - 1]) if x else 0)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = cur
        prev = cur
    return out


# --- query results ---------------------------------------------------------


def _canon(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(0.0 if v == 0.0 else v)
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def canonical_rows(columns, rows) -> list[tuple]:
    """Rows as a sorted list of stringified tuples, columns ordered by
    name: two results are equal as multisets exactly when these are."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def compare_rows(got: list[tuple], want: list[tuple], limit: int = 3) -> list[str]:
    if got == want:
        return []
    from collections import Counter

    g, w = Counter(got), Counter(want)
    extra = list((g - w).elements())
    missing = list((w - g).elements())
    return ([f"{len(got)} rows vs oracle {len(want)}; "
             f"{len(extra)} unexpected, {len(missing)} missing"]
            + [f"unexpected {r}" for r in extra[:limit]]
            + [f"missing {r}" for r in missing[:limit]])
