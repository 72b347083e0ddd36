"""Minimal GeoTIFF codec: striped classic TIFF, uncompressed + LZW.

The reference's tile/translate outputs default to GTiff/COG
(``/root/reference/frmts/gtiff/``; ``apps/gdalalg_raster_tile.cpp``
format choices) through libtiff. This is a from-scratch pure-Python
struct codec of the PUBLIC TIFF 6.0 / GeoTIFF 1.1 specifications — the
byte-emitting half of handing curated raster tiles to a GIS rather
than a map client (the PNG path, kernels/png.py, covers the latter).

Scope (deliberately the tile-sink subset):
- classic little-endian TIFF (``II*\\0``), single sample per pixel,
  striped layout (``rows_per_strip`` rows per strip, the reference's
  non-tiled default ``frmts/gtiff/gtiffdataset.cpp`` strip path);
- uint8 / int16 / float32 samples (SampleFormat 1/2/3);
- Compression 1 (none) and 5 (TIFF-LZW with the spec's early-change
  rule and 4094-entry table reset — TIFF 6.0 §13);
- GeoTIFF georeferencing for web-mercator z/x/y tiles:
  ModelPixelScale + ModelTiepoint + a GeoKeyDirectory pinning
  EPSG:3857 (GeoTIFF 1.1 §B.3), mirroring what the reference's tile
  writer stamps on each output dataset.

Layout is DETERMINISTIC (header, strip data in order, IFD, out-of-line
arrays), so encoded bytes are golden-checksummable like the PNG path.

Cited reference behavior: frmts/gtiff/libtiff/tif_lzw.c (LZW
early-change + ClearCode-at-4094), gcore/gdaldataset write path only
as the semantic target — no code derived from either (libtiff is the
reference's vendored dependency; this is an independent implementation
from the specification).
"""

from __future__ import annotations

import struct

import numpy as np

# TIFF tag ids (TIFF 6.0 §8)
T_WIDTH, T_LENGTH, T_BITS, T_COMP, T_PHOTO = 256, 257, 258, 259, 262
T_STRIP_OFFSETS, T_SAMPLES, T_ROWS_PER_STRIP, T_STRIP_COUNTS = (
    273, 277, 278, 279)
T_SAMPLE_FORMAT = 339
T_MODEL_PIXEL_SCALE, T_MODEL_TIEPOINT, T_GEO_KEYS = 33550, 33922, 34735

# field types
TY_SHORT, TY_LONG, TY_DOUBLE = 3, 4, 12
_TY_SIZE = {TY_SHORT: 2, TY_LONG: 4, TY_DOUBLE: 8}

COMP_NONE, COMP_LZW, COMP_DEFLATE, COMP_DEFLATE_OLD = 1, 5, 8, 32946
COMP_PACKBITS = 32773

_DTYPES = {
    "uint8": (8, 1, "<u1"),
    "uint16": (16, 1, "<u2"),
    "int16": (16, 2, "<i2"),
    "float32": (32, 3, "<f4"),
}
# decoder accepts a wider set than the encoder emits (interop)
_FMT_TO_DTYPE = {(8, 1): "<u1", (16, 1): "<u2", (16, 2): "<i2",
                 (32, 1): "<u4", (32, 2): "<i4",
                 (32, 3): "<f4", (64, 3): "<f8"}

# EPSG:3857 world half-extent (PROJ / mercator constants; the same
# value kernels/mercator.py uses)
MERC_MAX = 20037508.342789244

CLEAR, EOI = 256, 257


def lzw_encode(data: bytes) -> bytes:
    """TIFF-LZW (TIFF 6.0 §13): MSB-first bit packing, 9-bit start,
    EARLY code-width change (width bumps when the next code to be
    added is 2^width - 1), table reset via ClearCode at 4094."""
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def put(code, width):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((bitbuf >> nbits) & 0xFF)
            bitbuf &= (1 << nbits) - 1  # drop the bits just written

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(CLEAR, width)
    s = b""
    for b in data:
        c = s + bytes([b])
        if c in table:
            s = c
            continue
        put(table[s], width)
        table[c] = next_code
        next_code += 1
        # early change: the ENCODER must switch width as soon as
        # next_code reaches 2^width - 1 (libtiff writes the last code
        # of a width one slot early)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code >= 4094:
            put(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        s = bytes([b])
    if s:
        put(table[s], width)
    put(EOI, width)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes) -> bytes:
    """Inverse of lzw_encode (same early-change convention: the
    decoder bumps width when the next code to be DEFINED is
    2^width - 1)."""
    out = bytearray()
    bitbuf = 0
    nbits = 0
    pos = 0
    width = 9
    table: list = [bytes([i]) for i in range(256)] + [b"", b""]
    prev = None

    def get():
        nonlocal bitbuf, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return EOI
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (bitbuf >> nbits) & ((1 << width) - 1)
        bitbuf &= (1 << nbits) - 1  # drop the bits just read
        return code

    while True:
        code = get()
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW: code {code} beyond table "
                             f"({len(table)})")
        out += entry
        prev = entry
        # the decoder DEFINES each entry one emission later than the
        # encoder did, so early change fires at table size 2^W - 2
        # (encoder: next_code == 2^W - 1) to stay bit-aligned
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _compress(data: bytes, comp: int) -> bytes:
    if comp == COMP_LZW:
        return lzw_encode(data)
    if comp == COMP_DEFLATE:
        import zlib

        # pinned level => deterministic bytes (same rule as the PNG
        # codec's fixed deflate params)
        return zlib.compress(data, 6)
    return data


def packbits_decode(data: bytes) -> bytes:
    """PackBits RLE (TIFF 6.0 §9): n in 0..127 copies n+1 literals,
    n in -127..-1 repeats the next byte 1-n times, -128 is a no-op."""
    out = bytearray()
    i = 0
    ln = len(data)
    while i < ln:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _decompress(data: bytes, comp: int) -> bytes:
    if comp == COMP_LZW:
        return lzw_decode(data)
    if comp in (COMP_DEFLATE, COMP_DEFLATE_OLD):
        import zlib

        return zlib.decompress(data)
    if comp == COMP_PACKBITS:
        return packbits_decode(data)
    return data


def _tile_geo(zoom: int, gx: int, gy: int, tile: int):
    """(pixel scale, tiepoint) of web-mercator tile (z, x, y) — what
    the reference's tile writer stamps (apps/gdalalg_raster_tile.cpp
    geotransform per tile)."""
    res = 2.0 * MERC_MAX / ((1 << zoom) * tile)
    ox = -MERC_MAX + gx * tile * res
    oy = MERC_MAX - gy * tile * res
    return res, ox, oy


def encode_gtiff(arr: np.ndarray, compression: str = "lzw",
                 rows_per_strip: int = 64, zoom=None, gx=None,
                 gy=None) -> bytes:
    """Encode a 2-D array as a striped classic GeoTIFF. When
    (zoom, gx, gy) are given, georeferencing tags for the web-mercator
    tile grid are written (EPSG:3857 GeoKeyDirectory + pixel scale +
    tiepoint); otherwise a bare TIFF is produced."""
    if arr.ndim == 3:
        nsamp = arr.shape[2]
        if nsamp not in (2, 3, 4):
            raise NotImplementedError(
                f"encode_gtiff: {nsamp} samples per pixel")
    elif arr.ndim == 2:
        nsamp = 1
    else:
        raise NotImplementedError(
            f"encode_gtiff: 2-D (gray) or 3-D (h, w, samples) arrays "
            f"only, got shape {arr.shape}")
    dname = str(arr.dtype)
    if dname not in _DTYPES:
        raise NotImplementedError(
            f"encode_gtiff: dtype {dname} not supported "
            f"(uint8/int16/float32)")
    bits, sfmt, le = _DTYPES[dname]
    comp = {"none": COMP_NONE, "lzw": COMP_LZW,
            "deflate": COMP_DEFLATE}[compression]
    h, w = arr.shape[0], arr.shape[1]
    rps = min(int(rows_per_strip), h)
    raw = np.ascontiguousarray(arr).astype(le)
    strips = [raw[r:r + rps].tobytes() for r in range(0, h, rps)]
    strips = [_compress(s, comp) for s in strips]

    geo = zoom is not None
    entries = []  # (tag, type, count, values)
    entries.append((T_WIDTH, TY_LONG, 1, [w]))
    entries.append((T_LENGTH, TY_LONG, 1, [h]))
    entries.append((T_BITS, TY_SHORT, nsamp, [bits] * nsamp))
    entries.append((T_COMP, TY_SHORT, 1, [comp]))
    # RGB(A) for 3/4 samples, BlackIsZero otherwise (TIFF 6.0 §6/§13)
    entries.append((T_PHOTO, TY_SHORT, 1, [2 if nsamp >= 3 else 1]))
    entries.append((T_STRIP_OFFSETS, TY_LONG, len(strips), None))
    entries.append((T_SAMPLES, TY_SHORT, 1, [nsamp]))
    entries.append((T_ROWS_PER_STRIP, TY_LONG, 1, [rps]))
    entries.append((T_STRIP_COUNTS, TY_LONG, len(strips),
                    [len(s) for s in strips]))
    entries.append((T_SAMPLE_FORMAT, TY_SHORT, nsamp, [sfmt] * nsamp))
    if geo:
        res, ox, oy = _tile_geo(int(zoom), int(gx), int(gy), w)
        entries.append((T_MODEL_PIXEL_SCALE, TY_DOUBLE, 3,
                        [res, res, 0.0]))
        entries.append((T_MODEL_TIEPOINT, TY_DOUBLE, 6,
                        [0.0, 0.0, 0.0, ox, oy, 0.0]))
        # GeoKeyDirectory v1.1.0: GTModelType=Projected(1),
        # GTRasterType=PixelIsArea(1), ProjectedCSType=EPSG:3857
        entries.append((T_GEO_KEYS, TY_SHORT, 16,
                        [1, 1, 0, 3,
                         1024, 0, 1, 1,
                         1025, 0, 1, 1,
                         3072, 0, 1, 3857]))

    # deterministic layout: header | strips | IFD | out-of-line values
    data_off = 8
    strip_offsets = []
    cur = data_off
    for s in strips:
        strip_offsets.append(cur)
        cur += len(s)
    if cur % 2:  # word-align the IFD (TIFF 6.0 requirement)
        cur += 1
    ifd_off = cur
    n = len(entries)
    aux_off = ifd_off + 2 + n * 12 + 4

    def pack_vals(ty, vals):
        fmt = {TY_SHORT: "H", TY_LONG: "I", TY_DOUBLE: "d"}[ty]
        return struct.pack("<" + fmt * len(vals), *vals)

    ifd = bytearray()
    aux = bytearray()
    ifd += struct.pack("<H", n)
    for tag, ty, count, vals in sorted(entries):
        if tag == T_STRIP_OFFSETS:
            vals = strip_offsets
        size = _TY_SIZE[ty] * count
        if size <= 4:
            vbytes = pack_vals(ty, vals).ljust(4, b"\x00")
            ifd += struct.pack("<HHI", tag, ty, count) + vbytes
        else:
            ifd += struct.pack("<HHII", tag, ty, count,
                               aux_off + len(aux))
            aux += pack_vals(ty, vals)
            if len(aux) % 2:
                aux += b"\x00"
    ifd += struct.pack("<I", 0)  # no next IFD

    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    for s in strips:
        out += s
    if len(out) % 2:
        out += b"\x00"
    out += ifd
    out += aux
    return bytes(out)


T_TILE_WIDTH, T_TILE_LENGTH, T_TILE_OFFSETS, T_TILE_COUNTS = (
    322, 323, 324, 325)
T_SUBFILE_TYPE = 254


def _read_ifd(buf, ifd_off, en="<"):
    """Parse one IFD -> (tags dict, next_ifd_offset)."""
    (n,) = struct.unpack_from(en + "H", buf, ifd_off)
    tags = {}
    for i in range(n):
        tag, ty, count = struct.unpack_from(
            en + "HHI", buf, ifd_off + 2 + i * 12)
        if ty not in _TY_SIZE:
            continue  # ASCII/RATIONAL/UNDEFINED metadata — not needed
        voff = ifd_off + 2 + i * 12 + 8
        size = _TY_SIZE[ty] * count
        if size > 4:
            (voff,) = struct.unpack_from(en + "I", buf, voff)
        fmt = {TY_SHORT: "H", TY_LONG: "I", TY_DOUBLE: "d"}[ty]
        tags[tag] = list(struct.unpack_from(en + fmt * count, buf, voff))
    (nxt,) = struct.unpack_from(en + "I", buf, ifd_off + 2 + n * 12)
    return tags, nxt


def _decode_ifd(buf, tags, en="<"):
    """Decode one IFD's image: striped OR tiled layout, 1..4
    contiguous samples (PlanarConfiguration 1)."""
    w, h = tags[T_WIDTH][0], tags[T_LENGTH][0]
    bits_l = tags.get(T_BITS, [1])
    bits = bits_l[0]  # TIFF default: 1-bit bilevel
    comp = tags.get(T_COMP, [COMP_NONE])[0]
    sfmt = tags.get(T_SAMPLE_FORMAT, [1])[0]
    nsamp = tags.get(T_SAMPLES, [1])[0]
    if nsamp < 1 or nsamp > 4 or len(set(bits_l)) != 1:
        raise NotImplementedError(
            f"decode_gtiff: samples={nsamp} bits={bits_l}")
    if tags.get(284, [1])[0] != 1:
        raise NotImplementedError(
            "decode_gtiff: PlanarConfiguration 2 (separate planes)")
    if (bits, sfmt) not in _FMT_TO_DTYPE:
        raise NotImplementedError(
            f"decode_gtiff: bits={bits} sample_format={sfmt}")
    if comp not in (COMP_NONE, COMP_LZW, COMP_DEFLATE,
                    COMP_DEFLATE_OLD, COMP_PACKBITS):
        raise NotImplementedError(f"decode_gtiff: compression {comp}")
    dt = np.dtype(_FMT_TO_DTYPE[(bits, sfmt)])
    if en == ">":
        dt = dt.newbyteorder(">")
    predictor = tags.get(317, [1])[0]
    if predictor == 2 and sfmt == 3:
        raise NotImplementedError(
            "decode_gtiff: predictor 2 is integer-only (TIFF 6.0 §14)")
    if predictor not in (1, 2):
        raise NotImplementedError(
            f"decode_gtiff: predictor {predictor} (floating-point "
            "predictor not supported)")

    def unpredict(a):
        if predictor != 2:
            return a
        # horizontal differencing (TIFF 6.0 §14): rows store deltas;
        # integrate per row in the sample's wraparound arithmetic
        acc = np.cumsum(a.astype(np.int64), axis=1)
        acc = acc & ((1 << bits) - 1)
        return acc.astype(dt.str.replace("i", "u")).astype(dt)

    tiled = T_TILE_OFFSETS in tags
    if not tiled and T_STRIP_OFFSETS not in tags:
        raise NotImplementedError(
            "decode_gtiff: neither StripOffsets nor TileOffsets present")

    meta = {
        "width": w, "height": h, "compression": comp,
        "bits": bits, "sample_format": sfmt, "samples": nsamp,
        "tiled": tiled,
        "subfile_type": tags.get(T_SUBFILE_TYPE, [0])[0],
    }
    for key, tag in (("pixel_scale", T_MODEL_PIXEL_SCALE),
                     ("tiepoint", T_MODEL_TIEPOINT),
                     ("geo_keys", T_GEO_KEYS)):
        if tag in tags:
            meta[key] = tags[tag]

    if tiled:
        tw, th = tags[T_TILE_WIDTH][0], tags[T_TILE_LENGTH][0]
        offs, counts = tags[T_TILE_OFFSETS], tags[T_TILE_COUNTS]
        nx = (w + tw - 1) // tw
        ny = (h + th - 1) // th
        if len(offs) != nx * ny:
            raise NotImplementedError(
                "decode_gtiff: tile count mismatch (planar config?)")
        shape = (ny * th, nx * tw, nsamp) if nsamp > 1 else (ny * th,
                                                             nx * tw)
        full = np.zeros(shape, dtype=dt)
        for idx, (o, c) in enumerate(zip(offs, counts)):
            raw = _decompress(buf[o:o + c], comp)
            tshape = (th, tw, nsamp) if nsamp > 1 else (th, tw)
            t = np.frombuffer(raw, dtype=dt,
                              count=tw * th * nsamp).reshape(tshape)
            ty_, tx_ = divmod(idx, nx)
            full[ty_ * th:(ty_ + 1) * th,
                 tx_ * tw:(tx_ + 1) * tw] = unpredict(t)
        arr = full[:h, :w].copy()
        if en == ">":
            arr = arr.astype(arr.dtype.newbyteorder("="))
        meta.update({"tile_width": tw, "tile_length": th,
                     "n_tiles": len(offs),
                     "tile_byte_counts": counts})
        return arr, meta

    rps = tags.get(T_ROWS_PER_STRIP, [h])[0]
    offs = tags[T_STRIP_OFFSETS]
    if T_STRIP_COUNTS not in tags:
        raise NotImplementedError(
            "decode_gtiff: StripByteCounts missing")
    counts = tags[T_STRIP_COUNTS]
    raw = b""
    for o, c in zip(offs, counts):
        raw += _decompress(buf[o:o + c], comp)
    sshape = (h, w, nsamp) if nsamp > 1 else (h, w)
    arr = unpredict(
        np.frombuffer(raw, dtype=dt, count=w * h * nsamp).reshape(sshape))
    if en == ">":
        arr = arr.astype(arr.dtype.newbyteorder("="))
    meta.update({"rows_per_strip": rps, "n_strips": len(offs),
                 "strip_byte_counts": counts})
    return arr, meta


def _tiff_endian(buf: bytes) -> str:
    if buf[:4] == b"II*\x00":
        return "<"
    if buf[:4] == b"MM\x00*":
        return ">"
    raise NotImplementedError(
        "decode_gtiff: not a classic TIFF (BigTIFF not supported)")


def decode_gtiff(buf: bytes):
    """Decode the FIRST image of a TIFF produced by encode_gtiff /
    encode_cog — and any other classic TIFF in this codec's envelope:
    little- or big-endian, striped or tiled, 1..4 contiguous samples,
    none/LZW/DEFLATE/PackBits, predictor 1/2. Returns (array, meta);
    multi-sample images come back as (h, w, samples)."""
    en = _tiff_endian(buf)
    try:
        (ifd_off,) = struct.unpack_from(en + "I", buf, 4)
        tags, _ = _read_ifd(buf, ifd_off, en)
        return _decode_ifd(buf, tags, en)
    except struct.error as e:  # truncated/corrupt container
        raise ValueError(f"decode_gtiff: malformed TIFF ({e})") from e


def decode_cog(buf: bytes):
    """Decode EVERY image in the IFD chain (full resolution + overview
    levels) -> [(array, meta), ...] in file order."""
    en = _tiff_endian(buf)
    try:
        out = []
        (ifd_off,) = struct.unpack_from(en + "I", buf, 4)
        while ifd_off:
            tags, ifd_off = _read_ifd(buf, ifd_off, en)
            out.append(_decode_ifd(buf, tags, en))
        return out
    except struct.error as e:
        raise ValueError(f"decode_cog: malformed TIFF ({e})") from e


def encode_cog(levels, compression: str = "lzw", tile: int = 256,
               zoom=None, gx=None, gy=None) -> bytes:
    """Encode a full-resolution array + its overview pyramid as a
    Cloud-Optimized GeoTIFF: TILED layout (TileWidth/TileLength/
    TileOffsets/TileByteCounts, TIFF 6.0 §15), one IFD per level
    chained via the next-IFD pointer (overviews carry
    NewSubfileType=1 — reduced-resolution subfile), and the COG
    ordering: header, ALL IFDs + their arrays up front, tile data
    last — so a range-reading client fetches the whole directory in
    one leading read (the reference's COG driver layout contract,
    frmts/gtiff/cogdriver.cpp).

    ``levels``: [full_res, overview1 (half), overview2 (quarter), ...]
    — same dtype throughout; edge tiles are zero-padded to the tile
    size (the TIFF tiled-layout rule).
    """
    if not levels:
        raise ValueError("encode_cog: at least one level required")
    dname = str(levels[0].dtype)
    if dname not in _DTYPES:
        raise NotImplementedError(
            f"encode_cog: dtype {dname} not supported")
    bits, sfmt, le = _DTYPES[dname]
    comp = {"none": COMP_NONE, "lzw": COMP_LZW,
            "deflate": COMP_DEFLATE}[compression]
    geo = zoom is not None

    # per level: padded tiles (row-major tile grid), compressed
    level_tiles = []
    for arr in levels:
        if arr.ndim != 2 or str(arr.dtype) != dname:
            raise NotImplementedError(
                "encode_cog: 2-D single-band arrays of one dtype")
        h, w = arr.shape
        nx = (w + tile - 1) // tile
        ny = (h + tile - 1) // tile
        padded = np.zeros((ny * tile, nx * tile), dtype=le)
        padded[:h, :w] = arr
        tiles = []
        for ty_ in range(ny):
            for tx_ in range(nx):
                t = padded[ty_ * tile:(ty_ + 1) * tile,
                           tx_ * tile:(tx_ + 1) * tile].tobytes()
                tiles.append(_compress(t, comp))
        level_tiles.append((w, h, tiles))

    def pack_vals(ty, vals):
        fmt = {TY_SHORT: "H", TY_LONG: "I", TY_DOUBLE: "d"}[ty]
        return struct.pack("<" + fmt * len(vals), *vals)

    # entry lists per level (offsets patched later)
    def entries_for(li, w, h, ntiles):
        es = []
        if li > 0:
            es.append((T_SUBFILE_TYPE, TY_LONG, 1, [1]))
        es.append((T_WIDTH, TY_LONG, 1, [w]))
        es.append((T_LENGTH, TY_LONG, 1, [h]))
        es.append((T_BITS, TY_SHORT, 1, [bits]))
        es.append((T_COMP, TY_SHORT, 1, [comp]))
        es.append((T_PHOTO, TY_SHORT, 1, [1]))
        es.append((T_SAMPLES, TY_SHORT, 1, [1]))
        es.append((T_TILE_WIDTH, TY_LONG, 1, [tile]))
        es.append((T_TILE_LENGTH, TY_LONG, 1, [tile]))
        es.append((T_TILE_OFFSETS, TY_LONG, ntiles, None))
        es.append((T_TILE_COUNTS, TY_LONG, ntiles, None))
        es.append((T_SAMPLE_FORMAT, TY_SHORT, 1, [sfmt]))
        if geo and li == 0:
            res, ox, oy = _tile_geo(int(zoom), int(gx), int(gy), w)
            es.append((T_MODEL_PIXEL_SCALE, TY_DOUBLE, 3,
                       [res, res, 0.0]))
            es.append((T_MODEL_TIEPOINT, TY_DOUBLE, 6,
                       [0.0, 0.0, 0.0, ox, oy, 0.0]))
            es.append((T_GEO_KEYS, TY_SHORT, 16,
                       [1, 1, 0, 3,
                        1024, 0, 1, 1,
                        1025, 0, 1, 1,
                        3072, 0, 1, 3857]))
        return sorted(es)

    all_entries = [entries_for(li, w, h, len(tiles))
                   for li, (w, h, tiles) in enumerate(level_tiles)]

    # layout pass 1: IFD + aux sizes (before tile data)
    pos = 8
    ifd_offsets = []
    aux_offsets = []
    for es in all_entries:
        ifd_offsets.append(pos)
        pos += 2 + len(es) * 12 + 4
        aux_offsets.append(pos)
        aux_len = 0
        for tag, ty, count, _vals in es:
            size = _TY_SIZE[ty] * count
            if size > 4:
                aux_len += size + (size % 2)
        pos += aux_len
    data_start = pos + (pos % 2)

    # layout pass 2: tile data offsets
    tile_offsets = []
    cur = data_start
    for _w, _h, tiles in level_tiles:
        offs = []
        for t in tiles:
            offs.append(cur)
            cur += len(t)
        tile_offsets.append(offs)

    # emit
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_offsets[0]))
    for li, es in enumerate(all_entries):
        _w, _h, tiles = level_tiles[li]
        ifd = bytearray(struct.pack("<H", len(es)))
        aux = bytearray()
        for tag, ty, count, vals in es:
            if tag == T_TILE_OFFSETS:
                vals = tile_offsets[li]
            elif tag == T_TILE_COUNTS:
                vals = [len(t) for t in tiles]
            size = _TY_SIZE[ty] * count
            if size <= 4:
                vbytes = pack_vals(ty, vals).ljust(4, b"\x00")
                ifd += struct.pack("<HHI", tag, ty, count) + vbytes
            else:
                ifd += struct.pack("<HHII", tag, ty, count,
                                   aux_offsets[li] + len(aux))
                aux += pack_vals(ty, vals)
                if len(aux) % 2:
                    aux += b"\x00"
        nxt = ifd_offsets[li + 1] if li + 1 < len(all_entries) else 0
        ifd += struct.pack("<I", nxt)
        out += ifd + aux
    while len(out) < data_start:
        out += b"\x00"
    for _w, _h, tiles in level_tiles:
        for t in tiles:
            out += t
    return bytes(out)
