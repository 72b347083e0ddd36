"""Pure-Python PNG codec for tile serving (no PIL required).

Re-expresses the PNG tile output of ``gdal raster tile``
(/root/reference/apps/gdalalg_raster_tile.cpp — GetFileY z/x/y layout
at :509 — with the PNG driver /root/reference/frmts/png/) for the
packed-binary tile rows this engine uses. Encoding is a map-only
stage: 8-bit greyscale / RGB / RGBA, filter type 0 on every scanline,
one IDAT chunk, zlib with PINNED parameters (level, strategy,
wbits, memLevel all explicit) so the emitted bytes are deterministic
and golden-checksummable.

The decoder is complete for the 8-bit color types we serve (0, 2, 6)
and implements ALL five PNG scanline filters (None/Sub/Up/Average/
Paeth), so externally produced 8-bit PNGs round-trip too; chunk CRCs
are verified and zlib verifies the adler32 of the raw stream.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# pinned zlib parameters — determinism contract for the golden tests
Z_LEVEL = 6
Z_WBITS = 15
Z_MEMLEVEL = 8


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def filtered_stream(arr: np.ndarray) -> bytes:
    """The raw pre-compression scanline stream: every row prefixed with
    the filter-type byte 0. arr is uint8, (h, w) or (h, w, c)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    h = a.shape[0]
    rows = a.reshape(h, -1)
    out = np.empty((h, rows.shape[1] + 1), dtype=np.uint8)
    out[:, 0] = 0
    out[:, 1:] = rows
    return out.tobytes()


def encode_png(arr: np.ndarray, level: int = Z_LEVEL) -> bytes:
    """Encode a uint8 array as PNG bytes. (h, w) -> greyscale (color
    type 0); (h, w, 3) -> RGB (2); (h, w, 4) -> RGBA (6)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color = 0
    elif a.ndim == 3 and a.shape[2] == 3:
        color = 2
    elif a.ndim == 3 and a.shape[2] == 4:
        color = 6
    else:
        raise ValueError(f"unsupported array shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    co = zlib.compressobj(level, zlib.DEFLATED, Z_WBITS, Z_MEMLEVEL,
                          zlib.Z_DEFAULT_STRATEGY)
    idat = co.compress(filtered_stream(a)) + co.flush()
    return (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def _paeth(a, b, c):
    # vectorized Paeth predictor over int16 arrays
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """Decode 8-bit greyscale/RGB/RGBA PNG bytes to a uint8 array.
    Verifies chunk CRCs; zlib verifies the stream adler32. Supports
    all five scanline filter types."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = None
    color = None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC on {tag!r}")
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 8 or comp != 0 or filt != 0 or inter != 0:
                raise NotImplementedError(
                    "only 8-bit non-interlaced PNG supported")
            if color not in (0, 2, 3, 6):
                raise NotImplementedError(f"color type {color}")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    nch = {0: 1, 2: 3, 3: 1, 6: 4}[color]  # type 3 returns the indices
    raw = zlib.decompress(idat)
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT stream length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = rows[y, 0]
        cur = rows[y, 1:].copy()
        prior = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ft == 0:
            out[y] = cur
        elif ft == 2:  # Up
            out[y] = cur + prior
        elif ft in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            left = np.zeros(nch, dtype=np.uint8)
            line = out[y]
            for x in range(0, stride, nch):
                ul = (prior[x - nch:x] if x else
                      np.zeros(nch, dtype=np.uint8))
                if ft == 1:
                    rec = cur[x:x + nch] + left
                elif ft == 3:
                    rec = cur[x:x + nch] + (
                        (left.astype(np.int16) +
                         prior[x:x + nch].astype(np.int16)) // 2
                    ).astype(np.uint8)
                else:
                    rec = cur[x:x + nch] + _paeth(left, prior[x:x + nch], ul)
                line[x:x + nch] = rec
                left = rec
        else:
            raise ValueError(f"unknown filter type {ft}")
    return out.reshape(h, w) if nch == 1 else out.reshape(h, w, nch)
