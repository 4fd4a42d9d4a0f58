"""Pure-stdlib PNG codec (round 5 — closes the M11 gap without Pillow).

The reference renders figure images through PIL
(asset_storage_service.py:643-658); this package depends on no
imaging library. PNG, however, needs only zlib: encode
is filter-0 rows + one deflate stream; decode reuses the SAME per-row
unfilter the PDF layer already implements for /Predictor streams
(pdf_extract._unpredict, PNG filters 0-4 per the row byte). This module
makes the PNG leg of M11 real — 8-bit, non-interlaced, gray / gray+A /
RGB / RGBA. JPEG payloads are never decoded: figure render passes them
through byte-identical.

Bomb discipline matches the rest of the repo: dimensions validated by
the one guard (image_extract.validate_image_dims) BEFORE inflating
pixel data, and the deflate stream is inflated with an explicit output
cap (a 40-byte zip-bombed IDAT must cost a typed failure, not an
executor OOM).
"""

from __future__ import annotations

import struct
import zlib

from .image_extract import validate_image_dims
from .taxonomy import CorruptedFileError, UnsupportedFormatError

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> channels (8-bit only; palette needs a PLTE lookup we
# deliberately do not ship — typed degrade)
_COLOR_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_CHANNEL_COLOR = {1: 0, 2: 4, 3: 2, 4: 6}

MAX_RAW_BYTES = 256 << 20  # decoded-pixel cap, matches stream caps


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload)) + ctype + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def png_encode(
    raw: bytes, width: int, height: int, channels: int = 1
) -> bytes:
    """Raw 8-bit interleaved pixels -> PNG bytes (filter-0 rows, one
    IDAT). Deterministic: fixed zlib level, no ancillary chunks."""
    if channels not in _CHANNEL_COLOR:
        raise UnsupportedFormatError(f"png encode with {channels} channels")
    rowlen = width * channels
    if width <= 0 or height <= 0 or len(raw) != rowlen * height:
        raise CorruptedFileError(
            f"png encode: {len(raw)} bytes for {width}x{height}x{channels}"
        )
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, _CHANNEL_COLOR[channels], 0, 0, 0
    )
    filtered = bytearray()
    for r0 in range(0, len(raw), rowlen):
        filtered.append(0)
        filtered += raw[r0 : r0 + rowlen]
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(filtered), 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(blob: bytes) -> tuple[bytes, int, int, int]:
    """PNG bytes -> (raw 8-bit interleaved pixels, width, height,
    channels). Typed degrades: palette/16-bit/interlaced PNGs raise
    UnsupportedFormatError, structural damage CorruptedFileError."""
    from .pdf_extract import _unpredict

    if blob[:8] != PNG_SIG:
        raise CorruptedFileError("not a png signature")
    pos = 8
    width = height = channels = -1
    idat = bytearray()
    n = len(blob)
    seen_ihdr = False
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", blob, pos)
        ctype = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise CorruptedFileError("truncated png chunk")
        # CRC intentionally not enforced: crawls carry CRC-damaged but
        # decodable files; structure and inflate errors still fail typed
        if ctype == b"IHDR":
            if length < 13:
                raise CorruptedFileError("short IHDR")
            width, height, depth, color, _comp, _filt, interlace = (
                struct.unpack_from(">IIBBBBB", body, 0)
            )
            if depth != 8:
                raise UnsupportedFormatError(f"png bit depth {depth}")
            if color not in _COLOR_CHANNELS:
                raise UnsupportedFormatError(f"png color type {color}")
            if interlace:
                raise UnsupportedFormatError("interlaced png")
            channels = _COLOR_CHANNELS[color]
            validate_image_dims(width, height)
            seen_ihdr = True
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if not seen_ihdr:
        raise CorruptedFileError("png IHDR chunk not found")
    if not idat:
        raise CorruptedFileError("png has no IDAT data")
    rowlen = width * channels
    expect = (rowlen + 1) * height
    if expect > MAX_RAW_BYTES:
        raise UnsupportedFormatError("png pixel data exceeds decode cap")
    d = zlib.decompressobj()
    try:
        raw = d.decompress(idat, expect)
        # unconsumed_tail is the INPUT not yet processed once max_length
        # was reached; it must be fed back explicitly — decompress(b"")
        # would NOT process it, leaving an oversized IDAT undetected
        if d.unconsumed_tail and d.decompress(d.unconsumed_tail, 1):
            raise CorruptedFileError("png IDAT larger than declared dims")
    except zlib.error as exc:
        raise CorruptedFileError(f"png IDAT inflate failed: {exc}") from exc
    if len(raw) != expect:
        raise CorruptedFileError(
            f"png IDAT yields {len(raw)} bytes, expected {expect}"
        )
    unfiltered = _unpredict(
        raw,
        {
            "Predictor": 15,
            "Columns": width,
            "Colors": channels,
            "BitsPerComponent": 8,
        },
    )
    return unfiltered, width, height, channels
