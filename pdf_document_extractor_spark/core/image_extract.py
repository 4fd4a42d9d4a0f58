"""Image-input extraction: PNG/JPEG header metadata, pure stdlib.

The reference lists png and jpg as first-class MIME types
(lib/models/mime_type.py:11-12) and validates their dimensions before
decode (src/utils/image_validator.py:36-150).
No pixels are decoded: the DIMENSIONS are header fields readable in
pure stdlib, so an image document becomes a SUCCESS row whose figure
struct carries (format, width, height, payload_bytes) and whose content
stays empty, instead of a hard failure.

PINNED SEMANTICS:

1. PNG: the 8-byte signature then the IHDR chunk (must be first, PNG
   spec 5.6): width/height are big-endian u32 at bytes 16-24. Missing/
   misplaced IHDR or a truncated header -> CorruptedFileError.
2. JPEG: SOI then segment walk to the first SOFn marker (C0-CF minus
   C4/C8/CC): height/width are big-endian u16 at payload bytes 1-5.
   Hitting SOS/EOI/EOF without a SOFn -> CorruptedFileError.
3. Dimension bomb guard BEFORE emitting the row (reference
   image_validator.py:36-150): >8192 px a side or >100 MP raises
   OversizeDocumentError (a 40-byte file can claim 2^31 px); a zero
   side raises CorruptedFileError. ``validate_image_dims`` is the one
   guard: core/png_codec.png_decode applies it before inflating.
4. Output: one page, page_number=1, content "" (word_count 0), one
   figure ``{url_hash}_figure_0`` labeled 'image' with the metadata
   fields filled; caption None.
"""

from __future__ import annotations

import struct

from .model import (
    DOC_TYPE_GIF,
    DOC_TYPE_JPG,
    DOC_TYPE_PNG,
    FigureRef,
    ExtractionResult,
    PageResult,
)
from .taxonomy import CorruptedFileError, OversizeDocumentError

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"
GIF_MAGICS = (b"GIF87a", b"GIF89a")

# Pixel-dimension bomb caps, enforced only by validate_image_dims.
MAX_IMAGE_PIXELS = 100_000_000
MAX_IMAGE_DIMENSION = 8192

# SOF0-SOF15 carry frame dimensions, EXCEPT C4 (DHT), C8 (JPG ext), CC (DAC)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def png_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) from the IHDR chunk (pinned rule 1)."""
    if len(data) < 24:
        raise CorruptedFileError("truncated png header")
    if data[12:16] != b"IHDR":
        raise CorruptedFileError("png IHDR chunk not first")
    w, h = struct.unpack(">II", data[16:24])
    return w, h


def jpeg_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) from the first SOFn segment (pinned rule 2)."""
    n = len(data)
    pos = 2  # past SOI
    while pos + 3 < n:
        if data[pos] != 0xFF:
            raise CorruptedFileError("jpeg segment desync")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers, no payload
            continue
        if marker == 0xD9:  # EOI before any SOF
            break
        seglen = (data[pos + 2] << 8) | data[pos + 3]
        if seglen < 2 or pos + 2 + seglen > n:
            raise CorruptedFileError("truncated jpeg segment")
        if marker in _SOF_MARKERS:
            if seglen < 7:
                raise CorruptedFileError("truncated jpeg SOF segment")
            h = (data[pos + 5] << 8) | data[pos + 6]
            w = (data[pos + 7] << 8) | data[pos + 8]
            return w, h
        if marker == 0xDA:  # SOS: entropy data follows, no SOF was seen
            break
        pos += 2 + seglen
    raise CorruptedFileError("jpeg has no SOF frame header")


def gif_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) from the GIF logical screen descriptor (bytes
    6-10, little-endian u16 each — GIF89a spec §18)."""
    if len(data) < 10:
        raise CorruptedFileError("truncated gif header")
    w, h = struct.unpack("<HH", data[6:10])
    return w, h


def validate_image_dims(width: int, height: int) -> None:
    """Pinned rule 3 (reference image_validator.py:36-150)."""
    if width <= 0 or height <= 0:
        raise CorruptedFileError(f"non-positive image dimension {width}x{height}")
    if width > MAX_IMAGE_DIMENSION or height > MAX_IMAGE_DIMENSION:
        raise OversizeDocumentError(
            f"image dimension {width}x{height} exceeds "
            f"{MAX_IMAGE_DIMENSION}px cap"
        )
    if width * height > MAX_IMAGE_PIXELS:
        raise OversizeDocumentError(
            f"image {width}x{height} exceeds {MAX_IMAGE_PIXELS}px cap"
        )


def extract_image(data: bytes, url_hash: str) -> ExtractionResult:
    """PNG/JPEG bytes -> metadata-only success row (pinned rule 4)."""
    if data[: len(PNG_MAGIC)] == PNG_MAGIC:
        doc_type = DOC_TYPE_PNG
        width, height = png_dimensions(data)
    elif data[:3] == JPEG_MAGIC:
        doc_type = DOC_TYPE_JPG
        width, height = jpeg_dimensions(data)
    elif data[:6] in GIF_MAGICS:
        doc_type = DOC_TYPE_GIF
        width, height = gif_dimensions(data)
    else:
        raise CorruptedFileError("not a png/jpeg/gif payload")
    validate_image_dims(width, height)
    figure = FigureRef(
        figure_id=f"{url_hash}_figure_0",
        page_number=1,
        caption=None,
        label="image",
        image_format=doc_type,
        image_width=width,
        image_height=height,
        payload_bytes=len(data),
    )
    page = PageResult(
        page_number=1,
        content="",
        word_count=0,
        elements=[],
        tables=[],
        figures=[figure],
    )
    return ExtractionResult(doc_type=doc_type, pages=[page])
