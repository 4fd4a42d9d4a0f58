"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio ride as ``binary`` columns with a typed header; all
Spark-side plumbing (schema, Arrow batch shape, partitioning, UDF
signatures) is real and tested, and so are the fake-container decode/probe/
resize paths. Real JPEG/PNG codecs go through an OPTIONAL Pillow import
(reference asset_storage_service.py:196-239, :643-658): when Pillow is
installed the same functions decode/probe/resize real images with the
pixel-dimension bomb guard applied first (image_validator.py:13-14 caps);
``NotImplementedError`` is raised only when the codec is genuinely absent
(this container). Tests for the PIL paths skip-if-no-PIL.

Fake deterministic container (so tests/oracles can verify the plumbing):

  FIMG1 | width:u16be | height:u16be | channels:u8 | payload bytes
  FAUD1 | sample_rate:u32be | n_samples:u32be | payload bytes
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

IMG_MAGIC = b"FIMG1"
AUD_MAGIC = b"FAUD1"

IMG_META_SCHEMA = (
    "doc_id long, kind string, width long, height long, channels long, "
    "payload_bytes long, valid boolean"
)


def encode_fake_image(width: int, height: int, channels: int = 3) -> bytes:
    payload = bytes((width * height) % 251 for _ in range(16))
    return IMG_MAGIC + struct.pack(">HHB", width, height, channels) + payload


def encode_fake_audio(sample_rate: int, n_samples: int) -> bytes:
    return AUD_MAGIC + struct.pack(">II", sample_rate, n_samples) + b"\x00" * 8


def decode_media_meta(doc_id: int, blob: bytes) -> dict:
    """Pure metadata decode of the fake container (the UDF body)."""
    if blob[:5] == IMG_MAGIC and len(blob) >= 10:
        w, h, c = struct.unpack(">HHB", blob[5:10])
        return {
            "doc_id": doc_id,
            "kind": "image",
            "width": w,
            "height": h,
            "channels": c,
            "payload_bytes": len(blob) - 10,
            "valid": True,
        }
    if blob[:5] == AUD_MAGIC and len(blob) >= 13:
        sr, ns = struct.unpack(">II", blob[5:13])
        return {
            "doc_id": doc_id,
            "kind": "audio",
            "width": sr,  # sample_rate rides in width for a uniform schema
            "height": ns,
            "channels": 1,
            "payload_bytes": len(blob) - 13,
            "valid": True,
        }
    return {
        "doc_id": doc_id,
        "kind": "unknown",
        "width": 0,
        "height": 0,
        "channels": 0,
        "payload_bytes": len(blob),
        "valid": False,
    }


def media_metadata(df: "DataFrame", id_col: str = "doc_id",
                   blob_col: str = "media") -> "DataFrame":
    """Arrow-batched metadata extraction over a binary media column."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = [
                decode_media_meta(int(i), b or b"")
                for i, b in zip(
                    batch[id_col].to_numpy(), batch[blob_col].to_numpy()
                )
            ]
            yield pd.DataFrame(rows)

    return df.select(id_col, blob_col).mapInPandas(
        batch_fn, schema=IMG_META_SCHEMA
    )


FIGURE_IMAGE_SCHEMA = (
    "url string, figure_id string, page_number int, image_format string, "
    "width long, height long, image binary"
)


def render_figures(pages: "DataFrame") -> "DataFrame":
    """M11 figure image render as a Spark operator (reference
    asset_storage_service.py:643-658 exports figure images per asset).

    One output row per /Subtype /Image XObject of each PDF document, in
    page order, with the payload RENDERED stdlib-only where the encoding
    allows (JPEG pass-through, Flate/raw gray/rgb rasters re-encoded as
    real PNGs — core/pdf_extract.render_figure_images); other encodings
    emit metadata-only rows (image NULL). Non-PDF documents and
    documents that fail to parse contribute no rows — this is an asset
    side-channel; the extraction pipeline's failure taxonomy is the
    record of WHY a document yielded nothing. Arrow-batched mapInPandas,
    one pass over the corpus, no shuffle."""
    from ..core.dispatch import url_hash
    from ..core.pdf_extract import render_figure_images
    from ..core.taxonomy import ExtractionError

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for url, blob in zip(
                batch["url"].to_numpy(), batch["html"].to_numpy()
            ):
                data = bytes(blob or b"")
                if not data.startswith(b"%PDF-"):
                    continue
                try:
                    figs = render_figure_images(data, url_hash(url))
                except ExtractionError:
                    continue
                for f in figs:
                    rows.append({"url": url, **f})
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "figure_id", "page_number", "image_format",
                    "width", "height", "image",
                ],
            )

    return pages.select("url", "html").mapInPandas(
        batch_fn, schema=FIGURE_IMAGE_SCHEMA
    )


# Decompression-bomb guard (M12/D6 pixel dimension caps — reference
# src/utils/image_validator.py:13-14: 100 MP total, 8192 px per side).
# Single definition in core/image_extract.py so the header-probe path and
# this pixel path can never drift apart.
from ..core.image_extract import (  # noqa: E402
    MAX_IMAGE_DIMENSION,
    MAX_IMAGE_PIXELS,
)


def _pil():
    """Optional Pillow import: None in this container, the real module in
    production (reference image handling at asset_storage_service.py:
    196-239 get_image, :643-658 size probe)."""
    try:
        from PIL import Image
        return Image
    except ImportError:
        return None


def validate_image_dims(width: int, height: int) -> None:
    """Pixel-dimension bomb guard (reference image_validator.py:36-150):
    a 40-byte zip-bombed PNG can claim 2^31 px; cap BEFORE full decode."""
    from ..core.taxonomy import OversizeDocumentError

    if width > MAX_IMAGE_DIMENSION or height > MAX_IMAGE_DIMENSION:
        raise OversizeDocumentError(
            f"image dimension {width}x{height} exceeds "
            f"{MAX_IMAGE_DIMENSION}px cap"
        )
    if width * height > MAX_IMAGE_PIXELS:
        raise OversizeDocumentError(
            f"image {width}x{height} exceeds {MAX_IMAGE_PIXELS}px cap"
        )


def probe_image_size(blob: bytes) -> tuple[int, int]:
    """Header-only size probe (M12, reference asset_storage_service.py:
    643-658): fake container reads its 10-byte header; real codecs use
    PIL's lazy open (header parse, no pixel decode). Raises
    NotImplementedError only when the codec is genuinely unavailable."""
    blob = blob or b""
    if blob[:5] == IMG_MAGIC and len(blob) >= 10:
        w, h, _c = struct.unpack(">HHB", blob[5:10])
        return w, h
    # real codecs: the repo's own pure-stdlib header probes (PNG IHDR /
    # JPEG SOFn / GIF LSD — core/image_extract.py) cover the raster trio
    # without PIL; only exotic formats fall through to the optional gate
    from ..core.image_extract import (
        gif_dimensions,
        jpeg_dimensions,
        png_dimensions,
    )

    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        return png_dimensions(blob)
    if blob[:2] == b"\xff\xd8":
        return jpeg_dimensions(blob)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return gif_dimensions(blob)
    image_mod = _pil()
    if image_mod is None:
        raise NotImplementedError(
            "size probe beyond PNG/JPEG/GIF requires Pillow (absent in "
            "this container); the stdlib probes above are the tested shape"
        )
    import io

    with image_mod.open(io.BytesIO(blob)) as im:
        return im.size


def decode_image_pixels(blob: bytes):
    """Full pixel decode (M11) -> numpy uint8 array (h, w, c).

    Fake containers decode deterministically without any codec (payload
    bytes tiled to the declared dims — the tested shape); real JPEG/PNG
    go through Pillow when installed. Both apply the bomb guard BEFORE
    materializing pixels."""
    import numpy as np

    blob = blob or b""
    if blob[:5] == IMG_MAGIC and len(blob) >= 10:
        w, h, c = struct.unpack(">HHB", blob[5:10])
        validate_image_dims(w, h)
        payload = np.frombuffer(blob[10:], dtype=np.uint8)
        if payload.size == 0:
            payload = np.zeros(1, dtype=np.uint8)
        return np.resize(payload, (h, w, c))
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        # real PNG pixel decode, pure stdlib (core/png_codec.py — the
        # round-5 M11 closure); dims validated inside before inflate
        from ..core.png_codec import png_decode

        raw, w, h, c = png_decode(blob)
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, c)
    image_mod = _pil()
    if image_mod is None:
        raise NotImplementedError(
            "JPEG/exotic pixel decode requires Pillow (absent in this "
            "container); fake containers and real PNGs decode above"
        )
    import io

    with image_mod.open(io.BytesIO(blob)) as im:
        validate_image_dims(*im.size)
        return np.asarray(im.convert("RGB"))


def resize_images(df: "DataFrame", target: tuple[int, int]) -> "DataFrame":
    """Resize over a binary media column -> (doc_id, resized binary).

    Fake containers 're-encode' with the target dims (deterministic,
    proves the binary Arrow round-trip); real images resize through
    Pillow when installed and re-emit PNG bytes. Undecodable rows emit
    NULL."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w, h = target
        image_mod = _pil()
        for batch in batches:
            out = []
            for i, b in zip(batch["doc_id"].to_numpy(),
                            batch["media"].to_numpy()):
                b = b or b""
                meta = decode_media_meta(int(i), b)
                if meta["kind"] == "image":
                    out.append(
                        {"doc_id": int(i), "resized": encode_fake_image(
                            w, h, meta["channels"])}
                    )
                    continue
                if image_mod is not None:
                    import io

                    from ..core.taxonomy import OversizeDocumentError

                    try:
                        with image_mod.open(io.BytesIO(b)) as im:
                            validate_image_dims(*im.size)
                            buf = io.BytesIO()
                            im.convert("RGB").resize((w, h)).save(
                                buf, format="PNG"
                            )
                            out.append(
                                {"doc_id": int(i), "resized": buf.getvalue()}
                            )
                            continue
                    except OversizeDocumentError:
                        raise  # bomb guard must SURFACE, not become NULL
                    except Exception:  # noqa: BLE001 — junk rows -> NULL
                        pass
                out.append({"doc_id": int(i), "resized": None})
            yield pd.DataFrame(out)

    return df.select("doc_id", "media").mapInPandas(
        batch_fn, schema="doc_id long, resized binary"
    )
