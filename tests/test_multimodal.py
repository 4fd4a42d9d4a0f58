"""Image path tests: PNG/JPEG/GIF header probes and the one pixel-
dimension bomb guard (core/image_extract.py), the stdlib PNG codec, the
figure render (core/pdf_extract + operators/multimodal.render_figures),
and the core layering rule."""

from __future__ import annotations

import ast
import pathlib

import pytest


def test_pixel_bomb_guard():
    from pdf_document_extractor_spark.core.image_extract import (
        validate_image_dims,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        CorruptedFileError,
        OversizeDocumentError,
    )

    with pytest.raises(OversizeDocumentError):
        validate_image_dims(9000, 10)  # per-side cap (8192)
    with pytest.raises(OversizeDocumentError):
        validate_image_dims(8192, 8192 + 1)
    validate_image_dims(8192, 8192)  # 67 MP, both caps satisfied
    with pytest.raises(CorruptedFileError):
        validate_image_dims(0, 5)  # zero side is corrupt, not a bomb


def test_core_imports_no_upper_layer():
    """core/ is the bottom layer: no module in it may import from
    operators, plans, streaming or sources (function-level imports
    included)."""
    pkg = ["pdf_document_extractor_spark", "core"]
    upper = {"operators", "plans", "streaming", "sources"}
    core = pathlib.Path(__file__).resolve().parents[1].joinpath(*pkg)
    bad = []
    for path in sorted(core.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                targets = [alias.name for alias in node.names]
            elif isinstance(node, ast.ImportFrom):
                # resolve relative imports against pdf_document_extractor_spark.core
                base = pkg[: len(pkg) + 1 - node.level] if node.level else []
                if node.module:
                    targets = [".".join(base + [node.module])]
                else:
                    targets = [".".join(base + [a.name]) for a in node.names]
            else:
                continue
            for target in targets:
                head = target.split(".")[:2]
                if head[0] == pkg[0] and head[1:] and head[1] in upper:
                    bad.append(f"{path.name}:{node.lineno} {target}")
    assert bad == []


# ---------------------------------------------------------------------------
# Image-input extraction (round 3): PNG IHDR / JPEG SOFn header probes
# ---------------------------------------------------------------------------


def test_png_jpeg_dimension_probes():
    from pdf_document_extractor_spark.core.image_extract import (
        jpeg_dimensions,
        png_dimensions,
    )
    from pdf_document_extractor_spark.sources.pages import (
        synth_jpeg_payload,
        synth_png_payload,
    )

    assert png_dimensions(synth_png_payload(640, 480)) == (640, 480)
    assert jpeg_dimensions(synth_jpeg_payload(123, 45)) == (123, 45)


def test_image_extract_success_row():
    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.sources.pages import (
        synth_jpeg_payload,
        synth_png_payload,
    )

    res = extract_document("https://x/img/2", synth_png_payload(20, 30))
    assert res.status == "success" and res.doc_type == "png"
    (fig,) = res.pages[0].figures
    assert (fig.image_format, fig.image_width, fig.image_height) == ("png", 20, 30)
    assert fig.payload_bytes > 0 and fig.label == "image"
    assert res.pages[0].content == "" and res.pages[0].word_count == 0

    res = extract_document("https://x/img/3", synth_jpeg_payload(99, 7))
    assert res.doc_type == "jpg"
    assert res.pages[0].figures[0].image_width == 99


def test_image_corrupt_and_bomb_taxonomy():
    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.sources.pages import (
        synth_jpeg_payload,
        synth_png_payload,
    )

    # truncated PNG -> CorruptedFileError hard failure
    res = extract_document("https://x/img/0", b"\x89PNG\r\n\x1a\nxx")
    assert (res.status, res.error_type) == ("hard_failure", "CorruptedFileError")
    # jpeg with no SOF -> CorruptedFileError
    res = extract_document("https://x/img/1", b"\xff\xd8\xff\xd9")
    assert res.error_type == "CorruptedFileError"
    # dimension bomb -> OversizeDocumentError BEFORE any decode
    res = extract_document("https://x/img/4", synth_png_payload(1 << 20, 2))
    assert res.error_type == "OversizeDocumentError"
    res = extract_document("https://x/img/5", synth_jpeg_payload(9000, 9000))
    assert res.error_type == "OversizeDocumentError"
    # zero dims are corrupt, not a bomb
    res = extract_document("https://x/img/6", synth_png_payload(0, 5))
    assert res.error_type == "CorruptedFileError"


def test_jpeg_probe_walks_app_segments():
    import struct

    from pdf_document_extractor_spark.core.image_extract import jpeg_dimensions

    # SOI + two APPn/comment segments before the SOF0
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    app1 = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    sof2 = (
        b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 11, 22) + b"\x01\x11\x00"
    )
    assert jpeg_dimensions(b"\xff\xd8" + com + app1 + sof2 + b"\xff\xd9") == (22, 11)


def test_gif_extracts_metadata_since_round4():
    """GIF graduated from named-unsupported to a metadata extraction
    (logical screen descriptor probe), completing the raster trio."""
    import struct

    from pdf_document_extractor_spark.core.dispatch import extract_document

    gif = b"GIF89a" + struct.pack("<HH", 37, 21) + b"\x00\x00\x00\x3b"
    res = extract_document("https://x/img/7", gif)
    assert res.status == "success" and res.doc_type == "gif"
    f = res.pages[0].figures[0]
    assert (f.image_format, f.image_width, f.image_height) == ("gif", 37, 21)
    # zero-dimension screen descriptor -> typed corrupt
    res = extract_document("https://x/img/7", b"GIF89a" + b"\x00" * 10)
    assert res.error_type == "CorruptedFileError"
    # dimension bomb guard applies to gif too
    bomb = b"GIF89a" + struct.pack("<HH", 9000, 9000) + b"\x00\x00\x00\x3b"
    res = extract_document("https://x/img/7", bomb)
    assert res.error_type == "OversizeDocumentError"


def test_real_codec_gate_narrowed_to_jpeg_pixels():
    """Real PNGs probe AND pixel-decode stdlib-only (core/png_codec.py),
    and the probe and the decode agree on the size. JPEG is header-probed
    only: no JPEG pixel decoder exists, and the one pixel decoder rejects
    JPEG bytes typed."""
    from pdf_document_extractor_spark.core.image_extract import (
        jpeg_dimensions,
        png_dimensions,
    )
    from pdf_document_extractor_spark.core.png_codec import (
        png_decode,
        png_encode,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        CorruptedFileError,
    )

    raw = bytes(i % 256 for i in range(13 * 7 * 3))
    png = png_encode(raw, 13, 7, 3)
    assert png_dimensions(png) == (13, 7)
    assert png_decode(png) == (raw, 13, 7, 3)
    # minimal JPEG with SOF0 13x7: the header probe is stdlib...
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0" + b"\x00\x11" + b"\x08" + (7).to_bytes(2, "big")
        + (13).to_bytes(2, "big") + b"\x03" + b"\x01\x11\x00" * 3
        + b"\xff\xd9"
    )
    assert jpeg_dimensions(jpeg) == (13, 7)
    # ...and its pixels are never decoded
    with pytest.raises(CorruptedFileError, match="not a png signature"):
        png_decode(jpeg)


def test_png_codec_roundtrip_and_typed_degrades():
    """Pure-stdlib PNG codec (round-5 M11 closure): encode->decode is
    byte-identity for 8-bit gray/gray+A/RGB/RGBA; foreign chunk layouts
    decode; palette, 16-bit and interlaced files degrade TYPED; bombs
    and zero dimensions fail before inflate."""
    import random
    import struct
    import zlib

    from pdf_document_extractor_spark.core.png_codec import (
        png_decode,
        png_encode,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        CorruptedFileError,
        OversizeDocumentError,
        UnsupportedFormatError,
    )

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    def gray_png(width, height, idat):
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 0,
                                         0, 0, 0))
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )

    rng = random.Random(11)
    for w, h, c in [(1, 1, 1), (13, 5, 3), (31, 7, 4), (2, 3, 2)]:
        raw = bytes(rng.randrange(256) for _ in range(w * h * c))
        assert png_decode(png_encode(raw, w, h, c)) == (raw, w, h, c)
    # foreign-assembled RGBA 1x1 (zlib level 9, two IDAT chunks — a
    # shape our own encoder never writes)
    idat = zlib.compress(b"\x00\x10\x20\x30\x40", 9)
    png_1x1 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", idat[:4])
        + chunk(b"IDAT", idat[4:])
        + chunk(b"IEND", b"")
    )
    assert png_decode(png_1x1) == (b"\x10\x20\x30\x40", 1, 1, 4)
    # the round-3 hex fixture is a MALFORMED png (IDAT declares 13
    # bytes, carries 16): the codec must reject it typed, not decode
    # garbage
    bad = bytes.fromhex(
        "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c489"
        "0000000d49444154789c626001000000ffff03000006000557bfabd40000000049"
        "454e44ae426082"
    )
    with pytest.raises(CorruptedFileError):
        png_decode(bad)
    # zero dimensions are corrupt (the same guard as image documents),
    # even when the IDAT holds exactly the filter bytes they imply
    with pytest.raises(CorruptedFileError, match="non-positive"):
        png_decode(gray_png(0, 5, zlib.compress(b"\x00" * 5)))
    with pytest.raises(CorruptedFileError, match="non-positive"):
        png_decode(gray_png(5, 0, zlib.compress(b"")))
    base = png_encode(b"\x00" * 64, 8, 8, 1)
    # palette color type -> typed unsupported
    pal = bytearray(base)
    pal[25] = 3  # IHDR color type byte
    struct.pack_into(
        ">I", pal, 29, zlib.crc32(bytes(pal[12:29])) & 0xFFFFFFFF
    )
    with pytest.raises(UnsupportedFormatError, match="color type"):
        png_decode(bytes(pal))
    # dimension bomb rejected before any inflate
    bomb = bytearray(base)
    struct.pack_into(">II", bomb, 16, 60000, 60000)
    with pytest.raises(OversizeDocumentError):
        png_decode(bytes(bomb))
    # truncated IDAT -> typed corrupt
    with pytest.raises(CorruptedFileError):
        png_decode(base[:40])
    # OVERSIZED IDAT (more rows than IHDR declares) -> typed corrupt,
    # not a silent truncation (found in round-5 self-review: the first
    # implementation never fed unconsumed_tail back to the inflater)
    over = gray_png(1, 1, zlib.compress((b"\x00" + b"\x07") * 3, 6))
    with pytest.raises(CorruptedFileError, match="larger than declared"):
        png_decode(over)


def test_scanned_figure_png_is_byte_pinned():
    """The mm_figure_render oracle pins md5/len of the scanned fixture's
    PNG. Re-assemble that PNG INDEPENDENTLY (raw chunk construction,
    no png_codec involvement) and check the pinned constants against
    it — the oracle is not self-referential."""
    import hashlib
    import struct
    import zlib

    from pdf_document_extractor_spark.core.pdf_extract import (
        render_figure_images,
    )
    from pdf_document_extractor_spark.core.pdf_write import write_pdf_scanned

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    rows = (b"\x00" + b"\x00" * 8) * 8  # filter-0 rows of gray zeros
    expected = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(rows, 6))
        + chunk(b"IEND", b"")
    )
    assert len(expected) == 69
    assert hashlib.md5(expected).hexdigest() == (
        "38289fc7244edfa7c22af65f3d6ed8fd"
    )
    figs = render_figure_images(write_pdf_scanned(), "p" * 16)
    assert figs[0]["image"] == expected
    assert figs[0]["image_format"] == "png"


def test_render_figures_operator(spark):
    """render_figures: PDF docs emit page-ordered figure rows with
    rendered payloads; non-PDF and unparseable docs contribute none."""
    from pdf_document_extractor_spark.core.png_codec import png_decode
    from pdf_document_extractor_spark.operators.multimodal import (
        render_figures,
    )
    from pdf_document_extractor_spark.core.pdf_write import write_pdf_scanned
    from pdf_document_extractor_spark.sources.pages import PAGES_SCHEMA

    rows = [
        ("u1", None, write_pdf_scanned(n_pages=2), "", "en"),
        ("u2", None, b"<html><p>no figures</p></html>", "", "en"),
        ("u3", None, b"%PDF-1.4 broken", "", "en"),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = render_figures(pages).collect()
    assert [r["url"] for r in out] == ["u1", "u1"]
    assert [r["page_number"] for r in out] == [1, 2]
    raw, w, h, c = png_decode(bytes(out[0]["image"]))
    assert (w, h, c) == (8, 8, 1) and raw == b"\x00" * 64


def test_figure_render_jpeg_passthrough_and_exotic_metadata_only():
    """A /DCTDecode image XObject's payload IS a JPEG file — it must
    pass through byte-identical with image_format='jpeg'; an exotic
    encoding (CCITTFaxDecode) yields a metadata-only row (image NULL),
    never a garbage render. Also covers the scanned-success figure
    metadata for non-Flate images."""
    from pdf_document_extractor_spark.core.pdf_extract import (
        extract_pdf,
        render_figure_images,
    )
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0" + b"\x00\x11" + b"\x08" + (7).to_bytes(2, "big")
        + (13).to_bytes(2, "big") + b"\x03" + b"\x01\x11\x00" * 3
        + b"\xff\xd9"
    )
    img_dct = (
        b"<< /Type /XObject /Subtype /Image /Width 13 /Height 7 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length %d >>\nstream\n" % len(jpeg) + jpeg + b"\nendstream"
    )
    fax = b"\x00\x01\x02\x03"
    img_fax = (
        b"<< /Type /XObject /Subtype /Image /Width 4 /Height 2 "
        b"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
        b"/Length %d >>\nstream\n" % len(fax) + fax + b"\nendstream"
    )
    content = b"q /ImA Do Q q /ImB Do Q"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /XObject "
        b"<< /ImA 5 0 R /ImB 6 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n" % len(content)
        + content + b"\nendstream",
        img_dct,
        img_fax,
    ]
    doc = _serialize_classic(objects)
    figs = render_figure_images(doc, "j" * 16)
    by_fmt = {f["image_format"]: f for f in figs}
    assert by_fmt["jpeg"]["image"] == jpeg  # byte-identical passthrough
    assert (by_fmt["jpeg"]["width"], by_fmt["jpeg"]["height"]) == (13, 7)
    assert by_fmt["tiff"]["image"] is None  # metadata-only, no garbage
    # the scanned-success path reports the same metadata (no pixels read)
    r = extract_pdf(doc, "j" * 16)
    assert r.status == "success"
    fmts = sorted(f.image_format for f in r.pages[0].figures)
    assert fmts == ["jpeg", "tiff"]
