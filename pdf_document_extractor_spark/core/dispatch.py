"""Batched byte-stream dispatch: magic-byte sniff + extractor registry.

Upgrades the reference's extension-based MIME detection
(lib/models/mime_type_utils.py:36-77) to magic-byte sniffing per the north
rule (Common-Crawl payloads are raw bytes, not trusted extensions):
``%PDF-`` => pdf; ``PK\\x03\\x04`` => ooxml container (the contained part
decides docx/xlsx/pptx, all three extracted); ``{\\rtf`` => rtf;
``\\x89PNG``/``\\xff\\xd8\\xff`` => image metadata extraction; markup
(a ``<`` in the head) => html; other non-empty printable bytes => txt.
The strategy-registry shape mirrors the reference's
``DocumentProcessingStrategy`` protocol + orchestrator routing
(src/interfaces/document_processor.py:10-83;
src/services/processing_orchestrator.py:68-122) without the service wrapper.
"""

from __future__ import annotations

import hashlib

from .html_extract import extract_html
from .image_extract import extract_image
from .ole_extract import extract_ole2
from .model import (
    DOC_TYPE_GIF,
    DOC_TYPE_HTML,
    DOC_TYPE_JPG,
    DOC_TYPE_OOXML,
    DOC_TYPE_PDF,
    DOC_TYPE_PNG,
    DOC_TYPE_RTF,
    DOC_TYPE_TXT,
    ExtractionResult,
)
from .office_extract import extract_ooxml, extract_txt
from .pdf_extract import extract_pdf
from .render import rerender_pages
from .rtf_extract import RTF_MAGIC, extract_rtf
from .taxonomy import classify_error

PDF_MAGIC = b"%PDF-"
ZIP_MAGIC = b"PK\x03\x04"

# Known non-extractable container magics -> typed hard failures. These
# formats are RECOGNIZED (named in the failure row) even though extraction
# is out of scope. Everything else falls through to the HTML/TXT paths,
# whose binary-junk guards catch the residue (html_extract.py pinned
# rule 7). PNG/JPEG/GIF route to the image-metadata extractor and gzip
# streams decompress transparently (round 4) — crawl payloads routinely
# arrive gzip-wrapped when upstream mishandled Content-Encoding.
CONTAINER_MAGICS: tuple[tuple[bytes, str], ...] = (
    (b"%!PS", "postscript document"),
)

GZIP_MAGIC = b"\x1f\x8b"
# decompressed-payload bomb guard (a 42-byte gzip can declare 4 GB)
MAX_GUNZIP_BYTES = 256 << 20
# gzip-in-gzip nesting cap (crafted-input territory beyond 3)
MAX_GZIP_DEPTH = 3


def _gunzip_payload(data: bytes) -> bytes:
    """Bounded transparent gunzip of a crawl payload (typed errors).
    RFC 1952 allows CONCATENATED members and crawl servers routinely emit
    them — all members decompress (a first-member-only read would commit
    a silent-truncation success row), sharing one total-size budget."""
    import zlib

    from .taxonomy import CorruptedFileError, OversizeDocumentError

    out = bytearray()
    try:
        while data:
            d = zlib.decompressobj(wbits=31)  # gzip wrapper
            out += d.decompress(data, MAX_GUNZIP_BYTES - len(out) + 1)
            if len(out) > MAX_GUNZIP_BYTES or d.unconsumed_tail:
                raise OversizeDocumentError(
                    f"gzip payload inflates past {MAX_GUNZIP_BYTES} bytes"
                )
            if not d.eof:
                raise CorruptedFileError("truncated gzip payload")
            data = d.unused_data.lstrip(b"\x00")  # next member (if any)
            if data and data[:2] != GZIP_MAGIC:
                break  # trailing garbage: keep what decoded
    except zlib.error as exc:
        raise CorruptedFileError(f"gzip decode failed: {exc}") from exc
    return bytes(out)

# magic constants come from the modules that parse them — the sniffer
# and the extractor can never drift apart (same rule as the image caps)
from .cfb import CFB_MAGIC as OLE2_MAGIC  # noqa: E402
from .image_extract import GIF_MAGICS, JPEG_MAGIC, PNG_MAGIC  # noqa: E402

DOC_TYPE_OLE2 = "ole2"  # sniffed container before doc/xls subtype resolves

# How many leading bytes decide html-vs-txt (pinned: a '<' anywhere in the
# head means markup; whitespace-only/empty heads stay on the html path so
# empty payloads keep their historical html EmptyContentError taxonomy).
TEXT_SNIFF_WINDOW = 512


def url_hash(url: str) -> str:
    """Deterministic 16-hex-char document id prefix. Replaces the
    reference's uuid4-based asset ids (docling_strategy_processor.py:1550,
    1665) per the determinism policy (FIXTURES.md)."""
    return hashlib.md5(url.encode("utf-8")).hexdigest()[:16]


def sniff_doc_type(data: bytes) -> str:
    """Magic-byte dispatch (north rule): %PDF- => pdf, PK zip => ooxml
    (the contained part decides docx/xlsx/pptx), {\\rtf => rtf, PNG/JPEG
    magics => image metadata, '<' in the head => html, other
    non-whitespace heads => txt."""
    if data[:5] == PDF_MAGIC:
        return DOC_TYPE_PDF
    if data[:4] == ZIP_MAGIC:
        return DOC_TYPE_OOXML
    if data[: len(RTF_MAGIC)] == RTF_MAGIC:
        return DOC_TYPE_RTF
    if data[: len(PNG_MAGIC)] == PNG_MAGIC:  # full 8-byte signature
        return DOC_TYPE_PNG
    if data[: len(JPEG_MAGIC)] == JPEG_MAGIC:
        return DOC_TYPE_JPG
    if data[:6] in GIF_MAGICS:
        return DOC_TYPE_GIF
    if data[: len(OLE2_MAGIC)] == OLE2_MAGIC:
        return DOC_TYPE_OLE2
    head = data[:TEXT_SNIFF_WINDOW]
    if b"<" in head:
        return DOC_TYPE_HTML
    if head.strip():
        return DOC_TYPE_TXT
    return DOC_TYPE_HTML


# Extractor registry: doc_type -> callable(bytes, url_hash) -> ExtractionResult.
# Open/closed like the reference's add_strategy
# (processing_orchestrator.py:270-272) — register new formats here.
EXTRACTORS = {
    DOC_TYPE_PDF: extract_pdf,
    DOC_TYPE_HTML: extract_html,
    DOC_TYPE_TXT: extract_txt,
    DOC_TYPE_OOXML: extract_ooxml,
    DOC_TYPE_RTF: extract_rtf,
    DOC_TYPE_PNG: extract_image,
    DOC_TYPE_JPG: extract_image,
    DOC_TYPE_GIF: extract_image,
    DOC_TYPE_OLE2: extract_ole2,
}


def extract_document(
    url: str, data: bytes, output_format: str = "text"
) -> ExtractionResult:
    """Sniff + extract one document; never raises for HARD failures —
    returns a failure-taxonomy result instead (poison-pill discipline,
    reference kafka_message_handler.py:126-161). SOFT (transient) failures
    re-raise so the task layer retries (reference: raise => no Kafka commit
    => redelivery). ``output_format`` selects the content renderer (M4):
    'html' and 'json' re-render every doc type; 'text' (default),
    'markdown' and any other value differ on PDF pages only."""
    uh = url_hash(url)
    data = data or b""
    # transparent gunzip BEFORE sniffing: the document type is the INNER
    # payload's (the gzip wrapper is transport, like a mislabeled
    # Content-Encoding); nesting capped, typed errors inside
    depth = 0
    while data[:2] == GZIP_MAGIC and depth < MAX_GZIP_DEPTH:
        try:
            data = _gunzip_payload(data)
        except BaseException as exc:  # noqa: BLE001 — taxonomy decides
            status, error_type, message = classify_error(exc)
            if status == "soft_failure":
                raise
            return ExtractionResult(
                doc_type="gzip",
                status=status,
                error_type=error_type,
                error_message=message,
                pages=[],
            )
        depth += 1
    if data[:2] == GZIP_MAGIC and depth >= MAX_GZIP_DEPTH:
        # nesting beyond the cap is crafted-input territory: a TYPED
        # gzip row, not a mislabeled txt/html junk failure
        return ExtractionResult(
            doc_type="gzip",
            status="hard_failure",
            error_type="CorruptedFileError",
            error_message=f"gzip nesting exceeds {MAX_GZIP_DEPTH} levels",
            pages=[],
        )
    for magic, label in CONTAINER_MAGICS:
        if data[: len(magic)] == magic:
            return ExtractionResult(
                doc_type="unsupported",
                status="hard_failure",
                error_type="UnsupportedFormatError",
                error_message=f"unsupported format: {label}",
                pages=[],
            )
    doc_type = sniff_doc_type(data)
    try:
        # M4: the reference exports ANY converted doc in the configured
        # output format. PDF renders in-extractor (it interleaves tables
        # positionally); every other type re-renders here from the element
        # stream (core/render.py pinned semantics; html/json only).
        if doc_type == DOC_TYPE_PDF:
            return EXTRACTORS[doc_type](data, uh, output_format)
        result = EXTRACTORS[doc_type](data, uh)
        rerender_pages(result, output_format)
        return result
    except BaseException as exc:  # noqa: BLE001 — taxonomy decides
        status, error_type, message = classify_error(exc)
        if status == "soft_failure":
            raise
        return ExtractionResult(
            doc_type=doc_type,
            status=status,
            error_type=error_type,
            error_message=message,
            pages=[],
        )
