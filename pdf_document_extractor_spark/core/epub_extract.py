"""EPUB extraction (.epub e-books), stdlib-only.

Beyond the reference's MIME table but high-volume in web crawls: an EPUB
is a PK-zip with ``META-INF/container.xml`` naming an OPF package whose
``spine`` orders XHTML chapter documents. Routed from core/dispatch.py
via extract_ooxml (zip magic) when the container part is present; each
spine chapter runs through the SAME block-scoring HTML core
(core/html_extract.py) as standalone pages, so the boilerplate rules,
table/figure capture, and whitespace semantics are pinned once.

PINNED SEMANTICS:

1. ``META-INF/container.xml`` must name a readable ``rootfile``
   full-path (first one wins); missing/malformed parts ->
   CorruptedFileError.
2. The OPF manifest maps item ids to hrefs (resolved relative to the
   OPF's directory); the spine's itemrefs order the chapters. Spine
   items whose manifest media-type is not (x)html are skipped; a spine
   referencing no readable chapter -> CorruptedFileError.
3. Chapter k (1-indexed spine position among extracted chapters) is PAGE
   k: content/elements/tables/figures come from the shared HTML block
   collector under the standalone-page rules (link-density filter,
   table exclusion, figcaption capture). An individual empty chapter
   still yields its page with empty content; ALL chapters empty ->
   EmptyContentError.
4. Figure/table ids use one GLOBAL counter across chapters
   (``{url_hash}_figure_{i}`` — deterministic, FIXTURES.md policy).
"""

from __future__ import annotations

import io
import posixpath
import urllib.parse
import zipfile
from xml.etree import ElementTree

from .html_extract import (
    _collect,
    build_page_from_collector,
    decode_html_bytes,
)
from .model import ExtractionResult, PageResult
from .taxonomy import (
    CorruptedFileError,
    EmptyContentError,
    OversizeDocumentError,
)

DOC_TYPE_EPUB = "epub"

# declared-size cap per chapter/xml part (mirrors office_extract's
# MAX_PART_BYTES zip-bomb discipline)
MAX_CHAPTER_BYTES = 256 << 20


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _parse_xml(zf: zipfile.ZipFile, name: str):
    try:
        if zf.getinfo(name).file_size > MAX_CHAPTER_BYTES:
            raise OversizeDocumentError(
                f"{name} declares {zf.getinfo(name).file_size} bytes "
                f"(> {MAX_CHAPTER_BYTES} cap) — zip bomb guard"
            )
        with zf.open(name) as fh:
            return ElementTree.parse(fh).getroot()
    except OversizeDocumentError:
        raise
    except Exception as exc:  # noqa: BLE001 — missing member / bad XML
        raise CorruptedFileError(f"malformed {name}: {exc}") from exc


def _spine_chapter_paths(zf: zipfile.ZipFile, names: set) -> list[str]:
    """container.xml -> OPF -> spine hrefs (pinned rules 1-2)."""
    container = _parse_xml(zf, "META-INF/container.xml")
    opf_path = next(
        (
            n.get("full-path")
            for n in container.iter()
            if _local(n.tag) == "rootfile" and n.get("full-path")
        ),
        None,
    )
    if opf_path is None:
        raise CorruptedFileError("container.xml names no rootfile")
    opf = _parse_xml(zf, opf_path)
    base = posixpath.dirname(opf_path)
    items: dict[str, tuple[str, str]] = {}
    for n in opf.iter():
        if _local(n.tag) == "item" and n.get("id") and n.get("href"):
            items[n.get("id")] = (
                n.get("href"),
                (n.get("media-type") or "").lower(),
            )
    out: list[str] = []
    for n in opf.iter():
        if _local(n.tag) != "itemref":
            continue
        entry = items.get(n.get("idref"))
        if entry is None:
            continue
        href, mtype = entry
        if mtype and "html" not in mtype:
            continue  # ncx/css/images in a sloppy spine
        # OPF hrefs are IRIs: spaces etc. arrive percent-encoded while
        # the zip member name is the decoded form
        href = urllib.parse.unquote(href)
        path = posixpath.normpath(posixpath.join(base, href)) if base else href
        if path in names:
            out.append(path)
    if not out:
        raise CorruptedFileError("epub spine references no readable chapter")
    return out


def extract_epub(
    zf: zipfile.ZipFile, names: set, url_hash: str
) -> ExtractionResult:
    pages: list[PageResult] = []
    fig_counter = 0
    table_counter = 0
    any_text = False
    for page_no, path in enumerate(_spine_chapter_paths(zf, names), start=1):
        info = zf.getinfo(path)
        if info.file_size > MAX_CHAPTER_BYTES:
            raise OversizeDocumentError(
                f"{path} declares {info.file_size} bytes "
                f"(> {MAX_CHAPTER_BYTES} cap) — zip bomb guard"
            )
        try:
            with zf.open(path) as fh:
                raw = fh.read()
        except Exception as exc:  # noqa: BLE001
            raise CorruptedFileError(f"unreadable chapter {path}: {exc}") from exc
        # the SHARED standalone-page builder: one definition of the
        # block/junk/table/figure rules for html pages and epub chapters
        page = build_page_from_collector(
            _collect(decode_html_bytes(raw)),
            page_no,
            url_hash,
            fig_start=fig_counter,
            table_start=table_counter,
        )
        fig_counter += len(page.figures)
        table_counter += len(page.tables)
        if page.content:
            any_text = True
        pages.append(page)
    if not any_text:
        raise EmptyContentError("no text in any epub chapter")
    return ExtractionResult(doc_type=DOC_TYPE_EPUB, pages=pages)


# --------------------------------------------------------------------------
# Fixture writer
# --------------------------------------------------------------------------

_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def write_epub(chapter_bodies: list[str]) -> bytes:
    """Chapters (inner-HTML body strings) -> deterministic EPUB bytes."""
    from xml.sax.saxutils import escape as _q

    parts: list[tuple[str, str]] = [
        ("mimetype", "application/epub+zip"),
        (
            "META-INF/container.xml",
            '<?xml version="1.0"?><container version="1.0" '
            'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles>'
            "</container>",
        ),
    ]
    manifest = "".join(
        f'<item id="ch{i}" href="ch{i}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for i in range(1, len(chapter_bodies) + 1)
    )
    spine = "".join(
        f'<itemref idref="ch{i}"/>'
        for i in range(1, len(chapter_bodies) + 1)
    )
    parts.append(
        (
            "OEBPS/content.opf",
            '<?xml version="1.0"?><package version="3.0" '
            'xmlns="http://www.idpf.org/2007/opf" unique-identifier="u">'
            f"<manifest>{manifest}</manifest><spine>{spine}</spine>"
            "</package>",
        )
    )
    for i, body in enumerate(chapter_bodies, start=1):
        parts.append(
            (
                f"OEBPS/ch{i}.xhtml",
                "<html><head><title>"
                + _q(f"ch{i}")
                + f"</title></head><body>{body}</body></html>",
            )
        )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, payload in parts:
            info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
            zf.writestr(info, payload)
    return buf.getvalue()
