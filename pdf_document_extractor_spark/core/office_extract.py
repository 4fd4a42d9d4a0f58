"""TXT and DOCX extraction (reference MIME-table parity).

The reference dispatches 10 MIME types (lib/models/mime_type.py:4-14,
routing at lib/models/mime_type_utils.py:36-77); beyond pdf/html the two a
web crawl actually yields in volume are plain text and Word documents.
Both are implemented stdlib-only: TXT is a charset-sniffed passthrough,
DOCX is ``zipfile`` + ``xml.etree`` over ``word/document.xml`` (the same
per-document semantics Docling's DOCX backend extracts for the reference:
docling_strategy_processor.py:622-712 convert; tables per the headers rule
at :1699-1726).

PINNED SEMANTICS (byte-identical invariant surface):

TXT:
 1. Bytes decode BOM-aware (UTF-8/UTF-16LE/BE BOM wins and is stripped),
    else UTF-8 with errors="replace" (shares html_extract's decoder; a
    ``<`` in the head would have routed to HTML, so the meta-charset arm
    never fires).
 2. ``content`` = the decoded text UNCHANGED (passthrough — no whitespace
    normalization); whitespace-only content raises EmptyContentError.
 3. Binary-junk guard identical to html_extract pinned rule 7: control
    chars present and (ctrl + U+FFFD) / len > 10% -> UnsupportedFormatError.
 4. One page, one "block" element spanning [0, len(content)).

OOXML routing:
 5. The payload must be a valid zip (else CorruptedFileError); the part
    decides the subtype: ``word/document.xml`` -> docx,
    ``xl/workbook.xml`` -> xlsx, ``ppt/presentation.xml`` -> pptx; none
    of them -> UnsupportedFormatError.

DOCX:
 6. Elements are matched by XML LOCAL name (namespace-prefix agnostic).
    Direct children of <body> in document order: <p> paragraphs and
    <tbl> tables. Paragraph text = concatenated descendant <t> text,
    whitespace-normalized (html_extract rule 4); empty paragraphs drop.
 7. ``content`` = kept paragraph texts joined with "\\n"; tables are
    EXCLUDED from content and emitted into ``tables`` (html rule 8
    parity): rows = <tr>, cells = <tc> (normalized descendant <t>),
    headers = first row, CSV via the shared pinned table_csv.
 8. One page; one "block" element per paragraph with exact char spans.
 9. Malformed XML raises CorruptedFileError.

XLSX:
 10. Sheets resolve in ``workbook.xml`` order via the workbook rels
     (r:id -> worksheets/sheetN.xml); sheet k is PAGE k.
 11. Cell text: t="s" -> sharedStrings entry (concat descendant <t>),
     t="inlineStr" -> concat <t> under <is>, else the raw <v> text;
     all whitespace-normalized. Rows keep document order.
 12. Page content = rows rendered as lines (cells joined with single
     spaces, lines joined "\\n"); one "block" element per row with exact
     char spans; each non-empty sheet also emits ONE TableRef (headers =
     first row, shared pinned CSV).
 13. No cell text anywhere -> EmptyContentError.

PPTX:
 14. Slides resolve in ``sldIdLst`` order via the presentation rels;
     slide k is PAGE k.
 15. A paragraph is any element with local name "p" inside the slide;
     its text = concat of descendant <t> runs, whitespace-normalized;
     empty paragraphs drop. Page content = paragraphs joined "\\n"; one
     "block" element per paragraph.
 16. All slides empty -> EmptyContentError (an individual empty slide
     still yields its page with empty content).
"""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from .html_extract import _CTRL_RE, decode_html_bytes
from .model import (
    DOC_TYPE_DOCX,
    DOC_TYPE_PPTX,
    DOC_TYPE_TXT,
    DOC_TYPE_XLSX,
    LABEL_BLOCK,
    Element,
    ExtractionResult,
    PageResult,
    TableRef,
    normalize_ws,
    table_csv,
    word_count,
)
from .taxonomy import (
    CorruptedFileError,
    EmptyContentError,
    OversizeDocumentError,
    UnsupportedFormatError,
)

# Zip-bomb guard: cap the DECLARED decompressed size of any part we parse
# (a 42 KB bomb can declare 4 GB of document.xml; at 10^12 docs one such
# page must cost a failure row, not an executor OOM).
MAX_PART_BYTES = 256 << 20


def extract_txt(data: bytes, url_hash: str) -> ExtractionResult:
    """Plain-text passthrough extraction (pinned rules 1-4)."""
    content = decode_html_bytes(data)
    if not content.strip():
        raise EmptyContentError("empty text document")
    ctrl = len(_CTRL_RE.findall(content))
    if ctrl > 0:
        repl = content.count("�")
        if (ctrl + repl) / len(content) > 0.10:
            raise UnsupportedFormatError(
                "binary payload without recognized magic bytes"
            )
    page = PageResult(
        page_number=1,
        content=content,
        word_count=word_count(content),
        elements=[
            Element(
                text=content,
                label=LABEL_BLOCK,
                page_no=1,
                bbox=None,
                char_start=0,
                char_end=len(content),
            )
        ],
        tables=[],
        figures=[],
    )
    return ExtractionResult(doc_type=DOC_TYPE_TXT, pages=[page])


def _local(tag: str) -> str:
    """XML local name ('{ns}p' -> 'p'); pinned rule 6."""
    return tag.rsplit("}", 1)[-1]


def _node_text(node) -> str:
    """Concatenated descendant <t> text (w:t/a:t/t carry all run text)."""
    parts = [t.text or "" for t in node.iter() if _local(t.tag) == "t"]
    return normalize_ws("".join(parts))


def _parse_part(zf: zipfile.ZipFile, name: str):
    try:
        if zf.getinfo(name).file_size > MAX_PART_BYTES:
            raise OversizeDocumentError(
                f"{name} declares {zf.getinfo(name).file_size} bytes "
                f"(> {MAX_PART_BYTES} cap) — zip bomb guard"
            )
        with zf.open(name) as fh:
            return ElementTree.parse(fh).getroot()
    except OversizeDocumentError:
        raise
    except Exception as exc:  # noqa: BLE001 — encrypted members raise
        # RuntimeError, exotic compression NotImplementedError, CRC errors
        # BadZipFile, bad XML ParseError: ALL must become taxonomy rows
        raise CorruptedFileError(f"malformed {name}: {exc}") from exc


def extract_ooxml(data: bytes, url_hash: str) -> ExtractionResult:
    """PK-zip payloads: route by contained part (pinned rule 5)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
        names = set(zf.namelist())
    except Exception as exc:  # noqa: BLE001 — any unreadable container
        raise CorruptedFileError(f"corrupt zip container: {exc}") from exc
    if "word/document.xml" in names:
        return _docx_from_zip(zf, url_hash)
    if "xl/workbook.xml" in names:
        return _xlsx_from_zip(zf, names, url_hash)
    if "ppt/presentation.xml" in names:
        return _pptx_from_zip(zf, names, url_hash)
    if "META-INF/container.xml" in names:
        # EPUB e-book (round 4): spine of XHTML chapters through the
        # shared HTML block-scoring core
        from .epub_extract import extract_epub

        return extract_epub(zf, names, url_hash)
    if "content.xml" in names:
        # OpenDocument container (odt/ods — round 4)
        from .odf_extract import extract_odf

        return extract_odf(zf, url_hash)
    raise UnsupportedFormatError(
        "zip container without a recognized ooxml/odf part"
    )


def _docx_from_zip(zf: zipfile.ZipFile, url_hash: str) -> ExtractionResult:
    """DOCX extraction (pinned rules 6-9)."""
    root = _parse_part(zf, "word/document.xml")
    body = next((c for c in root if _local(c.tag) == "body"), None)
    if body is None:
        raise CorruptedFileError("word/document.xml has no <body>")

    paragraphs: list[str] = []
    raw_tables: list[list[list[str]]] = []
    for child in body:
        kind = _local(child.tag)
        if kind == "p":
            text = _node_text(child)
            if text:
                paragraphs.append(text)
        elif kind == "tbl":
            # DIRECT children only: a table nested inside a cell must not
            # flatten its rows into the outer TableRef (its text already
            # rides in the containing cell via _node_text)
            rows = []
            for tr in (n for n in child if _local(n.tag) == "tr"):
                cells = [
                    _node_text(tc)
                    for tc in tr
                    if _local(tc.tag) == "tc"
                ]
                if cells:
                    rows.append(cells)
            if rows:
                # w:gridSpan / w:vMerge anywhere in the table marks merged
                # cells (reference TableMetadata.has_merged_cells,
                # lib/models/extraction_models.py:151-179)
                merged = any(
                    _local(n.tag) in ("gridSpan", "vMerge")
                    for n in child.iter()
                )
                raw_tables.append((rows, merged))

    content = "\n".join(paragraphs)
    if not content:
        raise EmptyContentError("empty extracted content")

    elements: list[Element] = []
    offset = 0
    for text in paragraphs:
        elements.append(
            Element(
                text=text,
                label=LABEL_BLOCK,
                page_no=1,
                bbox=None,
                char_start=offset,
                char_end=offset + len(text),
            )
        )
        offset += len(text) + 1

    tables = [
        TableRef(
            table_id=f"{url_hash}_table_{ti}",
            page_number=1,
            num_rows=len(rows),
            num_cols=max(len(r) for r in rows),
            headers=tuple(rows[0]),
            cell_count=sum(len(r) for r in rows),
            csv=table_csv(rows),
            has_merged_cells=merged,
        )
        for ti, (rows, merged) in enumerate(raw_tables)
    ]

    page = PageResult(
        page_number=1,
        content=content,
        word_count=word_count(content),
        elements=elements,
        tables=tables,
        figures=[],
    )
    return ExtractionResult(doc_type=DOC_TYPE_DOCX, pages=[page])


# --------------------------------------------------------------------------
# XLSX (pinned rules 10-13)
# --------------------------------------------------------------------------

_REL_ID_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)


def _rel_targets(zf: zipfile.ZipFile, names: set, rels_name: str) -> dict:
    """Relationship Id -> Target map from a .rels part (empty if absent)."""
    if rels_name not in names:
        return {}
    root = _parse_part(zf, rels_name)
    out = {}
    for rel in root.iter():
        if _local(rel.tag) == "Relationship":
            rid, target = rel.get("Id"), rel.get("Target")
            if rid and target:
                out[rid] = target
    return out


def _ordered_parts(
    zf: zipfile.ZipFile,
    names: set,
    index_part: str,
    rels_part: str,
    entry_local: str,
    base: str,
) -> list[str]:
    """Resolve sub-part paths in index order via rels (rule 10/14)."""
    root = _parse_part(zf, index_part)
    rels = _rel_targets(zf, names, rels_part)
    out = []
    for node in root.iter():
        if _local(node.tag) != entry_local:
            continue
        rid = node.get(_REL_ID_ATTR) or next(
            (v for k, v in node.attrib.items() if _local(k) == "id"), None
        )
        target = rels.get(rid)
        if target is None:
            continue
        path = target.lstrip("/") if target.startswith("/") else base + target
        if path in names:
            out.append(path)
    return out


def _shared_strings(zf: zipfile.ZipFile, names: set) -> list[str]:
    if "xl/sharedStrings.xml" not in names:
        return []
    root = _parse_part(zf, "xl/sharedStrings.xml")
    return [_node_text(si) for si in root if _local(si.tag) == "si"]


def _cell_text(c, shared: list[str]) -> str | None:
    ctype = c.get("t", "n")
    if ctype == "s":
        v = next((x for x in c if _local(x.tag) == "v"), None)
        if v is None or v.text is None:
            return None
        try:
            idx = int(v.text)
            if idx < 0:  # Python negative indexing would silently
                raise IndexError(idx)  # return the WRONG entry
            return shared[idx]
        except (ValueError, IndexError) as exc:
            raise CorruptedFileError(
                f"bad sharedStrings index {v.text!r}"
            ) from exc
    if ctype == "inlineStr":
        is_el = next((x for x in c if _local(x.tag) == "is"), None)
        return _node_text(is_el) if is_el is not None else None
    v = next((x for x in c if _local(x.tag) == "v"), None)
    if v is None or v.text is None:
        return None
    return normalize_ws(v.text)


def _xlsx_from_zip(
    zf: zipfile.ZipFile, names: set, url_hash: str
) -> ExtractionResult:
    shared = _shared_strings(zf, names)
    sheet_paths = _ordered_parts(
        zf, names, "xl/workbook.xml", "xl/_rels/workbook.xml.rels",
        "sheet", "xl/",
    )
    pages: list[PageResult] = []
    table_counter = 0
    any_text = False
    for page_no, path in enumerate(sheet_paths, start=1):
        root = _parse_part(zf, path)
        rows: list[list[str]] = []
        for row in (n for n in root.iter() if _local(n.tag) == "row"):
            cells = [
                t
                for c in row
                if _local(c.tag) == "c"
                and (t := _cell_text(c, shared)) is not None
            ]
            if cells:
                rows.append(cells)
        lines = [" ".join(r) for r in rows]
        content = "\n".join(lines)
        if content:
            any_text = True
        elements: list[Element] = []
        offset = 0
        for line in lines:
            elements.append(
                Element(
                    text=line,
                    label=LABEL_BLOCK,
                    page_no=page_no,
                    bbox=None,
                    char_start=offset,
                    char_end=offset + len(line),
                )
            )
            offset += len(line) + 1
        tables = []
        if rows:
            # a <mergeCells> block in the sheet marks merged ranges
            # (reference TableMetadata.has_merged_cells)
            merged = any(_local(n.tag) == "mergeCell" for n in root.iter())
            tables.append(
                TableRef(
                    table_id=f"{url_hash}_table_{table_counter}",
                    page_number=page_no,
                    num_rows=len(rows),
                    num_cols=max(len(r) for r in rows),
                    headers=tuple(rows[0]),
                    cell_count=sum(len(r) for r in rows),
                    csv=table_csv(rows),
                    has_merged_cells=merged,
                )
            )
            table_counter += 1
        pages.append(
            PageResult(
                page_number=page_no,
                content=content,
                word_count=word_count(content),
                elements=elements,
                tables=tables,
                figures=[],
            )
        )
    if not any_text:
        raise EmptyContentError("no cell text in workbook")
    return ExtractionResult(doc_type=DOC_TYPE_XLSX, pages=pages)


# --------------------------------------------------------------------------
# PPTX (pinned rules 14-16)
# --------------------------------------------------------------------------


def _pptx_from_zip(
    zf: zipfile.ZipFile, names: set, url_hash: str
) -> ExtractionResult:
    slide_paths = _ordered_parts(
        zf, names, "ppt/presentation.xml", "ppt/_rels/presentation.xml.rels",
        "sldId", "ppt/",
    )
    pages: list[PageResult] = []
    any_text = False
    for page_no, path in enumerate(slide_paths, start=1):
        root = _parse_part(zf, path)
        paragraphs = [
            t
            for p in root.iter()
            if _local(p.tag) == "p"
            if (t := _node_text(p))
        ]
        content = "\n".join(paragraphs)
        if content:
            any_text = True
        elements: list[Element] = []
        offset = 0
        for text in paragraphs:
            elements.append(
                Element(
                    text=text,
                    label=LABEL_BLOCK,
                    page_no=page_no,
                    bbox=None,
                    char_start=offset,
                    char_end=offset + len(text),
                    # reference elements carry a separate slide counter for
                    # presentation sources (docling_strategy_processor.py:
                    # 1482-1510); slides ARE our pages, so slide_no==page_no
                    slide_no=page_no,
                )
            )
            offset += len(text) + 1
        pages.append(
            PageResult(
                page_number=page_no,
                content=content,
                word_count=word_count(content),
                elements=elements,
                tables=[],
                figures=[],
            )
        )
    if not any_text:
        raise EmptyContentError("no text in presentation")
    return ExtractionResult(doc_type=DOC_TYPE_PPTX, pages=pages)
