"""OpenDocument extraction (.odt text, .ods spreadsheets), stdlib-only.

Beyond the reference's 10 MIME types (lib/models/mime_type.py:4-14) but
inside the task mandate: LibreOffice/OpenOffice documents circulate in
web crawls in volume, and they are PK-zip containers the magic-byte
dispatcher already routes (core/dispatch.py -> extract_ooxml -> here when
``content.xml`` is present without any OOXML part). Output contract is
identical to the docx/xlsx paths (same PageResult/TableRef structs, same
shared pinned CSV export).

PINNED SEMANTICS (byte-identical invariant surface):

1. The container must hold ``content.xml`` (checked by the router); its
   ``office:body`` child decides the subtype by LOCAL name:
   ``text`` -> odt, ``spreadsheet`` -> ods, anything else ->
   UnsupportedFormatError. Malformed XML -> CorruptedFileError.

ODT:
2. Paragraphs are elements with local name ``p`` or ``h`` in document
   order under the body, EXCLUDING any inside a ``table`` subtree (their
   text rides in the table cells). Paragraph text = concatenated
   descendant text (``itertext``), whitespace-normalized; empty
   paragraphs drop. ``text:s``/``text:tab`` expansion is NOT applied
   (they normalize to single spaces anyway under rule 4 of the HTML
   path's whitespace semantics).
3. ``content`` = paragraph texts joined '\\n'; one page; one 'block'
   element per paragraph with exact char spans. Tables: rows = local
   ``table-row``, cells = local ``table-cell`` (normalized itertext);
   headers = first row, shared pinned CSV. Empty content ->
   EmptyContentError.

ODS:
4. Each local ``table`` under the spreadsheet body is a SHEET = one page
   (mirroring xlsx rule 10). Rows render as lines (cells joined single
   spaces); empty cells/rows drop; each non-empty sheet emits ONE
   TableRef. No cell text anywhere -> EmptyContentError.
"""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree

from .model import (
    LABEL_BLOCK,
    Element,
    ExtractionResult,
    PageResult,
    TableRef,
    normalize_ws,
    table_csv,
    word_count,
)
from .taxonomy import CorruptedFileError, EmptyContentError, UnsupportedFormatError

DOC_TYPE_ODT = "odt"
DOC_TYPE_ODS = "ods"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _text_of(node) -> str:
    return normalize_ws("".join(node.itertext()))


def extract_odf(zf: zipfile.ZipFile, url_hash: str) -> ExtractionResult:
    """Route an OpenDocument container by its office:body child."""
    # shared zip-bomb guard + typed parse errors (office_extract rule:
    # a 42KB bomb declaring 4GB of content.xml costs a failure row, not
    # an executor OOM)
    from .office_extract import _parse_part

    root = _parse_part(zf, "content.xml")
    body = next(
        (n for n in root.iter() if _local(n.tag) == "body"), None
    )
    if body is None:
        raise CorruptedFileError("content.xml has no office:body")
    kind = next((c for c in body), None)
    if kind is None:
        raise EmptyContentError("empty office:body")
    if _local(kind.tag) == "text":
        return _extract_odt(kind, url_hash)
    if _local(kind.tag) == "spreadsheet":
        return _extract_ods(kind, url_hash)
    raise UnsupportedFormatError(
        f"opendocument body type /{_local(kind.tag)}"
    )


def _in_table_set(body) -> set[int]:
    """ids of every element inside a table subtree (pinned rule 2)."""
    inside: set[int] = set()
    for t in body.iter():
        if _local(t.tag) == "table":
            for n in t.iter():
                inside.add(id(n))
    return inside


def _top_level_tables(body) -> list:
    """Tables that are not nested inside another table (docx discipline:
    an inner table's text rides in the containing cell, never as a
    separate flattened TableRef)."""
    nested: set[int] = set()
    for t in body.iter():
        if _local(t.tag) == "table":
            for n in t.iter():
                if n is not t and _local(n.tag) == "table":
                    nested.add(id(n))
    return [
        t
        for t in body.iter()
        if _local(t.tag) == "table" and id(t) not in nested
    ]


def _direct_rows(table) -> list:
    """table-row DIRECT children (plus those under header/row-group
    wrappers) — t.iter() would descend into nested tables' rows."""
    rows: list = []

    def walk(node) -> None:
        for c in node:
            ln = _local(c.tag)
            if ln == "table-row":
                rows.append(c)
            elif ln in (
                "table-header-rows",
                "table-rows",
                "table-row-group",
            ):
                walk(c)

    walk(table)
    return rows


# cell-expansion budget per sheet: LibreOffice writes huge
# number-columns-repeated counts for filler; non-empty repeats beyond
# this are a bomb, not a spreadsheet
MAX_SHEET_CELLS = 1 << 20


def _row_cells(tr, budget: list) -> list[str]:
    """Non-empty cell texts of one row, honoring
    table:number-columns-repeated (adjacent equal cells are stored once —
    dropping the repeat count would silently collapse real columns)."""
    out: list[str] = []
    for tc in tr:
        if _local(tc.tag) not in ("table-cell", "covered-table-cell"):
            continue
        text = _text_of(tc)
        if not text:
            continue  # empty cells (incl. giant empty filler repeats) drop
        repeat = 1
        for k, v in tc.attrib.items():
            if _local(k) == "number-columns-repeated":
                try:
                    repeat = max(1, int(v))
                except ValueError:
                    pass
        budget[0] -= repeat
        if budget[0] < 0:
            from .taxonomy import OversizeDocumentError

            raise OversizeDocumentError(
                f"sheet expands past {MAX_SHEET_CELLS} cells "
                "(number-columns-repeated bomb)"
            )
        out.extend([text] * repeat)
    return out


def _expand_rows(tr, cells: list[str], budget: list) -> list[list[str]]:
    """Apply table:number-rows-repeated under the same cell budget (a
    giant repeated NON-empty row is a bomb like its column twin)."""
    repeat = 1
    for k, v in tr.attrib.items():
        if _local(k) == "number-rows-repeated":
            try:
                repeat = max(1, int(v))
            except ValueError:
                pass
    budget[0] -= len(cells) * (repeat - 1)
    if budget[0] < 0:
        from .taxonomy import OversizeDocumentError

        raise OversizeDocumentError(
            f"sheet expands past {MAX_SHEET_CELLS} cells "
            "(number-rows-repeated bomb)"
        )
    return [cells] * repeat


def _extract_odt(body, url_hash: str) -> ExtractionResult:
    in_table = _in_table_set(body)
    paragraphs = [
        t
        for n in body.iter()
        if _local(n.tag) in ("p", "h") and id(n) not in in_table
        if (t := _text_of(n))
    ]
    content = "\n".join(paragraphs)
    if not content:
        raise EmptyContentError("empty odt document")

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

    tables: list[TableRef] = []
    ti = 0
    for t in _top_level_tables(body):
        budget = [MAX_SHEET_CELLS]
        rows = []
        for tr in _direct_rows(t):
            cells = _row_cells(tr, budget)
            if cells:
                rows.extend(_expand_rows(tr, cells, budget))
        if rows:
            tables.append(
                TableRef(
                    table_id=f"{url_hash}_table_{ti}",
                    page_number=1,
                    num_rows=len(rows),
                    num_cols=max(len(r) for r in rows),
                    headers=tuple(rows[0]),
                    cell_count=sum(len(r) for r in rows),
                    csv=table_csv(rows),
                )
            )
            ti += 1

    page = PageResult(
        page_number=1,
        content=content,
        word_count=word_count(content),
        elements=elements,
        tables=tables,
        figures=[],
    )
    return ExtractionResult(doc_type=DOC_TYPE_ODT, pages=[page])


def _extract_ods(body, url_hash: str) -> ExtractionResult:
    pages: list[PageResult] = []
    table_counter = 0
    any_text = False
    sheets = _top_level_tables(body)
    for page_no, sheet in enumerate(sheets, start=1):
        budget = [MAX_SHEET_CELLS]
        rows = []
        for tr in _direct_rows(sheet):
            cells = _row_cells(tr, budget)
            if cells:
                rows.extend(_expand_rows(tr, cells, budget))
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
            tables.append(
                TableRef(
                    table_id=f"{url_hash}_table_{table_counter}",
                    page_number=page_no,
                    num_rows=len(rows),
                    num_cols=max(len(r) for r in rows),
                    headers=tuple(rows[0]),
                    cell_count=sum(len(r) for r in rows),
                    csv=table_csv(rows),
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
        raise EmptyContentError("no cell text in spreadsheet")
    return ExtractionResult(doc_type=DOC_TYPE_ODS, pages=pages)


# --------------------------------------------------------------------------
# Fixture writers (test-input generators, not extraction paths)
# --------------------------------------------------------------------------

_ODF_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"'
)

_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def _odf_zip(mimetype: str, content: str) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, payload in (
            ("mimetype", mimetype),
            ("content.xml", content),
        ):
            info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
            zf.writestr(info, payload)
    return buf.getvalue()


def _esc(s: str) -> str:
    from xml.sax.saxutils import escape

    return escape(s)


def write_odt(
    paragraphs: list[str], tables: list[list[list[str]]] = ()
) -> bytes:
    ps = "".join(f"<text:p>{_esc(t)}</text:p>" for t in paragraphs)
    tbls = ""
    for rows in tables:
        trs = "".join(
            "<table:table-row>"
            + "".join(
                f"<table:table-cell><text:p>{_esc(c)}</text:p>"
                "</table:table-cell>"
                for c in row
            )
            + "</table:table-row>"
            for row in rows
        )
        tbls += f"<table:table>{trs}</table:table>"
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f"<office:document-content {_ODF_NS}><office:body><office:text>"
        f"{ps}{tbls}</office:text></office:body></office:document-content>"
    )
    return _odf_zip("application/vnd.oasis.opendocument.text", content)


def write_ods(sheets: list[list[list[str]]]) -> bytes:
    tbls = ""
    for si, rows in enumerate(sheets, start=1):
        trs = "".join(
            "<table:table-row>"
            + "".join(
                f"<table:table-cell><text:p>{_esc(c)}</text:p>"
                "</table:table-cell>"
                for c in row
            )
            + "</table:table-row>"
            for row in rows
        )
        tbls += f'<table:table table:name="Sheet{si}">{trs}</table:table>'
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f"<office:document-content {_ODF_NS}><office:body>"
        f"<office:spreadsheet>{tbls}</office:spreadsheet>"
        "</office:body></office:document-content>"
    )
    return _odf_zip("application/vnd.oasis.opendocument.spreadsheet", content)
