"""TXT + DOCX extraction (office_extract pinned rules 1-9)."""

from __future__ import annotations

import pytest

from pdf_document_extractor_spark.core.dispatch import (
    extract_document,
    sniff_doc_type,
)
from pdf_document_extractor_spark.core.docx_write import write_docx
from pdf_document_extractor_spark.core.office_extract import (
    extract_ooxml,
    extract_txt,
)
from pdf_document_extractor_spark.core.taxonomy import (
    CorruptedFileError,
    EmptyContentError,
    UnsupportedFormatError,
)


# -- sniffing ---------------------------------------------------------------


def test_sniff_routes():
    assert sniff_doc_type(b"%PDF-1.4 ...") == "pdf"
    assert sniff_doc_type(b"PK\x03\x04...") == "ooxml"
    assert sniff_doc_type(b"<html><body>x</body></html>") == "html"
    assert sniff_doc_type(b"plain words only") == "txt"
    assert sniff_doc_type(b"") == "html"  # empty stays on the html path
    assert sniff_doc_type(b"   \n\t  ") == "html"  # whitespace-only too


# -- TXT --------------------------------------------------------------------


def test_txt_passthrough_exact():
    raw = "line one\nline two  with   spacing\n"
    r = extract_txt(raw.encode("utf-8"), "h")
    assert r.doc_type == "txt"
    assert r.pages[0].content == raw  # NO whitespace normalization
    assert r.pages[0].word_count == len(raw.split())
    (el,) = r.pages[0].elements
    assert (el.char_start, el.char_end, el.label) == (0, len(raw), "block")


def test_txt_utf16_bom():
    raw = "utf sixteen text"
    data = b"\xff\xfe" + raw.encode("utf-16-le")
    assert extract_txt(data, "h").pages[0].content == raw


def test_txt_empty_and_junk():
    with pytest.raises(EmptyContentError):
        extract_txt(b"   \n ", "h")
    with pytest.raises(UnsupportedFormatError):
        extract_txt(bytes(range(1, 32)) * 8, "h")


def test_txt_through_dispatch():
    r = extract_document("u", b"just some plain prose here")
    assert (r.doc_type, r.status) == ("txt", "success")
    assert r.pages[0].content == "just some plain prose here"


# -- DOCX -------------------------------------------------------------------


def test_docx_paragraphs_and_spans():
    data = write_docx(["first paragraph", "second  one", ""])
    r = extract_ooxml(data, "h")
    assert r.doc_type == "docx"
    # empty paragraph dropped; per-paragraph normalize_ws applied
    assert r.pages[0].content == "first paragraph\nsecond one"
    spans = [(e.text, e.char_start, e.char_end) for e in r.pages[0].elements]
    assert spans == [("first paragraph", 0, 15), ("second one", 16, 26)]


def test_docx_tables_excluded_from_content():
    rows = [["k", "v"], ["lang", "en"], ["source", "src1"]]
    data = write_docx(["body text"], tables=[rows])
    r = extract_ooxml(data, "h")
    page = r.pages[0]
    assert page.content == "body text"
    (t,) = page.tables
    assert t.headers == ("k", "v")
    assert (t.num_rows, t.num_cols, t.cell_count) == (3, 2, 6)
    assert t.csv == "k,v\nlang,en\nsource,src1\n"
    assert t.table_id == "h_table_0"


def test_docx_through_dispatch_matches_direct():
    data = write_docx(["alpha bravo", "charlie"])
    via_dispatch = extract_document("u", data)
    direct = extract_ooxml(data, "ignored")
    assert via_dispatch.status == "success"
    assert via_dispatch.pages[0].content == direct.pages[0].content


def test_docx_empty_content():
    with pytest.raises(EmptyContentError):
        extract_ooxml(write_docx([""]), "h")


def test_docx_malformed_xml_is_corrupt():
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", "<w:document><unclosed")
    with pytest.raises(CorruptedFileError):
        extract_ooxml(buf.getvalue(), "h")


def test_docx_determinism():
    assert write_docx(["a", "b"]) == write_docx(["a", "b"])


def test_encrypted_zip_member_is_corrupt_row():
    """Password-protected docx (common on the web): RuntimeError from
    zipfile must land in the taxonomy, not escape the UDF."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", "<d/>")
    raw = bytearray(buf.getvalue())
    # set the encryption flag bit on the local + central headers
    idx = raw.find(b"PK\x03\x04")
    raw[idx + 6] |= 1
    idx = raw.find(b"PK\x01\x02")
    raw[idx + 8] |= 1
    r = extract_document("u", bytes(raw))
    assert (r.status, r.error_type) == ("hard_failure", "CorruptedFileError")


def test_zip_bomb_declared_size_guard():
    """A part declaring > MAX_PART_BYTES must fail BEFORE decompression."""
    import io
    import zipfile

    import pytest as _pytest

    from pdf_document_extractor_spark.core import office_extract as oe
    from pdf_document_extractor_spark.core.taxonomy import (
        OversizeDocumentError,
    )

    data = write_docx(["real paragraph"])
    zf2 = zipfile.ZipFile(io.BytesIO(data))
    zf2.getinfo("word/document.xml").file_size = oe.MAX_PART_BYTES + 1
    with _pytest.raises(OversizeDocumentError):
        oe._parse_part(zf2, "word/document.xml")
    r = extract_document("u", data)
    assert r.status == "success"  # un-tampered doc still parses


def test_odf_extraction_and_taxonomy():
    """OpenDocument (.odt/.ods) — round 4 widening beyond the reference's
    MIME table: same output contract as docx/xlsx; malformed containers
    degrade typed."""
    import pytest as _pytest

    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.core.odf_extract import (
        write_ods,
        write_odt,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        CorruptedFileError,
        EmptyContentError,
        UnsupportedFormatError,
    )

    odt = write_odt(
        ["alpha beta", "gamma delta"],
        tables=[[["h1", "h2"], ["a", "b"]]],
    )
    r = extract_document("https://x/odt", odt)
    assert r.doc_type == "odt" and r.status == "success"
    assert r.pages[0].content == "alpha beta\ngamma delta"
    t = r.pages[0].tables[0]
    assert t.headers == ("h1", "h2") and t.csv == "h1,h2\na,b\n"
    # table paragraphs never leak into content
    leak = extract_document(
        "u", write_odt(["outside"], tables=[[["inside"]]])
    )
    assert leak.pages[0].content == "outside"

    ods = write_ods([[["k", "v"]], [["x", "y"], ["1", "2"]]])
    r = extract_document("u", ods)
    assert r.doc_type == "ods" and len(r.pages) == 2
    assert r.pages[1].content == "x y\n1 2"
    assert r.pages[1].tables[0].page_number == 2

    # taxonomy: empty text body / bad xml / unknown body type
    with _pytest.raises(EmptyContentError):
        extract_ooxml(write_odt([]), "h")
    import io
    import zipfile

    def zip_with(content: bytes) -> bytes:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("content.xml", content)
        return buf.getvalue()

    with _pytest.raises(CorruptedFileError):
        extract_ooxml(zip_with(b"<not-closed"), "h")
    with _pytest.raises(UnsupportedFormatError, match="presentation"):
        extract_ooxml(
            zip_with(
                b'<office:document-content '
                b'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0">'
                b"<office:body><office:presentation/></office:body>"
                b"</office:document-content>"
            ),
            "h",
        )


def test_epub_extraction_and_taxonomy():
    """EPUB spine chapters = pages through the shared HTML core; broken
    containers degrade typed (round 4)."""
    import io
    import zipfile

    import pytest as _pytest

    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.core.epub_extract import write_epub
    from pdf_document_extractor_spark.core.taxonomy import (
        CorruptedFileError,
    )

    epub = write_epub(
        [
            "<p>chapter one body</p>",
            "<nav><a href='/'>toc</a></nav><p>chapter two body</p>"
            "<table><tr><td>c</td></tr></table>",
        ]
    )
    r = extract_document("https://x/e", epub)
    assert r.doc_type == "epub" and r.status == "success"
    assert [p.content for p in r.pages] == [
        "chapter one body", "chapter two body",
    ]
    assert r.pages[1].tables[0].page_number == 2
    assert r.pages[1].elements[0].page_no == 2

    def zip_parts(parts):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for n, p in parts:
                zf.writestr(n, p)
        return buf.getvalue()

    # container naming a missing OPF -> typed corrupt
    with _pytest.raises(CorruptedFileError):
        extract_ooxml(
            zip_parts(
                [
                    (
                        "META-INF/container.xml",
                        '<container><rootfiles><rootfile '
                        'full-path="missing.opf"/></rootfiles></container>',
                    )
                ]
            ),
            "h",
        )
    # spine with no readable chapter -> typed corrupt
    with _pytest.raises(CorruptedFileError, match="spine"):
        extract_ooxml(
            zip_parts(
                [
                    (
                        "META-INF/container.xml",
                        '<container><rootfiles><rootfile '
                        'full-path="c.opf"/></rootfiles></container>',
                    ),
                    (
                        "c.opf",
                        "<package><manifest/><spine>"
                        '<itemref idref="nope"/></spine></package>',
                    ),
                ]
            ),
            "h",
        )


def test_fourth_review_fixes_round4():
    """Pins: multi-member gzip concatenation, gzip depth cap typing, ODF
    nested-table scoping, number-columns/rows-repeated expansion with
    bomb budget, epub binary-junk guard via the shared page builder."""
    import gzip
    import io
    import zipfile

    import pytest as _pytest

    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.core.odf_extract import _ODF_NS

    # RFC 1952 concatenated members all decompress
    two = gzip.compress(b"<html><body><p>part one ") + gzip.compress(
        b"and part two</p></body></html>"
    )
    r = extract_document("u", two)
    assert r.pages[0].content == "part one and part two"

    # nesting past the cap -> typed gzip row, not mislabeled txt junk
    x = b"payload"
    for _ in range(5):
        x = gzip.compress(x)
    r = extract_document("u", x)
    assert (r.doc_type, r.error_type) == ("gzip", "CorruptedFileError")

    def odf_zip(content, mt):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("mimetype", mt)
            zf.writestr("content.xml", content)
        return buf.getvalue()

    # nested ODT table: ONE TableRef, inner rows not flattened/duplicated
    nested = (
        '<?xml version="1.0"?><office:document-content ' + _ODF_NS + ">"
        "<office:body><office:text><text:p>body para</text:p>"
        "<table:table><table:table-row><table:table-cell>"
        "<table:table><table:table-row><table:table-cell>"
        "<text:p>inner</text:p></table:table-cell></table:table-row>"
        "</table:table></table:table-cell></table:table-row></table:table>"
        "</office:text></office:body></office:document-content>"
    )
    r = extract_ooxml(
        odf_zip(nested, "application/vnd.oasis.opendocument.text"), "h"
    )
    assert len(r.pages[0].tables) == 1
    assert r.pages[0].tables[0].num_rows == 1

    # column repeats expand; giant empty filler drops; non-empty bombs typed
    rep = (
        '<?xml version="1.0"?><office:document-content ' + _ODF_NS + ">"
        "<office:body><office:spreadsheet><table:table><table:table-row>"
        '<table:table-cell table:number-columns-repeated="3">'
        "<text:p>x</text:p></table:table-cell>"
        '<table:table-cell table:number-columns-repeated="100000"/>'
        "</table:table-row></table:table></office:spreadsheet>"
        "</office:body></office:document-content>"
    )
    mt = "application/vnd.oasis.opendocument.spreadsheet"
    r = extract_ooxml(odf_zip(rep, mt), "h")
    assert r.pages[0].content == "x x x"
    assert r.pages[0].tables[0].cell_count == 3
    bomb = rep.replace('"3"', '"1000000000"')
    rb = extract_document("u", odf_zip(bomb, mt))
    assert rb.error_type == "OversizeDocumentError"

    # epub chapter full of control bytes hits the shared junk guard
    from pdf_document_extractor_spark.core.epub_extract import write_epub

    junk = write_epub(["<p>" + "\x01\x02\x03" * 50 + "</p>"])
    r = extract_document("u", junk)
    assert r.status == "hard_failure"
    assert r.error_type == "UnsupportedFormatError"


def test_epub_percent_encoded_chapter_hrefs():
    """OPF hrefs are IRIs: percent-encoded names must resolve to the
    decoded zip member (fifth-review finding)."""
    import io
    import zipfile

    from pdf_document_extractor_spark.core.dispatch import extract_document

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "META-INF/container.xml",
            '<container><rootfiles><rootfile full-path="OEBPS/content.opf"/>'
            "</rootfiles></container>",
        )
        zf.writestr(
            "OEBPS/content.opf",
            '<package><manifest><item id="c1" href="my%20chapter.xhtml" '
            'media-type="application/xhtml+xml"/></manifest>'
            '<spine><itemref idref="c1"/></spine></package>',
        )
        zf.writestr(
            "OEBPS/my chapter.xhtml",
            "<html><body><p>decoded fine</p></body></html>",
        )
    r = extract_document("u", buf.getvalue())
    assert r.status == "success"
    assert r.pages[0].content == "decoded fine"
