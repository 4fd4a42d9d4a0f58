"""Unit tests of the pinned PDF extraction semantics: page assembly template
(reference M5, docling_strategy_processor.py:1264-1300), header/body font
heuristic, table headers rule (docling_strategy_processor.py:1719-1726),
word count (``len(content.split())``, docling 1176), 1-indexed pages
(docling 1149-1150), failure taxonomy (docling 527-544)."""

from __future__ import annotations

import pytest

from pdf_document_extractor_spark.core.dispatch import extract_document, url_hash
from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
from pdf_document_extractor_spark.core.pdf_write import (
    PdfPageSpec,
    TextShow,
    simple_doc,
    table_grid,
    write_pdf,
)
from pdf_document_extractor_spark.core.taxonomy import (
    CorruptedFileError,
    UnsupportedFormatError,
)


def test_page_assembly_template_exact():
    pdf = simple_doc([("Title Here", ["line one", "line two"])])
    r = extract_document("u", pdf)
    assert r.pages[0].content == "Page 1\n\nTitle Here\nline one\nline two\n"
    # word_count = len(content.split()) INCLUDING the page heading
    assert r.pages[0].word_count == 8


def test_header_vs_body_font_heuristic():
    pdf = simple_doc([("Big Header", ["small body"])])
    r = extract_document("u", pdf)
    labels = [(e.label, e.text) for e in r.pages[0].elements]
    assert labels == [("header", "Big Header"), ("body", "small body")]


def test_multipage_one_indexed_ordered():
    pdf = simple_doc([("h1", ["a"]), ("h2", ["b"]), (None, ["c"])])
    r = extract_document("u", pdf)
    assert [p.page_number for p in r.pages] == [1, 2, 3]
    assert r.pages[1].content == "Page 2\n\nh2\nb\n"
    assert all(p.page_number == e.page_no for p in r.pages for e in p.elements)
    assert r.page_count == 3


def test_flate_compressed_stream():
    raw = simple_doc([("h", ["x y z"])], compress=False)
    comp = simple_doc([("h", ["x y z"])], compress=True)
    r1 = extract_document("u", raw)
    r2 = extract_document("u", comp)
    assert r1.pages[0].content == r2.pages[0].content


def test_table_headers_first_row_sorted_by_col_offset():
    rows = [["bravo", "alpha", "zulu"], ["1", "2", "3"], ["4", "5", "6"]]
    shows = table_grid(rows)
    pdf = write_pdf([PdfPageSpec(shows=shows)])
    r = extract_document("https://x/p", pdf)
    t = r.pages[0].tables[0]
    # headers = first-row cells in column-x order (NOT alphabetical)
    assert t.headers == ("bravo", "alpha", "zulu")
    assert (t.num_rows, t.num_cols, t.cell_count) == (3, 3, 9)
    assert t.csv == "bravo,alpha,zulu\n1,2,3\n4,5,6\n"
    assert t.table_id == f"{url_hash('https://x/p')}_table_0"


def test_table_cells_render_into_content_as_rows():
    rows = [["a", "b"], ["c", "d"]]
    pdf = write_pdf([PdfPageSpec(shows=table_grid(rows))])
    r = extract_document("u", pdf)
    assert r.pages[0].content == "Page 1\n\na b\nc d\n"
    cells = [e for e in r.pages[0].elements if e.label == "table_cell"]
    assert [c.text for c in cells] == ["a", "b", "c", "d"]
    # char spans index into content
    content = r.pages[0].content
    for c in cells:
        assert content[c.char_start : c.char_end] == c.text


def test_single_multicell_line_is_not_a_table():
    # one isolated 2-cell line: not a table (needs >= 2 matching rows)
    shows = [TextShow(72, 700, 10.0, "a"), TextShow(200, 700, 10.0, "b")]
    pdf = write_pdf([PdfPageSpec(shows=shows)])
    r = extract_document("u", pdf)
    assert r.pages[0].tables == []
    assert r.pages[0].content == "Page 1\n\na b\n"


def test_reading_order_top_down_left_right():
    shows = [
        TextShow(300, 700, 10.0, "right-top"),
        TextShow(72, 700, 10.0, "left-top"),
        TextShow(72, 600, 10.0, "lower"),
    ]
    pdf = write_pdf([PdfPageSpec(shows=shows)])
    r = extract_document("u", pdf)
    assert r.pages[0].content == "Page 1\n\nleft-top right-top\nlower\n"


def test_truncated_pdf_is_corrupted_hard_failure():
    pdf = simple_doc([("h", ["body"])])
    r = extract_document("u", pdf[: len(pdf) // 2])
    assert r.status == "hard_failure"
    assert r.error_type == "CorruptedFileError"


def test_garbage_after_magic_is_corrupted():
    r = extract_document("u", b"%PDF-1.4\n\x00\x01\x02 garbage")
    assert r.status == "hard_failure"
    assert r.error_type == "CorruptedFileError"


def test_escaped_strings_and_tj_arrays():
    shows = [TextShow(72, 700, 10.0, "paren (x) and \\ slash")]
    pdf = write_pdf([PdfPageSpec(shows=shows)])
    r = extract_document("u", pdf)
    assert r.pages[0].content == "Page 1\n\nparen (x) and \\ slash\n"


def test_bbox_deterministic_top_left_origin():
    pdf = simple_doc([(None, ["abc"])])
    r = extract_document("u", pdf)
    e = r.pages[0].elements[0]
    assert e.bbox.coord_origin == "TOP_LEFT"
    assert e.bbox.left == 72.0
    assert e.bbox.top == 792.0 - 720.0 - 10.0  # page_h - y - size
    assert e.bbox.bottom == e.bbox.top + 10.0


def test_determinism_same_bytes_same_output():
    pdf = simple_doc([("h", ["a", "b"])], compress=True)
    a = extract_pdf(pdf, "h1")
    b = extract_pdf(pdf, "h1")
    assert a == b


# ---------------------------------------------------------------------------
# Text-encoding fidelity (round 3): hex strings, /Encoding, ToUnicode, CID
# ---------------------------------------------------------------------------


def test_hex_string_parsing_edges():
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import (
        _parse_hex_string_bytes,
    )
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    assert _parse_hex_string_bytes(b"<48656C6C6F>", 0)[0] == b"Hello"
    # embedded whitespace ignored; odd digit count pads a trailing 0
    assert _parse_hex_string_bytes(b"<48 65\n6C6C 6F7>", 0)[0] == b"Hellop"
    with _pytest.raises(CorruptedFileError, match="unterminated"):
        _parse_hex_string_bytes(b"<4865", 0)
    with _pytest.raises(CorruptedFileError, match="non-hex"):
        _parse_hex_string_bytes(b"<48ZZ>", 0)


def test_glyph_to_unicode():
    from pdf_document_extractor_spark.core.pdf_extract import _glyph_to_unicode

    assert _glyph_to_unicode("eacute") == "é"
    assert _glyph_to_unicode("Euro") == "€"
    assert _glyph_to_unicode("uni00E9") == "é"
    assert _glyph_to_unicode("u1F600") == "😀"
    assert _glyph_to_unicode("a") == "a"
    assert _glyph_to_unicode("totally.made.up") == "�"
    assert _glyph_to_unicode("uniZZZZ") == "�"


def test_tounicode_parsing_forms():
    from pdf_document_extractor_spark.core.pdf_extract import (
        _Stream,
        _parse_tounicode,
    )

    cmap = (
        b"begincmap\n"
        b"2 beginbfchar\n<0001> <0020>\n<0002> <D83DDE00>\nendbfchar\n"
        b"2 beginbfrange\n<0010> <0012> <0041>\n"
        b"<0020> <0021> [<00E9> <20AC>]\nendbfrange\nendcmap\n"
    )
    m = _parse_tounicode(_Stream({}, cmap))
    assert m[1] == " "
    assert m[2] == "😀"  # surrogate pair in dst decodes to the astral char
    assert (m[0x10], m[0x11], m[0x12]) == ("A", "B", "C")
    assert (m[0x20], m[0x21]) == ("é", "€")


def test_tounicode_guards():
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import (
        _Stream,
        _parse_tounicode,
    )
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    with _pytest.raises(CorruptedFileError, match="bfrange"):
        _parse_tounicode(
            _Stream({}, b"1 beginbfrange\n<0010> <0001> <0041>\nendbfrange")
        )
    with _pytest.raises(CorruptedFileError, match="not a stream"):
        _parse_tounicode({"not": "a stream"})
    # lone surrogate destination degrades to U+FFFD, never raises
    m = _parse_tounicode(
        _Stream({}, b"1 beginbfchar\n<0001> <D800>\nendbfchar")
    )
    assert m[1] == "�"


def test_cid_decode_odd_tail_and_unmapped():
    from pdf_document_extractor_spark.core.pdf_extract import _decode_shown

    dec = ("cid", {0x0041: "A"})
    assert _decode_shown(dec, b"\x00\x41\x00\x42\x07") == "A��"


def test_unknown_encodings_degrade_to_default_not_failure():
    """An encoding NAME the parser does not model must never flip a whole
    document to hard_failure (regression guard: /StandardEncoding docs
    extracted fine before the font layer existed)."""
    from pdf_document_extractor_spark.core.pdf_extract import (
        _DEFAULT_DEC,
        _Objects,
        _font_decoder,
    )

    import pytest as _pytest

    from pdf_document_extractor_spark.core.taxonomy import (
        UnsupportedFormatError,
    )

    objs = _Objects(b"", {})
    # Type0 with a PREDEFINED CMap name and no ToUnicode: typed degrade
    # since round 5 — latin-1 per byte over 2-byte codes is silent
    # garbage (round-4 verdict task 3)
    with _pytest.raises(UnsupportedFormatError, match="UniJIS-UCS2-H"):
        _font_decoder(objs, {"Subtype": "Type0", "Encoding": "UniJIS-UCS2-H"})
    # simple font with StandardEncoding: latin-1 default table
    dec = _font_decoder(objs, {"Subtype": "Type1", "Encoding": "StandardEncoding"})
    assert dec is _DEFAULT_DEC or dec[0] == "simple"


def test_standard_encoding_doc_still_extracts():
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    content = b"BT /F1 10 Tf 72 720 Td (hello world) Tj ET"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /StandardEncoding >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 5 0 R /Resources << /Font << /F1 3 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ]
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    assert res.status == "success" and res.pages[0].content == (
        "Page 1\n\nhello world\n"
    )


def test_simple_font_tounicode_override():
    from pdf_document_extractor_spark.core.pdf_extract import (
        _Objects,
        _Stream,
        _decode_shown,
        _font_decoder,
    )

    objs = _Objects(b"", {})
    objs._cache[9] = _Stream(
        {}, b"1 beginbfchar\n<0041> <0042>\nendbfchar"
    )
    from pdf_document_extractor_spark.core.pdf_extract import _Ref

    dec = _font_decoder(
        objs, {"Subtype": "Type1", "ToUnicode": _Ref((9, 0))}
    )
    # code 0x41 remapped to 'B'; everything else stays latin-1
    assert _decode_shown(dec, b"A z \xe9") == "B z é"


def test_macroman_base_encoding():
    from pdf_document_extractor_spark.core.pdf_extract import (
        _Objects,
        _decode_shown,
        _font_decoder,
    )

    dec = _font_decoder(
        _Objects(b"", {}), {"Subtype": "Type1", "Encoding": "MacRomanEncoding"}
    )
    # 0x8E is é in mac-roman (not in latin-1/cp1252)
    assert _decode_shown(dec, b"\x8e") == "é"


def test_unknown_font_name_falls_back_to_latin1():
    from pdf_document_extractor_spark.core.pdf_extract import (
        _shows_from_content,
    )

    shows = _shows_from_content(
        b"BT /F9 10 Tf 72 720 Td (caf\xe9) Tj ET", fonts={}
    )
    assert shows[0].text == "café"


def test_resources_inherited_from_pages_node():
    """Resources on the /Pages ancestor (not the page) must still feed the
    font decoder — PDF 32000 7.7.3.4 inheritable attributes."""
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf

    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
        b"/Resources << /Font << /F1 3 0 R >> >> >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /BaseEncoding /WinAnsiEncoding >> >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 5 0 R >>",
    ]
    content = b"BT /F1 10 Tf 72 720 Td (\x80 euro) Tj ET"  # 0x80 = WinAnsi €
    objects.append(
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream"
    )
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    assert res.pages[0].content == "Page 1\n\n€ euro\n"


def test_winansi_undefined_bytes_are_replacement():
    from pdf_document_extractor_spark.core.pdf_extract import (
        _Objects,
        _decode_shown,
        _font_decoder,
    )

    dec = _font_decoder(
        _Objects(b"", {}), {"Subtype": "Type1", "Encoding": "WinAnsiEncoding"}
    )
    assert _decode_shown(dec, b"\x81\x8d\x8f\x90\x9d") == "�" * 5


def test_hexstring_tj_in_full_doc_roundtrip():
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf_cid,
        write_pdf_encdiff,
        write_pdf_hex,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "café x")])]
    assert extract_pdf(write_pdf_hex(spec), "0" * 16).pages[0].content == (
        "Page 1\n\ncafé x\n"
    )
    assert extract_pdf(write_pdf_cid(spec), "0" * 16).pages[0].content == (
        "Page 1\n\ncafé x\n"
    )
    assert extract_pdf(write_pdf_encdiff(spec), "0" * 16).pages[0].content == (
        "Page 1\n\ncafé x\n"
    )


# ---------------------------------------------------------------------------
# Stream filters (round 3): ASCIIHex, ASCII85, RunLength, LZW
# ---------------------------------------------------------------------------


def test_asciihex_and_ascii85_decode():
    import base64

    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import (
        _ascii85_decode,
        _asciihex_decode,
    )
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    assert _asciihex_decode(b"48 65 6c6C 6f>") == b"Hello"
    assert _asciihex_decode(b"486") == b"H`"  # odd digit pads 0
    with _pytest.raises(CorruptedFileError):
        _asciihex_decode(b"4Z>")
    payload = b"some binary \x00\xff data"
    assert _ascii85_decode(base64.a85encode(payload) + b"~>") == payload
    assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    with _pytest.raises(CorruptedFileError):
        _ascii85_decode(b"\x7f\x7f\x7f\x7f\x7f~>")  # out-of-range bytes
    with _pytest.raises(CorruptedFileError):
        _ascii85_decode(b"!~>")  # single trailing digit


def test_runlength_decode():
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import (
        _runlength_decode,
    )
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    assert _runlength_decode(b"\x02abc\xfeZ\x80") == b"abcZZZ"
    with _pytest.raises(CorruptedFileError, match="EOD"):
        _runlength_decode(b"\x02abc")
    with _pytest.raises(CorruptedFileError, match="literal"):
        _runlength_decode(b"\x05ab")


def test_lzw_roundtrip_and_guards():
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import _lzw_decode
    from pdf_document_extractor_spark.core.pdf_write import lzw_encode
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    for payload in (
        b"",
        b"a",
        b"TOBEORNOTTOBEORTOBEORNOT",
        bytes(range(256)) * 60,  # grows past 9/10/11-bit widths
        b"a" * 10000,
    ):
        assert _lzw_decode(lzw_encode(payload)) == payload
    # code far beyond table: typed failure
    with _pytest.raises(CorruptedFileError):
        _lzw_decode(b"\xff\xff\xff\xff")


def test_filter_cascade_pdf_roundtrip():
    import zlib as _z

    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        lzw_encode,
        write_pdf,
        write_pdf_a85,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "cascade works")])]
    res = extract_pdf(write_pdf_a85(spec), "0" * 16)
    assert res.pages[0].content == "Page 1\n\ncascade works\n"

    # LZW content stream via surgery on a classic doc (single page: the
    # content stream is object 5)
    base = write_pdf(spec)
    raw = b"BT /F1 10 Tf 72 720 Td (lzw path) Tj ET"
    enc = lzw_encode(raw)
    new_obj = (
        f"<< /Length {len(enc)} /Filter /LZWDecode >>".encode()
        + b"\nstream\n" + enc + b"\nendstream"
    )
    from pdf_document_extractor_spark.core.pdf_write import append_incremental

    patched = append_incremental(base, {5: new_obj})
    res = extract_pdf(patched, "0" * 16)
    assert res.pages[0].content == "Page 1\n\nlzw path\n"

    # RunLength + ASCIIHex cascade through the same surgery
    from pdf_document_extractor_spark.core.pdf_extract import (
        _runlength_decode,  # noqa: F401 (documented inverse)
    )

    def rl_encode(b: bytes) -> bytes:
        out = bytearray()
        for i in range(0, len(b), 127):
            chunk = b[i : i + 127]
            out.append(len(chunk) - 1)
            out += chunk
        out.append(128)
        return bytes(out)

    enc2 = rl_encode(raw).hex().encode() + b">"
    new_obj2 = (
        f"<< /Length {len(enc2)} "
        f"/Filter [/ASCIIHexDecode /RunLengthDecode] >>".encode()
        + b"\nstream\n" + enc2 + b"\nendstream"
    )
    res = extract_pdf(append_incremental(base, {5: new_obj2}), "0" * 16)
    assert res.pages[0].content == "Page 1\n\nlzw path\n"


def test_multiple_fonts_switch_mid_page():
    """Tf switches the decoder mid-page: /F1 (WinAnsi) and /F2 (default
    latin-1) interpret the SAME byte 0x80 differently."""
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    content = (
        b"BT /F1 10 Tf 72 720 Td (\x80) Tj ET\n"
        b"BT /F2 10 Tf 72 700 Td (\x80) Tj ET"
    )
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 6 0 R /Resources << /Font << /F1 3 0 R /F2 4 0 R >> "
        b">> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
    ]
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    # 0x80: € through WinAnsi, U+0080 (latin-1 identity) through default
    assert res.pages[0].content == "Page 1\n\n€\n\x80\n"


def test_tj_array_mixes_hex_literal_and_kerning():
    from pdf_document_extractor_spark.core.pdf_extract import (
        _shows_from_content,
    )

    shows = _shows_from_content(
        b"BT /F1 10 Tf 72 720 Td [(He) -250 <6c6c6f> 120 ( world)] TJ ET"
    )
    assert [s.text for s in shows] == ["Hello world"]


def test_apostrophe_and_quote_show_operators():
    """' (next-line show) and \" (spacing + next-line show) carry text;
    dropping them would lose every line after the first in line-by-line
    writers (PDF 32000 9.4.3)."""
    from pdf_document_extractor_spark.core.pdf_extract import (
        _shows_from_content,
    )

    content = (
        b"BT /F1 10 Tf 14 TL 72 720 Td (first) Tj "
        b"(second) ' 2 1 (third) \" ET"
    )
    shows = _shows_from_content(content)
    assert [(s.text, s.y) for s in shows] == [
        ("first", 720.0), ("second", 706.0), ("third", 692.0),
    ]


def test_inline_image_is_skipped_not_poisonous():
    from pdf_document_extractor_spark.core.pdf_extract import (
        _shows_from_content,
    )
    import pytest as _pytest

    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    content = (
        b"BT /F1 10 Tf 72 720 Td (before) Tj ET\n"
        b"BI /W 4 /H 4 /BPC 8 /CS /G ID \x00\x01\xff\xfe(\\\x99\x82 EI\n"
        b"BT /F1 10 Tf 72 700 Td (after) Tj ET"
    )
    shows = _shows_from_content(content)
    assert [s.text for s in shows] == ["before", "after"]
    with _pytest.raises(CorruptedFileError, match="EI"):
        _shows_from_content(b"BI /W 4 ID \x00\x01\x02")


def test_form_xobject_text_is_extracted():
    """Text inside a /Subtype /Form XObject (the pdflatex whole-page
    wrapper shape) must reach the output, with the form's OWN font
    resources applying inside it."""
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    form_content = b"BT /F1 10 Tf 72 700 Td (\x80 inside form) Tj ET"
    page_content = b"BT /F1 10 Tf 72 720 Td (page text) Tj ET\n/X1 Do"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        # form with its own WinAnsi font under the same resource name F1
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Resources << /Font << /F1 7 0 R >> >> /Length "
        + str(len(form_content)).encode()
        + b" >>\nstream\n" + form_content + b"\nendstream",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 6 0 R /Resources << /Font << /F1 3 0 R >> "
        b"/XObject << /X1 4 0 R >> >> >>",
        b"<< /Length " + str(len(page_content)).encode() + b" >>\nstream\n"
        + page_content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
    ]
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    # page font is default latin-1; form font decodes 0x80 as € (WinAnsi)
    assert res.pages[0].content == "Page 1\n\npage text\n€ inside form\n"


def test_form_xobject_cycle_is_cut():
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    # form X1 invokes itself — the seen-set must cut the cycle
    form_content = b"BT /F1 10 Tf 72 700 Td (loop) Tj ET\n/X1 Do"
    page_content = b"/X1 Do"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Length " + str(len(form_content)).encode()
        + b" >>\nstream\n" + form_content + b"\nendstream",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 6 0 R /Resources << /Font << /F1 3 0 R >> "
        b"/XObject << /X1 4 0 R >> >> >>",
        b"<< /Length " + str(len(page_content)).encode() + b" >>\nstream\n"
        + page_content + b"\nendstream",
    ]
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    assert res.pages[0].content == "Page 1\n\nloop\n"


def test_lzw_width_bump_matches_reference_convention():
    """EarlyChange=1 switches 9->10 bits at table size 511 (the
    pdfminer/pdf.js convention) — one off and every real-encoder stream
    desyncs past ~510 entries. Bitstream built independently here."""
    from pdf_document_extractor_spark.core.pdf_extract import _lzw_decode

    codes = [(256, 9)]
    size, width = 258, 9
    for i in range(256):  # 256 literals cross the 511 boundary
        codes.append((i, width))
        if i > 0:
            size += 1
            if size + 1 >= (1 << width):
                width += 1
    codes.append((257, width))
    acc = nbits = 0
    out = bytearray()
    for code, w in codes:
        acc = (acc << w) | code
        nbits += w
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    assert _lzw_decode(bytes(out)) == bytes(range(256))


def test_glyph_names_uacute_not_shadowed_by_algorithmic_form():
    from pdf_document_extractor_spark.core.pdf_extract import _glyph_to_unicode

    # 'acute'/'grave' parse as lowercase hex — the algorithmic uXXXX form
    # takes UPPERCASE only (AGL spec), so these resolve through the table
    assert _glyph_to_unicode("uacute") == "ú"
    assert _glyph_to_unicode("ugrave") == "ù"
    assert _glyph_to_unicode("uni00E9") == "é"
    assert _glyph_to_unicode("u1F600") == "😀"
    assert _glyph_to_unicode("uni00e9") == "�"  # lowercase hex: not AGL


def test_ascii85_z_run_hits_bomb_cap(monkeypatch):
    import pytest as _pytest

    from pdf_document_extractor_spark.core import pdf_extract as pe
    from pdf_document_extractor_spark.core.taxonomy import (
        OversizeDocumentError,
    )

    monkeypatch.setattr(pe, "MAX_DECODED_STREAM", 1024)
    with _pytest.raises(OversizeDocumentError):
        pe._ascii85_decode(b"z" * 300 + b"~>")


def test_sibling_form_fanout_is_polynomial_not_factorial():
    """K sibling forms inheriting the page resources must build in ~K^2
    work (memoized), not K^8 path re-expansion — a 2 KB crafted PDF must
    never hang the executor."""
    import time

    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    k = 14
    form_content = b"BT /F1 10 Tf 72 700 Td (t) Tj ET"
    xrefs = " ".join(f"/X{i} {5 + i} 0 R" for i in range(k))
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Contents 4 0 R /Resources << /Font << /F1 99 0 R >> "
            f"/XObject << {xrefs} >> >> >>"
        ).encode(),
        b"<< /Length 6 >>\nstream\n/X0 Do\nendstream",
    ]
    objects.append(b"")  # placeholder; filled below (object 5..)
    objects.pop()
    for _i in range(k):
        objects.append(
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
            b"/Length " + str(len(form_content)).encode()
            + b" >>\nstream\n" + form_content + b"\nendstream"
        )
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    # font obj is the LAST object; renumber the page's /F1 ref to match
    objects[2] = objects[2].replace(b"/F1 99 0 R", b"/F1 %d 0 R" % (4 + k + 1))
    t0 = time.perf_counter()
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    took = time.perf_counter() - t0
    assert res.status == "success"
    assert took < 2.0, f"form fan-out took {took:.1f}s — re-expansion bug"


def test_unused_unsupported_form_does_not_fail_doc():
    """A form whose stream needs an unimplemented filter (e.g. DCTDecode)
    is a capability gap: skip it, keep the document's text."""
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    content = b"BT /F1 10 Tf 72 720 Td (kept text) Tj ET"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 5 0 R /Resources << /Font << /F1 3 0 R >> "
        b"/XObject << /X1 6 0 R >> >> >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 10 10] "
        b"/Filter /DCTDecode /Length 4 >>\nstream\n\xff\xd8\xff\xd9\nendstream",
    ]
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    assert res.status == "success"
    assert res.pages[0].content == "Page 1\n\nkept text\n"


def test_cmap_empty_hex_token_is_typed():
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import (
        _Stream,
        _parse_tounicode,
    )
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    with _pytest.raises(CorruptedFileError, match="empty hex"):
        _parse_tounicode(_Stream({}, b"1 beginbfchar\n< > <0041>\nendbfchar"))


def test_bdc_marked_content_dicts_are_skipped():
    """Tagged PDFs emit '<</MCID n>> BDC' around essentially every text
    run (Word/pdflatex); the dict operand must be discarded, not parsed
    as a hex string."""
    from pdf_document_extractor_spark.core.pdf_extract import (
        _shows_from_content,
    )

    shows = _shows_from_content(
        b"/P <</MCID 0>> BDC BT /F1 10 Tf 72 720 Td (tagged text) Tj ET EMC"
    )
    assert [s.text for s in shows] == ["tagged text"]


def test_malformed_encoding_types_fail_typed():
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import (
        _Objects,
        _font_decoder,
    )
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    objs = _Objects(b"", {})
    with _pytest.raises(CorruptedFileError, match="malformed /Encoding"):
        _font_decoder(objs, {"Subtype": "Type1", "Encoding": [1, 2]})
    with _pytest.raises(CorruptedFileError, match="malformed /Differences"):
        _font_decoder(
            objs, {"Subtype": "Type1", "Encoding": {"Differences": 5}}
        )


def test_form_inherits_caller_text_state():
    """A form showing text WITHOUT its own Tf keeps the invoking stream's
    font decoder (PDF 32000 8.10.1) — here the caller's WinAnsi font."""
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    form_content = b"BT 72 700 Td (\x80 inherited) Tj ET"  # no Tf!
    page_content = b"BT /F1 10 Tf 72 720 Td (page) Tj ET\n/X1 Do"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] /Length "
        + str(len(form_content)).encode()
        + b" >>\nstream\n" + form_content + b"\nendstream",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 6 0 R /Resources << /Font << /F1 3 0 R >> "
        b"/XObject << /X1 4 0 R >> >> >>",
        b"<< /Length " + str(len(page_content)).encode() + b" >>\nstream\n"
        + page_content + b"\nendstream",
    ]
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    # 0x80 decodes as € through the INHERITED WinAnsi decoder
    assert res.pages[0].content == "Page 1\n\npage\n€ inherited\n"


def test_synth_jpeg_fixture_is_strictly_walkable():
    """Every declared segment length must be honest — a strict consumer
    (PIL, external tools) must be able to walk the fixture to EOI."""
    from pdf_document_extractor_spark.sources.pages import synth_jpeg_payload

    data = synth_jpeg_payload(33, 44)
    pos = 2
    seen_sof = False
    while pos < len(data):
        assert data[pos] == 0xFF, f"desync at {pos}"
        marker = data[pos + 1]
        if marker == 0xD9:
            pos += 2
            break
        seglen = (data[pos + 2] << 8) | data[pos + 3]
        if marker == 0xC0:
            seen_sof = True
        pos += 2 + seglen
    assert seen_sof and pos == len(data)


def test_form_own_default_font_resets_inherited_decoder():
    """A form whose own /Resources holds a plain (default-decoder) font:
    its Tf must RESET the decoder inherited from a CID-font caller."""
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        _CID_TOUNICODE,
        _cid_encode,
        _serialize_classic,
    )

    cid_hex = _cid_encode("cid").hex()
    page_content = (
        f"BT /F1 10 Tf 72 720 Td <{cid_hex}> Tj ET\n/X1 Do".encode()
    )
    form_content = b"BT /F2 10 Tf 72 700 Td (plain form text) Tj ET"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [7 0 R] /Count 1 >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /S /Encoding "
        b"/Identity-H /DescendantFonts [4 0 R] /ToUnicode 5 0 R >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /S >>",
        b"<< /Length " + str(len(_CID_TOUNICODE)).encode()
        + b" >>\nstream\n" + _CID_TOUNICODE + b"\nendstream",
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Resources << /Font << /F2 9 0 R >> >> /Length "
        + str(len(form_content)).encode()
        + b" >>\nstream\n" + form_content + b"\nendstream",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 8 0 R /Resources << /Font << /F1 3 0 R >> "
        b"/XObject << /X1 6 0 R >> >> >>",
        b"<< /Length " + str(len(page_content)).encode() + b" >>\nstream\n"
        + page_content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    res = extract_pdf(_serialize_classic(objects), "0" * 16)
    assert res.pages[0].content == "Page 1\n\ncid\nplain form text\n"


def test_unreferenced_corrupt_form_does_not_fail_doc():
    """A corrupt /Subtype /Form listed in /Resources but never invoked via
    Do must not flip the document (advisor finding: lazy decode on first
    Do). The same stream INVOKED still raises the typed poison signal."""
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    def objs(page_content: bytes) -> list[bytes]:
        return [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 5 0 R /Resources << /Font << /F1 3 0 R >> "
            b"/XObject << /X1 6 0 R >> >> >>",
            b"<< /Length " + str(len(page_content)).encode() + b" >>\nstream\n"
            + page_content + b"\nendstream",
            # Flate-declared stream whose body is NOT valid zlib
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 10 10] "
            b"/Filter /FlateDecode /Length 9 >>\nstream\nnot-flate\nendstream",
        ]

    unused = extract_pdf(
        _serialize_classic(objs(b"BT /F1 10 Tf 72 720 Td (kept) Tj ET")),
        "0" * 16,
    )
    assert unused.status == "success"
    assert unused.pages[0].content == "Page 1\n\nkept\n"

    with _pytest.raises(CorruptedFileError):
        extract_pdf(
            _serialize_classic(
                objs(b"BT /F1 10 Tf 72 720 Td (kept) Tj ET\n/X1 Do")
            ),
            "0" * 16,
        )


def test_inline_image_length_key_beats_embedded_ei():
    """Entropy data containing a whitespace-delimited 'EI' must not end
    the inline-image skip early when /L declares the exact length
    (advisor finding). Without /L the scan fallback stays in place."""
    from pdf_document_extractor_spark.core.pdf_extract import (
        _shows_from_content,
    )

    evil = b"\x01\x02 EI \x03\x04"  # embedded fake terminator
    content = (
        b"BT /F1 10 Tf 72 720 Td (before) Tj ET\n"
        b"BI /W 4 /H 1 /L " + str(len(evil)).encode() + b" /BPC 8 ID "
        + evil
        + b" EI\nBT 72 700 Td (after) Tj ET"
    )
    shows = _shows_from_content(content)
    assert [s.text for s in shows] == ["before", "after"]

    # inconsistent /L (points nowhere near an EI) falls back to the scan
    content_bad_l = (
        b"BT /F1 10 Tf 72 720 Td (before) Tj ET\n"
        b"BI /W 4 /H 1 /L 9999 /BPC 8 ID \x01\x02\x03 EI\n"
        b"BT 72 700 Td (after) Tj ET"
    )
    shows = _shows_from_content(content_bad_l)
    assert [s.text for s in shows] == ["before", "after"]


def test_scanned_pdf_succeeds_with_figures():
    """Image-only pages (scanner output) are SUCCESS rows with
    template-only content and figures populated from the image XObject
    headers (round-4 verdict task 5 — the reference's OCR-off behavior
    yields page images too); a truly empty text PDF stays
    EmptyContentError; the typed ScannedPdfNoTextError survives only
    when even the image metadata is unreadable."""
    import pytest as _pytest

    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf,
        write_pdf_scanned,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        EmptyContentError,
        ScannedPdfNoTextError,
    )

    r = extract_pdf(write_pdf_scanned(n_pages=2), "h" * 16)
    assert r.status == "success"
    assert [p.content for p in r.pages] == ["Page 1\n\n", "Page 2\n\n"]
    figs = [f for p in r.pages for f in p.figures]
    assert [f.figure_id for f in figs] == [
        "h" * 16 + "_figure_0", "h" * 16 + "_figure_1",
    ]
    assert all(
        (f.image_width, f.image_height, f.image_format) == (8, 8, "raw")
        and f.label == "picture" and f.payload_bytes > 0
        for f in figs
    )
    # dispatch layer: success row, figures flow into the asset columns
    r2 = extract_document("u", write_pdf_scanned())
    assert r2.status == "success"
    assert r2.pages[0].figures
    # image XObjects with NO readable /Width//Height -> typed failure
    broken = write_pdf_scanned().replace(b"/Width 8", b"/Width (x)")
    with _pytest.raises(ScannedPdfNoTextError, match="no readable"):
        extract_pdf(broken, "0" * 16)
    # no-image empty doc keeps the historical taxonomy
    with _pytest.raises(EmptyContentError):
        extract_pdf(write_pdf([PdfPageSpec(shows=[])]), "0" * 16)
    # a doc with ANY text page is NOT scanned even if other pages are
    mixed = write_pdf([PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "t")])])
    assert extract_pdf(mixed, "0" * 16).status == "success"


def test_rc4_encrypted_pdf_roundtrip_and_typed_degrades():
    """Standard security handler (round 4): empty-user-password RC4 docs
    decrypt to byte-identical content; AES and real-password docs degrade
    TYPED (PDF 32000 7.6.3)."""
    import pytest as _pytest

    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf,
        write_pdf_rc4,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        UnsupportedFormatError,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "open text")])]
    plain = extract_pdf(write_pdf(spec), "0" * 16)
    for r in (2, 3):
        enc = extract_pdf(write_pdf_rc4(spec, r=r), "0" * 16)
        assert enc.pages[0].content == plain.pages[0].content

    # V4 dict without /StmF defaults to Identity (spec) — on a doc whose
    # streams ARE encrypted that reads as garbage and must fail TYPED
    # (the unknown-CFM typed degrade is covered in the AES test)
    from pdf_document_extractor_spark.core.taxonomy import (
        CorruptedFileError,
    )

    aes = write_pdf_rc4(spec, r=3)
    aes = aes.replace(b"/V 2 /R 3", b"/V 4 /R 4")
    with _pytest.raises(CorruptedFileError):
        extract_pdf(aes, "0" * 16)

    # tampered /U (stands in for a non-empty user password) -> typed
    doc = bytearray(write_pdf_rc4(spec, r=3))
    upos = doc.find(b"/U <")
    doc[upos + 4 : upos + 8] = b"dead"
    with _pytest.raises(UnsupportedFormatError, match="password-protected"):
        extract_pdf(bytes(doc), "0" * 16)

    # the dispatch layer commits typed rows
    r = extract_document("u", bytes(doc))
    assert r.status == "hard_failure"
    assert r.error_type == "UnsupportedFormatError"


def test_openssl_fast_path_matches_pure_stdlib():
    """The optional OpenSSL-backed AES-CBC/RC4 fast path (round-6
    optimization) must be byte-identical to the pure-stdlib reference
    implementation across key sizes, data lengths, and the unsupported-
    key-length RC4 fallback. Skipped where `cryptography` is absent (the
    pure path is then the only path and is pinned by the FIPS vectors
    below)."""
    import random as _random

    import pytest as _pytest

    from pdf_document_extractor_spark.core import pdf_crypt as pc

    if not pc._OSSL:
        _pytest.skip("cryptography wheel not installed")
    rnd = _random.Random(20260821)

    def both(fn, *args):
        fast = fn(*args)
        pc._OSSL = False
        try:
            pure = fn(*args)
        finally:
            pc._OSSL = True
        assert fast == pure
        return fast

    for klen in (16, 24, 32):
        key = bytes(rnd.randrange(256) for _ in range(klen))
        iv = bytes(rnd.randrange(256) for _ in range(16))
        for dlen in (0, 16, 160, 4096):
            data = bytes(rnd.randrange(256) for _ in range(dlen))
            ct = both(pc.aes_cbc_encrypt, key, iv, data)
            assert both(pc.aes_cbc_decrypt, key, iv, ct) == data
    # RC4: supported OpenSSL sizes AND the 6-byte pure-fallback size
    for klen in (5, 6, 10, 16):
        key = bytes(rnd.randrange(256) for _ in range(klen))
        data = bytes(rnd.randrange(256) for _ in range(999))
        assert both(pc.rc4, key, both(pc.rc4, key, data)) == data
    # alignment errors keep their types on the fast path
    with _pytest.raises(ValueError):
        pc.aes_cbc_encrypt(b"k" * 16, b"i" * 16, b"short")
    from pdf_document_extractor_spark.core.taxonomy import (
        CorruptedFileError,
    )

    with _pytest.raises(CorruptedFileError):
        pc.aes_cbc_decrypt(b"k" * 16, b"i" * 16, b"short")


def test_decryptor_cache_key_canonical_and_typed_fallback():
    """_canon_key covers nested primitives deterministically and raises
    TypeError on non-primitives (ADVICE round-5: identity-based reprs
    must fall back to uncached, not silently defeat the cache)."""
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_crypt import _canon_key

    enc = {"Filter": "Standard", "V": 4, "CF": {"StdCF": {"CFM": "AESV2",
           "Length": 16}}, "P": -44, "Names": ["a", None, 2.5, True]}
    k1, k2 = _canon_key(enc), _canon_key(dict(reversed(list(enc.items()))))
    assert k1 == k2  # key order canonicalized

    class _Indirect:  # identity repr — the ADVICE failure shape
        pass

    with _pytest.raises(TypeError):
        _canon_key({"CF": {"StdCF": _Indirect()}})
    with _pytest.raises(TypeError):
        _canon_key({1: "non-string-key"})


def test_aes_block_cipher_matches_fips197_vectors():
    """The pure-stdlib AES core is pinned to the FIPS-197 appendix-C
    vectors — the encrypted-PDF path depends on it wholesale."""
    from pdf_document_extractor_spark.core.pdf_crypt import (
        _aes_decrypt_block,
        _aes_encrypt_block,
        _aes_expand_key,
    )

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    k128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    k256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f"
    )
    rk = _aes_expand_key(k128)
    ct = _aes_encrypt_block(rk, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _aes_decrypt_block(rk, ct) == pt
    rk = _aes_expand_key(k256)
    ct = _aes_encrypt_block(rk, pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert _aes_decrypt_block(rk, ct) == pt


def test_aes_encrypted_pdf_roundtrip_and_typed_degrades():
    """AESV2 (V4/R4) and AESV3 (V5, R5 legacy + R6) decrypt to
    byte-identical content; tampered credentials and unknown crypt
    filters degrade typed."""
    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf,
        write_pdf_aes,
        write_pdf_aes256,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        UnsupportedFormatError,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "open text")])]
    plain = extract_pdf(write_pdf(spec), "0" * 16).pages[0].content
    for pdf in (
        write_pdf_aes(spec),
        write_pdf_aes256(spec),
        write_pdf_aes256(spec, r=5),
    ):
        assert extract_pdf(pdf, "0" * 16).pages[0].content == plain

    # unknown crypt filter method -> typed
    doc = write_pdf_aes(spec).replace(b"/CFM /AESV2", b"/CFM /AESV9")
    with _pytest.raises(UnsupportedFormatError, match="crypt filter"):
        extract_pdf(doc, "0" * 16)

    # tampered V5 /U hash (stands in for a real user password) -> typed
    doc = bytearray(write_pdf_aes256(spec))
    upos = doc.find(b"/U <")
    doc[upos + 4 : upos + 8] = b"beef"
    with _pytest.raises(UnsupportedFormatError, match="password-protected"):
        extract_pdf(bytes(doc), "0" * 16)


def test_broken_xref_is_rebuilt_by_object_scan():
    """A wrong startxref / zeroed xref table must not cost the document:
    the reader-repair fallback rebuilds the table from object headers
    (round 4). Hopeless inputs stay typed-corrupt."""
    import re as _re

    import pytest as _pytest

    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf,
    )
    from pdf_document_extractor_spark.core.taxonomy import CorruptedFileError

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "survives repair")])]
    good = write_pdf(spec)
    want = extract_pdf(good, "0" * 16).pages[0].content

    # startxref pointing nowhere
    broken = _re.sub(rb"startxref\s+\d+", b"startxref\n999999999", good)
    assert extract_pdf(broken, "0" * 16).pages[0].content == want

    # xref table bytes trashed in place (offsets all wrong)
    tpos = good.find(b"xref")
    trashed = good[:tpos] + b"joke" + good[tpos + 4 :]
    assert extract_pdf(trashed, "0" * 16).pages[0].content == want

    # incremental update: repair must keep the NEWEST object versions
    from pdf_document_extractor_spark.core.pdf_write import (
        append_incremental,
        content_stream_obj,
    )

    upd = append_incremental(
        good,
        {5: content_stream_obj(
            PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "newer text")])
        )},
    )
    upd_broken = _re.sub(rb"startxref\s+\d+", b"startxref\n999999999", upd)
    assert (
        extract_pdf(upd_broken, "0" * 16).pages[0].content
        == "Page 1\n\nnewer text\n"
    )

    # no object headers at all -> still typed corrupt
    with _pytest.raises(CorruptedFileError):
        extract_pdf(b"%PDF-1.4\njust noise, no objects", "0" * 16)


def test_crypt_review_fixes_round4():
    """Pins for the third-review findings: unsigned /P packs to the same
    key; V5 /StmF /Identity passes streams through untouched; rebuilt
    trailers merge per-key so /Encrypt survives a minimal appended
    trailer."""
    import re as _re

    from pdf_document_extractor_spark.core.pdf_crypt import (
        _build_v5,
        build_decryptor,
        trailer_id0,
    )
    from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf_aes256,
        write_pdf_rc4,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "p packing")])]

    # /P emitted unsigned (bit pattern of -44) must derive the same key
    doc = write_pdf_rc4(spec)
    unsigned = doc.replace(b"/P -44", b"/P 4294967252")
    assert extract_pdf(unsigned, "0" * 16).pages[0].content == \
        "Page 1\n\np packing\n"

    # V5 with /StmF /Identity: decryptor is a passthrough (streams are
    # NOT encrypted; only strings would use /StrF)
    aes = write_pdf_aes256(spec)
    m = _re.search(
        rb"<< /Filter /Standard /V 5.*?/StrF /StdCF >>", aes, _re.S
    )
    enc_src = m.group(0).replace(b"/StmF /StdCF", b"/StmF /Identity")
    from pdf_document_extractor_spark.core.pdf_extract import _parse_object

    enc_dict, _ = _parse_object(enc_src, 0)
    dec = _build_v5(enc_dict, 6)
    assert dec(7, 0, b"plaintext bytes") == b"plaintext bytes"

    # rebuilt trailer merges per-key: append a minimal trailer with a
    # broken startxref — /Encrypt and /ID from the ORIGINAL trailer must
    # survive for decryption to work
    appended = doc + b"\ntrailer\n<< /Size 99 >>\nstartxref\n999999999\n%%EOF\n"
    assert extract_pdf(appended, "0" * 16).pages[0].content == \
        "Page 1\n\np packing\n"


def test_rebuild_recovers_encrypt_from_xref_stream_dict():
    """Encrypted PDF 1.5 layout + trashed startxref: repair must recover
    /Encrypt //ID from the /Type /XRef stream dict (no classic trailer
    exists) so the two round-4 features compose (fifth-review finding).
    The RC4 fixture is classic-layout, so emulate by stripping the
    classic trailer keyword and relying on the XRef-dict scan."""
    import re as _re

    from pdf_document_extractor_spark.core.pdf_extract import (
        _rebuild_xref,
        extract_pdf,
    )
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf_rc4,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "composed")])]
    doc = write_pdf_rc4(spec)
    # re-serialize the trailer dict as a /Type /XRef object instead of a
    # classic trailer, then break startxref
    m = _re.search(rb"trailer\n<< (.*?) >>\n", doc)
    assert m
    xref_obj = (
        b"99 0 obj\n<< /Type /XRef " + m.group(1) + b" >>\nendobj\n"
    )
    headless = doc[: m.start()] + xref_obj + b"startxref\n999999999\n%%EOF\n"
    offsets, trailer = _rebuild_xref(headless)
    assert "Encrypt" in trailer and "ID" in trailer
    r = extract_pdf(headless, "0" * 16)
    assert r.status == "success"
    assert r.pages[0].content == "Page 1\n\ncomposed\n"


def test_scanned_check_tolerates_dangling_xobject_refs():
    """_has_image_xobjects is diagnostic-only: a freed/missing XObject
    reference must not raise (fifth-review finding) — the doc stays
    EmptyContentError, not CorruptedFileError via the retry path."""
    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.core.pdf_write import _serialize_classic

    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /XObject << /Im1 77 0 R >> >> >>",
        b"<< /Length 0 >>\nstream\n\nendstream",
    ]
    r = extract_document("u", _serialize_classic(objects))
    assert r.status == "hard_failure"
    assert r.error_type == "EmptyContentError"


def test_rebuild_xref_marker_salting_is_linear():
    """Round-4 advice (medium): a broken-xref file salted with many
    '/Type /XRef' markers must not turn _rebuild_xref into an
    O(occurrences x filesize) wall-clock bomb — the nearest-preceding
    object-header lookup is a bisect over one precomputed scan."""
    import time

    from pdf_document_extractor_spark.core.pdf_extract import _rebuild_xref
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "salted")])]
    doc = write_pdf(spec)
    filler = b"".join(
        b"%d 0 obj\n<< /K %d >>\nendobj\n" % (1000 + i, i)
        for i in range(2000)
    )

    def run(markers: int) -> float:
        # headerless comment lines carrying the marker: each used to
        # trigger a full finditer re-scan from offset 0
        salt = b"% /Type /XRef\n" * markers
        bomb = doc + filler + salt + b"\nstartxref\n999999999\n%%EOF\n"
        t0 = time.monotonic()
        offsets, trailer = _rebuild_xref(bomb)
        elapsed = time.monotonic() - t0
        assert "Root" in trailer and offsets
        return elapsed

    # algorithmic assertion, not an absolute wall bound (round-5 advice:
    # a fixed 5 s limit can flake on a loaded host even though the path
    # is linear): 10x the markers must cost ~10x, not ~100x. The wide
    # margin + additive slack absorb host noise and timer granularity.
    small = max(run(300), 1e-3)
    big = run(3000)
    assert big < small * 40 + 2.0, (
        f"_rebuild_xref scaling looks quadratic: {small:.3f}s @300 "
        f"markers vs {big:.3f}s @3000"
    )


def test_decryptor_cache_amortizes_key_derivation():
    """build_decryptor memoizes by (/Encrypt dict, /ID): same credential
    set -> same decryptor object (file-key derivation and /U validation
    run once per worker per producer, round-4 verdict task 6); different
    /ID -> distinct entry; typed rejections are never cached."""
    import pytest

    from pdf_document_extractor_spark.core import pdf_crypt as pc
    from pdf_document_extractor_spark.core.pdf_extract import (
        _parse_object,
        extract_pdf,
    )
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf_rc4,
    )
    from pdf_document_extractor_spark.core.taxonomy import (
        UnsupportedFormatError,
    )

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "cached")])]
    doc = write_pdf_rc4(spec)
    import re as _re

    m = _re.search(rb"<< /Filter /Standard .*? >>", doc, _re.S)
    enc, _ = _parse_object(m.group(0), 0)
    from pdf_document_extractor_spark.core.pdf_extract import _parse_xref

    _offs, trailer = _parse_xref(doc)
    id0 = pc.trailer_id0(trailer)
    pc._DECRYPTOR_CACHE.clear()
    d1 = pc.build_decryptor(enc, id0)
    d2 = pc.build_decryptor(enc, id0)
    assert d1 is d2
    assert len(pc._DECRYPTOR_CACHE) == 1
    # different /ID -> different file key -> /U validation rejects, and
    # the rejection is NOT cached (raises every call)
    bad = dict(enc)
    bad["Filter"] = "Acme"
    for _ in range(2):
        with pytest.raises(UnsupportedFormatError):
            pc.build_decryptor(bad, id0)
    assert len(pc._DECRYPTOR_CACHE) == 1
    # end-to-end still decrypts through the cache
    assert extract_pdf(doc, "0" * 16).pages[0].content == \
        "Page 1\n\ncached\n"


def test_corrupt_mediabox_and_kids_fail_typed_or_degrade():
    """Round-5 deep-fuzz findings: /MediaBox resolving to a non-array
    (or carrying a non-numeric height) degrades to the default page
    height like viewers do; /Kids resolving to a non-array fails typed
    CorruptedFileError — neither may leak TypeError."""
    from pdf_document_extractor_spark.core.dispatch import extract_document
    from pdf_document_extractor_spark.core.pdf_write import (
        PdfPageSpec,
        TextShow,
        write_pdf,
    )

    doc = write_pdf([PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "t")])])
    # MediaBox -> bare int (still truthy: the old `or` default missed it)
    broken_mb = doc.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox 612000")
    r = extract_document("u", broken_mb)
    assert r.status == "success"  # content unaffected by bbox flips
    assert r.pages[0].content == "Page 1\n\nt\n"
    # MediaBox with a name where the height belongs
    broken_h = doc.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox [0 0 612 /H]")
    assert extract_document("u", broken_h).status == "success"
    # Kids -> a number: typed corrupt, not '_Stream/int not iterable'
    broken_kids = doc.replace(b"/Kids [", b"/Kids 7 %")
    r = extract_document("u", broken_kids)
    assert r.status == "hard_failure"
    assert r.error_type == "CorruptedFileError"
