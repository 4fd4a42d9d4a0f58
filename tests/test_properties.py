"""Property-based hardening (hypothesis): the extraction core must be
TOTAL — any byte string produces either a success result or a classified
hard-failure row; soft (transient) classes re-raise; nothing else escapes.
At 10^12 documents every weird byte sequence WILL occur; an unclassified
exception would fail a whole task retry-loop instead of one row."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_document_extractor_spark.core.dispatch import extract_document
from pdf_document_extractor_spark.core.model import (
    STATUS_HARD_FAILURE,
    STATUS_SUCCESS,
)
from pdf_document_extractor_spark.core.pdf_write import (
    PdfPageSpec,
    TextShow,
    write_pdf,
)
from pdf_document_extractor_spark.operators.extract import extract_rows_py

ALLOWED = {STATUS_SUCCESS, STATUS_HARD_FAILURE}


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_extract_total_on_arbitrary_bytes(data):
    res = extract_document("https://h.example/x", data)
    assert res.status in ALLOWED
    if res.status == STATUS_HARD_FAILURE:
        assert res.error_type  # classified, never anonymous


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_extract_total_on_pdf_magic_prefixed_garbage(data):
    res = extract_document("https://h.example/x", b"%PDF-" + data)
    assert res.status in ALLOWED
    assert res.doc_type == "pdf"


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=1024))
def test_extract_total_on_arbitrary_markup(text):
    payload = f"<html><body><p>{text}</p></body></html>".encode(
        "utf-8", errors="replace"
    )
    res = extract_document("https://h.example/x", payload)
    assert res.status in ALLOWED


@settings(max_examples=100, deadline=None)
@given(
    st.binary(min_size=100, max_size=800),
    st.integers(min_value=0, max_value=799),
    st.integers(min_value=1, max_value=64),
)
def test_extract_total_on_corrupted_valid_pdf(junk, pos, length):
    """Take a well-formed fixture PDF and splice junk into it anywhere."""
    pdf = write_pdf(
        [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "hello world")])],
        compress=True,
    )
    pos = pos % len(pdf)
    mutated = pdf[:pos] + junk[:length] + pdf[pos + length:]
    res = extract_document("https://h.example/x", mutated)
    assert res.status in ALLOWED


@settings(max_examples=100, deadline=None)
@given(st.text(min_size=1, max_size=200))
def test_rows_match_result_invariants(text):
    """extract_rows_py (the UDF body) emits rows whose word_count/char spans
    reconcile with content for any successful extraction."""
    payload = f"<html><body><article><p>{text}</p></article></body></html>".encode()
    rows = extract_rows_py("https://h.example/x", payload)
    for row in rows:
        if row["status"] != STATUS_SUCCESS:
            continue
        assert row["word_count"] == len(row["content"].split())
        for el in row["elements"]:
            assert 0 <= el["char_start"] <= el["char_end"]
            assert (
                row["content"][el["char_start"]:el["char_end"]] == el["text"]
            )


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=1024))
def test_extract_total_on_zip_magic_prefixed_garbage(data):
    res = extract_document("https://h.example/x", b"PK\x03\x04" + data)
    assert res.status in ALLOWED
    if res.status == STATUS_HARD_FAILURE:
        assert res.error_type


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=1024))
def test_extract_total_on_rtf_magic_prefixed_garbage(data):
    res = extract_document("https://h.example/x", b"{\\rtf" + data)
    assert res.status in ALLOWED


@settings(max_examples=100, deadline=None)
@given(
    st.binary(min_size=50, max_size=400),
    st.integers(min_value=0, max_value=2000),
    st.integers(min_value=1, max_value=64),
)
def test_extract_total_on_corrupted_xref_stream_pdf(junk, pos, length):
    """Splice junk anywhere into a PDF 1.5 (ObjStm + predictor xref
    stream) document: binary xref entries, predictor rows, and object
    stream headers must all fail CLASSIFIED, never crash."""
    from pdf_document_extractor_spark.core.pdf_write import write_pdf_15

    pdf = write_pdf_15(
        [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "hello world")])],
        predictor=True,
    )
    pos = pos % len(pdf)
    mutated = pdf[:pos] + junk[:length] + pdf[pos + length:]
    res = extract_document("https://h.example/x", mutated)
    assert res.status in ALLOWED


@settings(max_examples=100, deadline=None)
@given(
    st.binary(min_size=20, max_size=200),
    st.integers(min_value=0, max_value=1000),
)
def test_extract_total_on_corrupted_docx(junk, pos):
    """Splice junk into a valid DOCX: zip CRC errors, truncated XML, and
    bad central directories must all land in the taxonomy."""
    from pdf_document_extractor_spark.core.docx_write import write_docx

    doc = write_docx(["some paragraph text here", "another one"])
    pos = pos % len(doc)
    mutated = doc[:pos] + junk + doc[pos + len(junk):]
    res = extract_document("https://h.example/x", mutated)
    assert res.status in ALLOWED


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_extract_total_on_ole2_magic_prefixed_garbage(data):
    res = extract_document(
        "https://h.example/x", b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + data
    )
    assert res.status in ALLOWED
    if res.status == STATUS_HARD_FAILURE:
        assert res.error_type


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=512))
def test_extract_total_on_image_magic_prefixed_garbage(data):
    for magic in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff"):
        res = extract_document("https://h.example/x", magic + data)
        assert res.status in ALLOWED
        if res.status == STATUS_HARD_FAILURE:
            assert res.error_type


@settings(max_examples=100, deadline=None)
@given(
    st.binary(min_size=50, max_size=400),
    st.integers(min_value=0, max_value=399),
)
def test_extract_total_on_corrupted_scanned_pdf(junk, pos):
    from pdf_document_extractor_spark.core.pdf_write import write_pdf_scanned

    base = bytearray(write_pdf_scanned())
    pos = min(pos, len(base) - len(junk)) if len(base) > len(junk) else 0
    base[pos : pos + len(junk)] = junk
    res = extract_document("https://h.example/x", bytes(base))
    assert res.status in ALLOWED
    if res.status == STATUS_HARD_FAILURE:
        assert res.error_type


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=1024), st.sampled_from(["html", "json"]))
def test_renderers_total_on_arbitrary_bytes(data, fmt):
    """The html/json render path must be as total as the default path —
    a renderer crash on a weird-but-extractable document would be a new
    escape hatch from the taxonomy."""
    res = extract_document("https://h.example/x", data, output_format=fmt)
    assert res.status in ALLOWED
    if res.status == STATUS_HARD_FAILURE:
        assert res.error_type


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=800), st.binary(min_size=0, max_size=200))
def test_extract_total_on_zip_with_container_parts(xml_junk, name_junk):
    """Zip containers whose ROUTING parts (container.xml / content.xml)
    hold arbitrary bytes must stay inside the taxonomy — the round-4
    odf/epub routers added new parse surfaces behind the PK magic."""
    import io
    import zipfile

    for part in ("META-INF/container.xml", "content.xml"):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr(part, xml_junk)
            zf.writestr("extra.bin", name_junk)
        res = extract_document("https://h.example/x", buf.getvalue())
        assert res.status in ALLOWED
        if res.status == STATUS_HARD_FAILURE:
            assert res.error_type
