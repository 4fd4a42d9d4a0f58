"""M4 output-format renderers, selected by the one ``output_format`` string.

Reference semantics: page-content templates per DoclingOutputFormatEnum
(docling_strategy_processor.py:1282-1294 — '# Page {n}' for markdown,
'Page {n}' for text, bare newline-join for anything else).
"""

from __future__ import annotations

from pdf_document_extractor_spark.core.docx_write import write_docx
from pdf_document_extractor_spark.core.pdf_extract import extract_pdf
from pdf_document_extractor_spark.core.pdf_write import (
    PdfPageSpec,
    TextShow,
    write_pdf,
)
from pdf_document_extractor_spark.operators.extract import extract_rows_py
from pdf_document_extractor_spark.sources.pages import synth_pdf_table_payload

PDF = write_pdf(
    [
        PdfPageSpec(
            shows=[
                TextShow(72.0, 720.0, 18.0, "Title Here"),
                TextShow(72.0, 692.0, 10.0, "body words"),
            ]
        ),
        PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "page two body")]),
    ]
)


def test_markdown_format_renders_reference_template():
    r = extract_pdf(PDF, "h", "markdown")
    assert r.pages[0].content == "# Page 1\n\nTitle Here\nbody words\n"
    assert r.pages[1].content == "# Page 2\n\npage two body\n"
    # spans index into the RENDERED content
    el = r.pages[0].elements[0]
    assert r.pages[0].content[el.char_start : el.char_end] == el.text
    assert r.pages[0].word_count == len(r.pages[0].content.split())


def test_text_format_is_default_and_unchanged():
    assert (
        extract_pdf(PDF, "h").pages[0].content
        == extract_pdf(PDF, "h", "text").pages[0].content
        == "Page 1\n\nTitle Here\nbody words\n"
    )


def test_unknown_formats_fall_through_to_bare_join():
    # html/json render since round 4; anything OUTSIDE the reference enum
    # still takes the reference's bare "\n"-join branch
    for fmt in ("doctags", "yaml"):
        r = extract_pdf(PDF, "h", fmt)
        assert r.pages[0].content == "Title Here\nbody words", fmt
        el = r.pages[0].elements[-1]
        assert r.pages[0].content[el.char_start : el.char_end] == el.text


def test_html_format_renders_minimal_markup():
    """M4 'html' (reference DoclingOutputFormatEnum.HTML): h1 for header
    lines, p for body, one <table> per detected grid, escaped text."""
    r = extract_pdf(PDF, "h", "html")
    assert r.pages[0].content == "<h1>Title Here</h1>\n<p>body words</p>"
    assert r.pages[1].content == "<p>page two body</p>"
    # a grid table renders as tr/td cells
    tbl = extract_pdf(
        synth_pdf_table_payload("body line", "en", "src1"),
        "h",
        "html",
    )
    assert tbl.pages[0].content == (
        "<p>body line</p>\n"
        "<table><tr><td>k</td><td>v</td></tr>"
        "<tr><td>lang</td><td>en</td></tr>"
        "<tr><td>source</td><td>src1</td></tr></table>"
    )
    # markup characters in page text are escaped
    esc = extract_pdf(
        write_pdf([PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "a <b> & c")])]),
        "h",
        "html",
    )
    assert esc.pages[0].content == "<p>a &lt;b&gt; &amp; c</p>"


def test_json_format_is_canonical_sorted_dump():
    """M4 'json' (reference DoclingOutputFormatEnum.JSON): sorted-key
    compact dump of the element stream; spans index the bare-join layer."""
    import json

    r = extract_pdf(PDF, "h", "json")
    obj = json.loads(r.pages[0].content)
    assert obj["page_number"] == 1
    assert [e["label"] for e in obj["elements"]] == ["header", "body"]
    el0, el1 = obj["elements"]
    bare = "Title Here\nbody words"
    assert bare[el0["char_start"] : el0["char_end"]] == "Title Here"
    assert bare[el1["char_start"] : el1["char_end"]] == "body words"
    # canonical: re-dumping with the pinned knobs is byte-identical
    assert (
        json.dumps(obj, sort_keys=True, separators=(",", ":"),
                   ensure_ascii=False)
        == r.pages[0].content
    )


def test_generic_renderers_apply_to_all_doc_types():
    """M4 completion: html/json formats render for EVERY doc type via the
    shared element-stream renderer (PDF keeps its positional in-extractor
    renderer; both share one canonical json dump)."""
    import json as _json

    from pdf_document_extractor_spark.core.docx_write import write_pptx

    docx = write_docx(["first para", "second para"])
    rows = extract_rows_py("u1", docx, output_format="json")
    obj = _json.loads(rows[0]["content"])
    assert [e["text"] for e in obj["elements"]] == [
        "first para", "second para",
    ]
    bare = "first para\nsecond para"
    for e in obj["elements"]:
        assert bare[e["char_start"] : e["char_end"]] == e["text"]
    assert rows[0]["word_count"] == len(rows[0]["content"].split())

    rows = extract_rows_py("u2", docx, output_format="html")
    assert rows[0]["content"] == "<p>first para</p>\n<p>second para</p>"

    # html input with a table: table reconstructed from the pinned CSV
    html = (
        b"<html><body><p>a & b</p>"
        b"<table><tr><th>h</th></tr><tr><td>x</td></tr></table>"
        b"</body></html>"
    )
    rows = extract_rows_py("u3", html, output_format="html")
    assert rows[0]["content"] == (
        "<p>a &amp; b</p>\n<table><tr><td>h</td></tr><tr><td>x</td></tr>"
        "</table>"
    )

    # pptx: per-page dump keeps page_no per slide
    pptx = write_pptx([["slide one"], ["slide two"]])
    rows = extract_rows_py("u4", pptx, output_format="json")
    pages = [_json.loads(r["content"]) for r in rows]
    assert [p["page_number"] for p in pages] == [1, 2]
    assert pages[1]["elements"][0]["page_no"] == 2


def test_html_render_survives_giant_table_cell():
    """A table cell beyond csv's 128 KiB field limit must render, not
    hard-fail (round-4 second-review finding): table_csv wrote it
    unlimited, so the html renderer's csv round-trip must read it back."""
    big = "w" * 200_000
    html = (
        "<html><body><p>t</p><table><tr><td>"
        + big
        + "</td></tr></table></body></html>"
    ).encode()
    rows = extract_rows_py("u", html, output_format="html")
    assert rows[0]["status"] == "success"
    assert f"<td>{big}</td>" in rows[0]["content"]
