"""The `pages` input table (BASELINE.json input_hint schema) — readers and
deterministic synthesis.

``synthesize_pages_from_documents`` builds a pages table FROM the driver's
``documents.parquet`` with invertible templates: the extractor's output on a
synthesized payload is an exact SQL-expressible function of the source
``text`` column. That is what lets the DuckDB oracle check the whole
extraction pipeline end-to-end (see __spark_entry__.py):

  html payload  -> extracted content == text
  pdf payload   -> extracted content == 'Page 1' || chr(10) || chr(10)
                                        || text || chr(10)
  corrupt (doc_id % 17 == 0 in mode='mixed_fail') -> hard_failure row

Templates are PINNED — changing them breaks the oracle SQL in
__spark_entry__.py and the goldens.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from ..core.docx_write import write_docx, write_pptx, write_xlsx
from ..core.pdf_write import (
    PdfPageSpec,
    TextShow,
    append_incremental,
    content_stream_obj,
    table_grid,
    write_pdf,
    write_pdf_15,
)
from ..worker import guard_zip_imports

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_EPOCH_ISO = "2025-01-01T00:00:00+00:00"

# Pinned synthesis templates ------------------------------------------------

_HTML_TEMPLATE = (
    "<html><head><title>doc {doc_id}</title></head><body>"
    "<nav><a href='/'>home</a> <a href='/about'>about</a></nav>"
    "<article><p>{text}</p></article>"
    "<footer><a href='/tos'>terms</a> all rights reserved</footer>"
    "</body></html>"
)

_HTML_TABLE_TEMPLATE = (
    "<html><body><article><p>{text}</p></article>"
    "<table><caption>table for doc {doc_id}</caption>"
    "<tr><th{merge}>k</th><th>v</th></tr>"
    "<tr><td>lang</td><td>{lang}</td></tr>"
    "<tr><td>source</td><td>{source}</td></tr></table>"
    "</body></html>"
)

_HTML_FIG_TEMPLATE = (
    "<html><body><article><p>{text}</p></article>"
    "<figure><img src='/a.png' alt='figure for doc {doc_id}'>"
    "<figcaption>caption {doc_id}</figcaption></figure>"
    "<img src='/b.png'>"
    "</body></html>"
)

# Legacy-charset pages (html_charset mode): even doc_id -> windows-1252
# with a <meta charset>, odd -> GBK with an http-equiv declaration. The
# non-ASCII prefix is the decode witness: mis-decoding as UTF-8 would turn
# it into U+FFFD and break the oracle's byte-identity.
_HTML_CP1252_TEMPLATE = (
    '<html><head><meta charset="windows-1252"></head>'
    "<body><article><p>café {text}</p></article></body></html>"
)
_HTML_GBK_TEMPLATE = (
    '<html><head><meta http-equiv="Content-Type" '
    'content="text/html; charset=gbk"></head>'
    "<body><article><p>中文 {text}</p></article></body></html>"
)

_CORRUPT_PAYLOAD = b"%PDF-1.4\nthis is not a real pdf body"

# Fixed overhead of the html template (payload bytes = this + len(str(doc_id))
# + len(text) for ASCII text) — used by the heavy-split oracle SQL.
HTML_TEMPLATE_FIXED_LEN = len(_HTML_TEMPLATE.format(doc_id="", text=""))


def synth_html_payload(doc_id: int, text: str) -> bytes:
    return _HTML_TEMPLATE.format(doc_id=doc_id, text=text).encode("utf-8")


def synth_html_charset_payload(doc_id: int, text: str) -> bytes:
    """Legacy-encoding page: the whole document is encoded in the declared
    charset (text is all-ASCII; the prefix is the non-ASCII witness)."""
    if doc_id % 2 == 0:
        return _HTML_CP1252_TEMPLATE.format(text=text).encode("cp1252")
    return _HTML_GBK_TEMPLATE.format(text=text).encode("gbk")


def synth_html_table_payload(
    doc_id: int, text: str, lang: str, source: str
) -> bytes:
    """Every 3rd doc carries a colspan'd header cell — the merged-cell
    metadata witness (text grid is unchanged: attrs don't affect cells)."""
    merge = ' colspan="2"' if doc_id % 3 == 0 else ""
    return _HTML_TABLE_TEMPLATE.format(
        doc_id=doc_id, text=text, lang=lang, source=source, merge=merge
    ).encode("utf-8")


def synth_txt_payload(text: str) -> bytes:
    """Plain UTF-8 text bytes -> txt passthrough: content == text."""
    return text.encode("utf-8")


def synth_docx_payload(doc_id: int, text: str, lang: str, source: str) -> bytes:
    """Two paragraphs split at token 3 (documents have >= 10 tokens) plus
    the standard 3x2 k/v table -> content == p1 + '\\n' + p2, tables
    mirror the html_table/pdf_table oracles. Every 3rd doc stamps a
    w:gridSpan (merged-cell witness; text grid unchanged)."""
    toks = text.split()
    return write_docx(
        [" ".join(toks[:3]), " ".join(toks[3:])],
        tables=[[["k", "v"], ["lang", lang], ["source", source]]],
        merged=doc_id % 3 == 0,
    )


def synth_xlsx_payload(doc_id: int, lang: str, source: str) -> bytes:
    """One sheet holding the standard 3x2 k/v grid (shared strings) ->
    content == 'k v\\nlang <lang>\\nsource <source>', one TableRef. Every
    3rd doc carries a <mergeCells> block (merged-cell witness)."""
    return write_xlsx(
        [[["k", "v"], ["lang", lang], ["source", source]]],
        merged=doc_id % 3 == 0,
    )


def synth_pptx_payload(text: str) -> bytes:
    """Two slides split at token 3 -> one page per slide, content == the
    slide's paragraph text."""
    toks = text.split()
    return write_pptx([[" ".join(toks[:3])], [" ".join(toks[3:])]])


def _rtf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("{", r"\{").replace("}", r"\}")


def synth_rtf_payload(text: str) -> bytes:
    """RTF with a font-table destination, a cp1252 hex escape witness and
    a \\par -> content == 'café ' + text."""
    body = _rtf_escape(text)
    return (
        r"{\rtf1\ansi\deff0 {\fonttbl{\f0 Arial;}}\f0 caf\'e9 "
        + body
        + r"\par}"
    ).encode("ascii")


def synth_odt_payload(text: str, lang: str, source: str) -> bytes:
    """OpenDocument text: same two-paragraph split at token 3 + 3x2 k/v
    table as docx -> identical oracle shape."""
    from ..core.odf_extract import write_odt

    toks = text.split()
    return write_odt(
        [" ".join(toks[:3]), " ".join(toks[3:])],
        tables=[[["k", "v"], ["lang", lang], ["source", source]]],
    )


def synth_ods_payload(lang: str, source: str) -> bytes:
    """OpenDocument spreadsheet: the standard 3x2 k/v grid -> same
    content/table oracle shape as xlsx."""
    from ..core.odf_extract import write_ods

    return write_ods([[["k", "v"], ["lang", lang], ["source", source]]])


def synth_epub_payload(text: str) -> bytes:
    """EPUB with two XHTML chapters split at token 5 -> one page per
    spine chapter; content == the chapter's text."""
    from ..core.epub_extract import write_epub

    toks = text.split()
    return write_epub(
        [
            "<p>" + " ".join(toks[:5]) + "</p>",
            "<p>" + " ".join(toks[5:]) + "</p>",
        ]
    )


def synth_doc_payload(text: str) -> bytes:
    """Legacy Word binary (.doc): same two-paragraph split at token 3 as
    docx -> content == p1 + '\\n' + p2; the piece table always carries one
    cp1252 and one UTF-16 piece (ole_write.write_doc)."""
    from ..core.ole_write import write_doc

    toks = text.split()
    return write_doc([" ".join(toks[:3]), " ".join(toks[3:])])


def synth_xls_payload(lang: str, source: str) -> bytes:
    """Legacy Excel binary (.xls, BIFF8): the standard 3x2 k/v grid via
    SST + LABELSST -> same content/table oracle as xlsx."""
    from ..core.ole_write import write_xls

    return write_xls([("Sheet1", [["k", "v"], ["lang", lang], ["source", source]])])


def synth_pdf_payload(text: str) -> bytes:
    """One page, whole text as a single 10pt body show -> extracted content
    is exactly 'Page 1\\n\\n' + text + '\\n'."""
    return write_pdf([PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])])


def synth_pdf2_payload(text: str) -> bytes:
    """Two pages split at token 5 (documents all have >= 10 tokens), both
    FlateDecode-compressed -> per-page content is 'Page {n}\\n\\n' + part +
    '\\n'. Exercises multi-page assembly + Flate in the oracle gate."""
    toks = text.split()
    p1, p2 = " ".join(toks[:5]), " ".join(toks[5:])
    return write_pdf(
        [
            PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, p1)]),
            PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, p2)]),
        ],
        compress=True,
    )


def synth_pdf_xs_payload(text: str) -> bytes:
    """PDF 1.5 modern structure: catalog/pages/font/page dicts in an object
    stream, predictor-12 cross-reference stream, Flate content — the layout
    real-web (Common Crawl) PDFs actually use. Same extraction oracle as
    mode='pdf': content == 'Page 1\\n\\n' + text + '\\n'."""
    return write_pdf_15(
        [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])],
        predictor=True,
    )


def synth_pdf_inc_payload(text: str) -> bytes:
    """Incrementally-updated PDF: a classic base whose single content
    stream is overridden by an appended update section (/Prev chain). The
    parser must read the NEWEST xref section, so extracted content carries
    the update's text, never the placeholder."""
    base = write_pdf(
        [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "placeholder gone")])]
    )
    # single-page layout: object 5 is the content stream (pdf_write.py)
    new_cs = content_stream_obj(
        PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])
    )
    return append_incremental(base, {5: new_cs})


def synth_pdf_hex_payload(text: str) -> bytes:
    """Classic single-page PDF whose show operands are <...> HEX strings
    (the pdflatex/Ghostscript shape). Same oracle as mode='pdf':
    content == 'Page 1\\n\\n' + text + '\\n'."""
    from ..core.pdf_write import write_pdf_hex

    return write_pdf_hex([PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])])


def synth_pdf_tounicode_payload(text: str) -> bytes:
    """Type0/Identity-H composite font: every char is a 2-byte CID mapped
    back to text ONLY via the /ToUnicode CMap (bfchar + both bfrange
    forms). 'café ' prefix is the non-identity witness (é rides the
    array-form bfrange) -> content == 'Page 1\\n\\n' + 'café ' + text +
    '\\n'."""
    from ..core.pdf_write import write_pdf_cid

    return write_pdf_cid(
        [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "café " + text)])]
    )


def synth_pdf_encdiff_payload(text: str) -> bytes:
    """Simple font with /BaseEncoding /WinAnsiEncoding + /Differences
    [129 /eacute]: '€' decodes through the WinAnsi base (byte 0x80,
    undefined in latin-1 terms), 'é' ONLY through the Differences override
    (byte 0x81, undefined in cp1252) -> content == 'Page 1\\n\\n' +
    '€café ' + text + '\\n'."""
    from ..core.pdf_write import write_pdf_encdiff

    return write_pdf_encdiff(
        [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, "€café " + text)])]
    )


def synth_pdf_a85_payload(text: str) -> bytes:
    """Filter-cascade PDF: content streams stored ASCII85-of-Flate
    (/Filter [/ASCII85Decode /FlateDecode]). Same oracle as mode='pdf'."""
    from ..core.pdf_write import write_pdf_a85

    return write_pdf_a85([PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])])


def synth_pdf_form_payload(text: str) -> bytes:
    """Form-XObject-wrapped page (/X1 Do invoking a /Subtype /Form — the
    pdflatex whole-page wrapper). Same oracle as mode='pdf'."""
    from ..core.pdf_write import write_pdf_form

    return write_pdf_form([PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])])


def synth_pdf_rc4_payload(doc_id: int, text: str) -> bytes:
    """Standard-security-handler encrypted PDFs with empty user password
    (the owner-password crawl shape): even doc_id -> R3/V2 128-bit, odd
    -> R2/V1 40-bit. Same oracle as mode='pdf'."""
    from ..core.pdf_write import write_pdf_rc4

    r = 3 if doc_id % 2 == 0 else 2
    return write_pdf_rc4(
        [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])], r=r
    )


def synth_pdf_aes_payload(doc_id: int, text: str) -> bytes:
    """AES-encrypted PDFs with empty user password: even doc_id ->
    V4/R4 /AESV2 (AES-128-CBC), odd -> V5/R6 /AESV3 (AES-256-CBC,
    Algorithm 2.B hashing). Same oracle as mode='pdf'."""
    from ..core.pdf_write import write_pdf_aes, write_pdf_aes256

    spec = [PdfPageSpec(shows=[TextShow(72.0, 720.0, 10.0, text)])]
    if doc_id % 2 == 0:
        return write_pdf_aes(spec)
    return write_pdf_aes256(spec)


def synth_pdf_badxref_payload(text: str) -> bytes:
    """PDF with a destroyed cross-reference: startxref points nowhere —
    the reader-repair fallback (object-header scan) must recover it.
    Same oracle as mode='pdf'."""
    import re as _re

    good = synth_pdf_payload(text)
    return _re.sub(rb"startxref\s+\d+", b"startxref\n999999999", good)


def synth_pdf_scanned_payload(doc_id: int, text: str) -> bytes:
    """Scanned-PDF taxonomy mode: every 2nd doc is an image-only PDF
    (-> typed ScannedPdfNoTextError hard failure), the rest are normal
    text PDFs — the mixed shape a crawl actually yields."""
    if doc_id % 2 == 0:
        from ..core.pdf_write import write_pdf_scanned

        return write_pdf_scanned(n_pages=1)
    return synth_pdf_payload(text)


def synth_foreign_payload(doc_id: int, text: str) -> bytes:
    """Foreign-producer differential mode (round-4 verdict task 3):
    cycle through documents written by OTHER encoders' dialects —
    Ghostscript-style Type1/StandardEncoding PDF (must extract exact
    text), Distiller-style /GBK-EUC-H Type0 PDF (typed degrade), an
    Excel 5.0/95 BIFF5 workbook (typed BIFF-version gate), and a
    pdflatex-style /W [0 2 1] xref-stream PDF (must extract exact
    text)."""
    from ..fixtures.foreign import (
        foreign_pdf_gbk,
        foreign_pdf_ghostscript,
        foreign_pdf_xrefstream_w021,
        foreign_xls_biff5,
    )

    k = doc_id % 4
    if k == 0:
        return foreign_pdf_ghostscript(text)
    if k == 1:
        return foreign_pdf_gbk(text)
    if k == 2:
        return foreign_xls_biff5(text.split()[:2])
    return foreign_pdf_xrefstream_w021(text)


def synth_pdf_hdr_payload(text: str) -> bytes:
    """18pt header line (first 3 tokens) above a 10pt body line (the rest):
    the font-size header/body labeling signal (HEADER_SIZE_MIN=14)."""
    toks = text.split()
    return write_pdf(
        [
            PdfPageSpec(
                shows=[
                    TextShow(72.0, 720.0, 18.0, " ".join(toks[:3])),
                    TextShow(72.0, 692.0, 10.0, " ".join(toks[3:])),
                ]
            )
        ]
    )


def synth_pdf_table_payload(text: str, lang: str, source: str) -> bytes:
    """Body line + a 3x2 x-aligned grid (k/v, lang, source) — the PDF grid
    table detector's target, mirroring the html_table payload."""
    shows = [TextShow(72.0, 720.0, 10.0, text)]
    shows += table_grid([["k", "v"], ["lang", lang], ["source", source]])
    return write_pdf([PdfPageSpec(shows=shows)])


def synth_png_payload(width: int, height: int) -> bytes:
    """Minimal valid PNG: signature + IHDR(w,h,8-bit gray) + 1 IDAT + IEND
    with real CRCs — the header probe (core/image_extract.py) reads only
    the IHDR."""
    import struct
    import zlib as _z

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", _z.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    idat = _z.compress(b"\x00" * (width + 1), 6)  # one filtered row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def synth_jpeg_payload(width: int, height: int) -> bytes:
    """Minimal JPEG: SOI + JFIF APP0 + SOF0(h,w) + EOI — the header probe
    walks segments to the SOF0."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)  # len: 2 + precision + h + w + Nf + comp(3)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01"  # Nf = 1 component
        + b"\x01\x11\x00"  # component: id=1, sampling 1x1, quant table 0
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def synth_gif_payload(width: int, height: int) -> bytes:
    """Minimal GIF89a: header + logical screen descriptor + trailer —
    the header probe reads only bytes 6-10."""
    import struct

    return (
        b"GIF89a" + struct.pack("<HH", width, height)
        + b"\x00\x00\x00" + b"\x3b"
    )


_CORRUPT_PNG = b"\x89PNG\r\n\x1a\nxx"  # signature but no IHDR


def synth_image_payload(doc_id: int) -> bytes:
    """Deterministic image corpus: even doc_id -> PNG, odd -> JPEG, dims
    derived from doc_id (SQL-invertible: w = 16 + doc_id % 97,
    h = 16 + doc_id % 53); every 17th doc is a truncated PNG -> a
    CorruptedFileError hard-failure row."""
    if doc_id % 17 == 0:
        return _CORRUPT_PNG
    w = 16 + doc_id % 97
    h = 16 + doc_id % 53
    if doc_id % 2 == 0:
        return synth_png_payload(w, h)
    return synth_jpeg_payload(w, h)


def synth_gzip_payload(doc_id: int, text: str) -> bytes:
    """gzip-wrapped html payload (mtime 0 for determinism): the
    transparent-gunzip dispatch path; oracle identical to mode='html'."""
    import gzip
    import io

    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(synth_html_payload(doc_id, text))
    return buf.getvalue()


def synth_payload(
    doc_id: int, text: str, mode: str, lang: str = "", source: str = ""
) -> bytes:
    """mode: 'html' | 'pdf' | 'pdf_xs' (PDF 1.5 xref/object streams) |
    'pdf_inc' (incremental update) | 'pdf2' | 'pdf_hdr' | 'pdf_table' |
    'html_table' | 'mixed' (alternate by doc_id parity) | 'mixed_fail'
    (mixed + corrupt every 17th doc)."""
    if mode == "mixed_fail" and doc_id % 17 == 0:
        return _CORRUPT_PAYLOAD
    if mode == "html":
        return synth_html_payload(doc_id, text)
    if mode == "html_charset":
        return synth_html_charset_payload(doc_id, text)
    if mode == "txt":
        return synth_txt_payload(text)
    if mode == "docx":
        return synth_docx_payload(doc_id, text, lang, source)
    if mode == "xlsx":
        return synth_xlsx_payload(doc_id, lang, source)
    if mode == "pptx":
        return synth_pptx_payload(text)
    if mode == "rtf":
        return synth_rtf_payload(text)
    if mode == "html_table":
        return synth_html_table_payload(doc_id, text, lang, source)
    if mode == "html_fig":
        return _HTML_FIG_TEMPLATE.format(doc_id=doc_id, text=text).encode(
            "utf-8"
        )
    if mode == "pdf":
        return synth_pdf_payload(text)
    if mode == "pdf_xs":
        return synth_pdf_xs_payload(text)
    if mode == "pdf_inc":
        return synth_pdf_inc_payload(text)
    if mode == "pdf_hex":
        return synth_pdf_hex_payload(text)
    if mode == "pdf_tounicode":
        return synth_pdf_tounicode_payload(text)
    if mode == "pdf_encdiff":
        return synth_pdf_encdiff_payload(text)
    if mode == "pdf_a85":
        return synth_pdf_a85_payload(text)
    if mode == "pdf_form":
        return synth_pdf_form_payload(text)
    if mode == "pdf_scanned":
        return synth_pdf_scanned_payload(doc_id, text)
    if mode == "pdf_rc4":
        return synth_pdf_rc4_payload(doc_id, text)
    if mode == "pdf_aes":
        return synth_pdf_aes_payload(doc_id, text)
    if mode == "pdf_badxref":
        return synth_pdf_badxref_payload(text)
    if mode == "pdf_foreign":
        return synth_foreign_payload(doc_id, text)
    if mode == "image":
        return synth_image_payload(doc_id)
    if mode == "gif":
        if doc_id % 17 == 0:
            return b"GIF89a\x01"  # truncated header -> CorruptedFileError
        return synth_gif_payload(16 + doc_id % 97, 16 + doc_id % 53)
    if mode == "gzip_html":
        return synth_gzip_payload(doc_id, text)
    if mode == "odt":
        return synth_odt_payload(text, lang, source)
    if mode == "ods":
        return synth_ods_payload(lang, source)
    if mode == "epub":
        return synth_epub_payload(text)
    if mode == "doc":
        return synth_doc_payload(text)
    if mode == "xls":
        return synth_xls_payload(lang, source)
    if mode == "pdf2":
        return synth_pdf2_payload(text)
    if mode == "pdf_hdr":
        return synth_pdf_hdr_payload(text)
    if mode == "pdf_table":
        return synth_pdf_table_payload(text, lang, source)
    if mode in ("mixed", "mixed_fail"):
        if doc_id % 2 == 0:
            return synth_pdf_payload(text)
        return synth_html_payload(doc_id, text)
    raise ValueError(f"unknown synthesis mode {mode!r}")


def synth_url(doc_id: int, mode: str) -> str:
    return f"https://synth.example/{mode}/{doc_id}"


def synthesize_pages_from_documents(
    spark: "SparkSession", sf_dir: str, mode: str = "mixed"
) -> "DataFrame":
    """documents.parquet -> pages(url, warc_ts, html, text, lang)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    return synthesize_pages(docs, mode)


def synthesize_pages(docs: "DataFrame", mode: str = "mixed") -> "DataFrame":
    """documents(doc_id, text, lang, source) DF -> pages table.

    Payload construction runs in one Arrow-batched mapInPandas stage
    (no per-row Python UDFs — input_hint mandate); the scan is pruned to
    (doc_id, text, lang, source).

    The docs side is spread across cores first (spread_small_input): a
    single-file documents table scans as one partition, which would run
    synthesis AND the fused extraction chained onto it on a single core.
    The guard is a no-op whenever the input already has enough
    partitions (any at-scale table, or an explicitly repartitioned
    corpus like the bench throughput job).
    """
    from ..operators.skew import spread_small_input

    docs = spread_small_input(docs)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard_zip_imports()
        for batch in batches:
            ids = batch["doc_id"].to_numpy()
            texts = batch["text"].to_numpy()
            langs = batch["lang"].to_numpy()
            sources = batch["source"].to_numpy()
            yield pd.DataFrame(
                {
                    "url": [synth_url(int(i), mode) for i in ids],
                    "warc_ts": pd.to_datetime(
                        pd.Series([_EPOCH_ISO] * len(ids), dtype="object")
                    )
                    + pd.to_timedelta(ids.astype("int64"), unit="s"),
                    "html": [
                        synth_payload(
                            int(i),
                            t if t is not None else "",
                            mode,
                            lang=str(lg),
                            source=str(src),
                        )
                        for i, t, lg, src in zip(ids, texts, langs, sources)
                    ],
                    "text": ["" for _ in ids],
                    "lang": langs,
                }
            )

    return docs.mapInPandas(build, schema=PAGES_SCHEMA)


def pages_df_from_fixtures(spark: "SparkSession", docs) -> "DataFrame":
    """FixtureDoc list (fixtures/gen.py) -> pages DataFrame."""
    rows = [(d.url, d.warc_ts, d.html, d.text, d.lang) for d in docs]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)
