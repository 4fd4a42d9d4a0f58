"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry is an implemented operator from SURVEY.md §2
(survey IDs cited per query); each has a DuckDB ``oracle_sql()`` twin over
the same parquet tables. Extraction queries work by construction: the pages
table is SYNTHESIZED deterministically from ``documents.parquet`` with
SQL-invertible payload templates (sources/pages.py), so the expected output
of the full Spark pipeline (synthesize -> magic-byte dispatch -> parse ->
extract -> assemble) is an exact SQL expression over ``documents``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

SF001 = "/root/testdata/sf0.001"

# Number of words the pinned PDF page template prepends ("Page {n}").
_PDF_TEMPLATE_WORDS = 2


def _doc_id(col: str = "url"):
    return F.element_at(F.split(F.col(col), "/"), -1).cast("long").alias("doc_id")


def _extracted(
    spark: SparkSession, sf_dir: str, mode: str, output_format: str = "text"
) -> DataFrame:
    from pdf_document_extractor_spark.operators.extract import extract_pages
    from pdf_document_extractor_spark.sources.pages import (
        synthesize_pages_from_documents,
    )

    pages = synthesize_pages_from_documents(spark, sf_dir, mode=mode)
    return extract_pages(pages, output_format=output_format).withColumn(
        "doc_id", _doc_id()
    )


# ---------------------------------------------------------------------------
# Extraction queries (SURVEY §2.3 M1-M15, §2.2 D1-D8, §2.6 P1-P3)
# ---------------------------------------------------------------------------


def q_extract_html_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip roundtrip (M1/M5/M13/D1): content == text."""
    return _extracted(spark, sf_dir, "html").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF parse roundtrip (M1/M5): content == 'Page 1\\n\\n' + text + '\\n'."""
    return _extracted(spark, sf_dir, "pdf").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_html_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy-charset decode (M15/D1 widening): windows-1252 and GBK pages
    with <meta charset>/http-equiv declarations decode to the exact text;
    a UTF-8 mis-decode would mangle the non-ASCII witness prefix."""
    return _extracted(spark, sf_dir, "html_charset").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_pdf_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown renderer (M4): reference '# Page {n}' template selected by
    output_format (DoclingOutputFormatEnum, docling_models.py:22-28)."""
    return _extracted(spark, sf_dir, "pdf", output_format="markdown").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_txt_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TXT passthrough extraction (reference MIME-table parity, D1/D2
    widening): magic-less printable bytes route to txt; content == text."""
    return _extracted(spark, sf_dir, "txt").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_docx_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX extraction (reference mime_type.py DOCX support): zip+XML
    paragraphs; two paragraphs split at token 3 join with '\\n'."""
    return _extracted(spark, sf_dir, "docx").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_docx_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX table extraction (M9/M10 parity for the ooxml path): same 3x2
    k/v grid semantics as html_table/pdf_table; every 3rd doc carries a
    w:gridSpan -> has_merged_cells (reference TableMetadata field,
    lib/models/extraction_models.py:151-179)."""
    ext = _extracted(spark, sf_dir, "docx")
    t = ext.select("doc_id", F.explode("tables").alias("t"))
    return t.select(
        "doc_id",
        F.col("t.num_rows").cast("long").alias("num_rows"),
        F.col("t.num_cols").cast("long").alias("num_cols"),
        F.array_join(F.col("t.headers"), "|").alias("headers_joined"),
        F.col("t.cell_count").cast("long").alias("cell_count"),
        F.col("t.caption").alias("caption"),
        F.col("t.has_merged_cells").cast("long").alias("has_merged_cells"),
        F.col("t.csv").alias("csv"),
    )


def q_extract_xlsx_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX extraction (reference mime_type.py XLSX support): shared-string
    cells render rows as lines; the sheet's 3x2 grid also lands in tables
    (same struct as html/pdf/docx tables)."""
    ext = _extracted(spark, sf_dir, "xlsx")
    t = ext.select(
        "doc_id", "doc_type", "status", "content", F.explode("tables").alias("t")
    )
    return t.select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.array_join(F.col("t.headers"), "|").alias("headers_joined"),
        F.col("t.cell_count").cast("long").alias("cell_count"),
        F.col("t.has_merged_cells").cast("long").alias("has_merged_cells"),
        F.col("t.csv").alias("csv"),
    )


def q_extract_doc_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy .doc extraction (reference mime_type.py:7
    application/msword): OLE2/CFB container, FIB + Clx piece table with
    mixed cp1252/UTF-16 pieces; same paragraph split as docx."""
    return _extracted(spark, sf_dir, "doc").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_xls_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy .xls extraction (reference mime_type.py:9
    application/vnd.ms-excel): BIFF8 SST + LABELSST records; same grid
    semantics as xlsx (sheets=pages, rows as lines, TableRef)."""
    ext = _extracted(spark, sf_dir, "xls")
    t = ext.select(
        "doc_id", "doc_type", "status", "content", F.explode("tables").alias("t")
    )
    return t.select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.array_join(F.col("t.headers"), "|").alias("headers_joined"),
        F.col("t.cell_count").cast("long").alias("cell_count"),
        F.col("t.has_merged_cells").cast("long").alias("has_merged_cells"),
        F.col("t.csv").alias("csv"),
    )


def q_extract_pptx_slides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPTX extraction (reference mime_type.py PPTX support): one page per
    slide in sldIdLst order, paragraph runs concatenated; elements carry
    the reference's separate slide counter (slide_no,
    docling_strategy_processor.py:1482-1510)."""
    el = F.try_element_at("elements", F.lit(1))
    return _extracted(spark, sf_dir, "pptx").select(
        "doc_id",
        "doc_type",
        "status",
        F.col("page_number").cast("long").alias("page_number"),
        F.col("page_count").cast("long").alias("page_count"),
        el["slide_no"].cast("long").alias("slide_no"),
        "content",
    )


def q_extract_rtf_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF extraction (reference mime_type.py RTF support): destination
    groups dropped, cp1252 hex-escape witness prefix, par -> newline."""
    return _extracted(spark, sf_dir, "rtf").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_pdf_xrefstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 1.5 modern structure (M1 dialect widening): object stream +
    predictor-12 cross-reference stream. Same invariant as the classic
    dialect: content == 'Page 1\\n\\n' + text + '\\n'."""
    return _extracted(spark, sf_dir, "pdf_xs").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-update PDFs (S10 analog at the file level): an appended
    update section overrides the base content stream; the newest xref
    section must win, so content carries the update's text only."""
    return _extracted(spark, sf_dir, "pdf_inc").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_pdf_hexstrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-string show operands (M1 text-encoding widening): <...> Tj
    operands must decode byte-identically to the literal-string dialect
    (content == 'Page 1\\n\\n' + text + '\\n')."""
    return _extracted(spark, sf_dir, "pdf_hex").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_tounicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type0/Identity-H + /ToUnicode CMap (M1 text-encoding widening, the
    modern subset-embedded-font shape): 2-byte CIDs recoverable only
    through the CMap's bfchar + bfrange (both forms). 'café ' prefix is
    the non-identity witness."""
    return _extracted(spark, sf_dir, "pdf_tounicode").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_encdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-font /Encoding dict (M1 text-encoding widening):
    /BaseEncoding /WinAnsiEncoding decodes '€' (byte 0x80), /Differences
    [129 /eacute] decodes 'é' — neither byte means that in latin-1."""
    return _extracted(spark, sf_dir, "pdf_encdiff").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_ascii85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade streams (M1 dialect widening): /Filter
    [/ASCII85Decode /FlateDecode] applied in order; unit tests cover
    ASCIIHex/RunLength/LZW too (test_core_pdf.py)."""
    return _extracted(spark, sf_dir, "pdf_a85").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_formxobject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Form-XObject pages (M1 dialect widening): text inside /Subtype
    /Form reached via the Do operator, form Resources applying inside."""
    return _extracted(spark, sf_dir, "pdf_form").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_htmlout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML output format (M4 — reference DoclingOutputFormatEnum.HTML,
    docling_models.py:22-28): body line -> <p>, grid table -> one <table>
    of <tr><td> cells, '\\n'-joined. Runs the pdf_table mode so both the
    paragraph and table branches render."""
    return _extracted(spark, sf_dir, "pdf_table", output_format="html").select(
        "doc_id", "doc_type", "status", "content"
    )


def q_extract_pdf_jsonout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON output format (M4 — reference DoclingOutputFormatEnum.JSON):
    canonical sorted-key dump of the element stream. Runs the pdf_hdr
    mode so both header and body labels (with exact bare-join spans)
    appear in the dump."""
    return _extracted(spark, sf_dir, "pdf_hdr", output_format="json").select(
        "doc_id", "doc_type", "status", "content"
    )


def q_extract_docx_jsonout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic (non-PDF) json renderer (M4 across ALL doc types — the
    reference exports any converted document in the configured format):
    docx pages re-render through the shared canonical element dump
    (core/render.py)."""
    return _extracted(spark, sf_dir, "docx", output_format="json").select(
        "doc_id", "doc_type", "status", "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_html_htmlout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic (non-PDF) html renderer (M4 across ALL doc types): the
    html_table mode re-renders as <p> blocks + a <table> reconstructed
    from the pinned CSV export."""
    return _extracted(spark, sf_dir, "html_table", output_format="html").select(
        "doc_id", "doc_type", "status", "content"
    )


def q_extract_pdf_scanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scanned-PDF figure-side value (round-4 verdict task 5 — reference
    OCR-off behavior still yields page images, docling_models.py:48):
    image-only pages are SUCCESS rows with template-only text content and
    figures populated from the image XObject headers (width/height/
    format/payload size; pixels never decoded). The typed
    ScannedPdfNoTextError remains only for image XObjects with no
    readable metadata."""
    ext = _extracted(spark, sf_dir, "pdf_scanned")
    # F.get, not [0]: ANSI mode throws INVALID_ARRAY_INDEX on the
    # figure-less text docs; get() yields NULL
    fig0 = F.get("figures", F.lit(0))
    return ext.select(
        "doc_id",
        "doc_type",
        "status",
        "error_type",
        "content",
        F.col("page_number").cast("long").alias("page_number"),
        F.size("figures").cast("long").alias("n_figures"),
        fig0["figure_id"].alias("figure_id"),
        fig0["image_format"].alias("image_format"),
        fig0["image_width"].cast("long").alias("image_width"),
        fig0["image_height"].cast("long").alias("image_height"),
        fig0["payload_bytes"].cast("long").alias("payload_bytes"),
    )


def q_extract_pdf_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RC4-encrypted PDFs with empty user password (M1 dialect widening —
    the 'owner-password' shape ubiquitous in crawls; standard security
    handler, PDF 32000 7.6.3; reference decrypts transparently through
    its PDF backend): R2/40-bit and R3/128-bit both decrypt to the same
    byte-identical content as mode='pdf'."""
    return _extracted(spark, sf_dir, "pdf_rc4").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES-encrypted PDFs, empty user password (M1 dialect widening):
    V4/R4 /AESV2 and V5/R6 /AESV3 both decrypt to the same
    byte-identical content as mode='pdf' (pure-stdlib FIPS-197 AES,
    core/pdf_crypt.py)."""
    return _extracted(spark, sf_dir, "pdf_aes").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_badxref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-reference repair (M1 robustness — broken xrefs are routine
    in crawled PDFs): startxref points nowhere, the object-header scan
    rebuilds the table, content stays byte-identical to mode='pdf'."""
    return _extracted(spark, sf_dir, "pdf_badxref").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_extract_pdf_foreign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-producer differential (round-4 verdict task 3): documents
    written by OTHER encoders' dialects — Ghostscript-style Type1 PDF
    with builtin StandardEncoding (no /Encoding; must extract the exact
    text), Distiller-style /GBK-EUC-H Type0 PDF (typed degrade — silent
    latin-1 garbage would be a correctness bug), and an Excel 5.0/95
    BIFF5 workbook (typed BIFF-version gate). The reference accepts the
    PDFs via pypdfium2 (docling_strategy_processor.py:622-712)."""
    return _extracted(spark, sf_dir, "pdf_foreign").select(
        "doc_id",
        "doc_type",
        "status",
        "error_type",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_content_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 content fallback chain (reference api_extraction_processor.py:
    316-344): corrupt payloads (doc_id%17==0 in mixed_fail) fall back to
    the row's provided WET-style text column; success rows keep the
    extracted content; the terminal arm is a metadata JSON dump."""
    from pdf_document_extractor_spark.operators.extract import (
        coalesce_content,
        extract_pages,
    )
    from pdf_document_extractor_spark.sources.pages import (
        synthesize_pages_from_documents,
    )

    pages = synthesize_pages_from_documents(spark, sf_dir, "mixed_fail")
    # the synthesized pages table carries text='' — refill it with the
    # source text (the WET-payload shape the input_hint schema describes)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(
            F.lit("https://synth.example/mixed_fail/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    pages = pages.drop("text").join(docs, "url")
    out = coalesce_content(extract_pages(pages), pages)
    return out.withColumn("doc_id", _doc_id()).select(
        "doc_id",
        "status",
        "content_source",
        F.col("content_final").alias("content_final"),
    )


def q_extract_odt_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenDocument text (.odt — beyond the reference's 10 MIME types,
    high crawl volume): paragraphs split at token 3, 3x2 k/v table —
    identical oracle shape to docx."""
    ext = _extracted(spark, sf_dir, "odt")
    t = ext.select(
        "doc_id", "doc_type", "status", "content",
        F.col("word_count").cast("long").alias("word_count"),
        F.explode("tables").alias("t"),
    )
    return t.select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        "word_count",
        F.array_join(F.col("t.headers"), "|").alias("headers_joined"),
        F.col("t.csv").alias("csv"),
    )


def q_extract_ods_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenDocument spreadsheet (.ods): sheet = page, rows as lines —
    identical oracle shape to xlsx."""
    ext = _extracted(spark, sf_dir, "ods")
    t = ext.select(
        "doc_id", "doc_type", "status", "content",
        F.explode("tables").alias("t"),
    )
    return t.select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.array_join(F.col("t.headers"), "|").alias("headers_joined"),
        F.col("t.cell_count").cast("long").alias("cell_count"),
        F.col("t.csv").alias("csv"),
    )


def q_extract_epub_chapters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB e-books (round 4, beyond the reference's MIME table): spine
    chapters become pages through the shared HTML block-scoring core;
    two chapters split at token 5."""
    return _extracted(spark, sf_dir, "epub").select(
        "doc_id",
        "doc_type",
        "status",
        F.col("page_number").cast("long").alias("page_number"),
        F.col("page_count").cast("long").alias("page_count"),
        "content",
    )


def q_extract_gzip_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transparent gunzip of crawl payloads (round 4 — mishandled
    Content-Encoding leaves gzip-wrapped bodies everywhere in crawls):
    the inner html extracts byte-identically; doc_type is the INNER
    type (the wrapper is transport)."""
    return _extracted(spark, sf_dir, "gzip_html").select(
        "doc_id",
        "doc_type",
        "status",
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_gif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF inputs (round 4 — completes the raster trio with PNG/JPEG):
    logical-screen-descriptor dimension probe emits a success metadata
    row; truncated headers (doc_id%17==0) degrade typed."""
    ext = _extracted(spark, sf_dir, "gif")
    fig = F.try_element_at("figures", F.lit(1))
    return ext.select(
        "doc_id",
        "doc_type",
        "status",
        "error_type",
        fig["image_format"].alias("image_format"),
        fig["image_width"].cast("long").alias("image_width"),
        fig["image_height"].cast("long").alias("image_height"),
    )


def q_extract_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG/JPEG inputs (reference MIME types png/jpg,
    lib/models/mime_type.py:11-12): header-only dimension probes emit a
    SUCCESS row whose figure struct carries format/width/height/bytes
    (reference FigureMetadata, extraction_models.py:121-148;
    image_validator.py:36-150 dimension validation). Every 17th doc is a
    truncated PNG -> CorruptedFileError hard-failure row."""
    ext = _extracted(spark, sf_dir, "image")
    fig = F.try_element_at("figures", F.lit(1))  # failure rows: empty array
    return ext.select(
        "doc_id",
        "doc_type",
        "status",
        "error_type",
        "content",
        fig["image_format"].alias("image_format"),
        fig["image_width"].cast("long").alias("image_width"),
        fig["image_height"].cast("long").alias("image_height"),
        fig["figure_id"].alias("figure_id"),
    )


def q_extract_dispatch_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte dispatch (D1/D2): even doc_id -> pdf, odd -> html."""
    return _extracted(spark, sf_dir, "mixed").select(
        "doc_id", "doc_type", "status", "content"
    )


def q_extract_failure_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-failure taxonomy rows (P2/D3): doc_id%17==0 is corrupt."""
    return _extracted(spark, sf_dir, "mixed_fail").select(
        "doc_id",
        "doc_type",
        "status",
        "error_type",
        F.col("page_number").cast("long").alias("page_number"),
    )


def q_extract_resume_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent resume (P1/A5/S9): anti-join committed urls, extract rest.

    Simulated committed set = docs with doc_id%3==0.
    """
    from pdf_document_extractor_spark.operators.extract import extract_pages
    from pdf_document_extractor_spark.sources.pages import (
        synthesize_pages_from_documents,
    )

    pages = synthesize_pages_from_documents(spark, sf_dir, "html")
    committed = pages.select("url").filter(_doc_id().cast("long") % 3 == 0)
    remaining = pages.join(committed, "url", "left_anti")
    return (
        extract_pages(remaining)
        .withColumn("doc_id", _doc_id())
        .select("doc_id", "status", "content")
    )


def q_extract_heavy_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-doc routing (D6): split on payload bytes, extract per branch
    with its own stage, union — output must be identical to the unsplit
    plan, plus the routing label."""
    from pdf_document_extractor_spark.operators.extract import extract_pages
    from pdf_document_extractor_spark.operators.skew import split_heavy
    from pdf_document_extractor_spark.sources.pages import (
        HTML_TEMPLATE_FIXED_LEN,
        synthesize_pages_from_documents,
    )

    threshold = HTML_TEMPLATE_FIXED_LEN + 300  # heavy iff len(id)+len(text)>300
    pages = synthesize_pages_from_documents(spark, sf_dir, "html")
    light, heavy = split_heavy(pages, threshold)
    out_light = extract_pages(light).withColumn("pass_name", F.lit("light"))
    out_heavy = extract_pages(heavy).withColumn("pass_name", F.lit("heavy"))
    return (
        out_light.unionByName(out_heavy)
        .withColumn("doc_id", _doc_id())
        .select("doc_id", "pass_name", "status", "content")
    )


def q_extract_lineage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-level lineage rollup (A1/A7/S7/P4): totals reconcile exactly."""
    from pdf_document_extractor_spark.operators.lineage import run_rollup

    ext = _extracted(spark, sf_dir, "mixed_fail")
    return run_rollup(ext).select(
        "total_docs", "success_docs", "hard_fail_docs", "total_pages"
    )


def q_extract_element_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element char spans (M7): html mode yields one block element per doc
    spanning [0, len(text))."""
    ext = _extracted(spark, sf_dir, "html")
    el = ext.select("doc_id", F.explode("elements").alias("e"))
    return el.select(
        "doc_id",
        F.col("e.text").alias("text"),
        F.col("e.label").alias("label"),
        F.col("e.page_no").cast("long").alias("page_no"),
        F.col("e.char_start").cast("long").alias("char_start"),
        F.col("e.char_end").cast("long").alias("char_end"),
    )


def q_extract_salted_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew salting is placement-only (P3): salted+bucketed plan produces
    byte-identical output to the oracle (same SQL as dispatch_mixed)."""
    from pdf_document_extractor_spark.operators.extract import extract_pages
    from pdf_document_extractor_spark.operators.skew import (
        hot_hosts,
        salted_repartition,
    )
    from pdf_document_extractor_spark.sources.pages import (
        synthesize_pages_from_documents,
    )

    pages = synthesize_pages_from_documents(spark, sf_dir, "mixed")
    hot = hot_hosts(pages, hot_fraction=0.05)
    placed = salted_repartition(pages, num_partitions=16, hot=hot, salt_buckets=8)
    return (
        extract_pages(placed)
        .withColumn("doc_id", _doc_id())
        .select("doc_id", "doc_type", "status", "content")
    )


def q_extract_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (M9/M10): headers rule + CSV export +
    <caption> -> caption and colspan -> has_merged_cells (reference
    TableMetadata fields, lib/models/extraction_models.py:151-179)."""
    ext = _extracted(spark, sf_dir, "html_table")
    t = ext.select("doc_id", F.explode("tables").alias("t"))
    return t.select(
        "doc_id",
        F.col("t.num_rows").cast("long").alias("num_rows"),
        F.col("t.num_cols").cast("long").alias("num_cols"),
        F.array_join(F.col("t.headers"), "|").alias("headers_joined"),
        F.col("t.cell_count").cast("long").alias("cell_count"),
        F.col("t.caption").alias("caption"),
        F.col("t.has_merged_cells").cast("long").alias("has_merged_cells"),
        F.col("t.csv").alias("csv"),
    )


def q_extract_pdf_multipage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-page PDF assembly (M5/M6/A3): 2 Flate pages split at token 5;
    per-page 'Page {n}' template + per-page word counts."""
    return _extracted(spark, sf_dir, "pdf2").select(
        "doc_id",
        F.col("page_number").cast("long").alias("page_number"),
        F.col("page_count").cast("long").alias("page_count"),
        "content",
        F.col("word_count").cast("long").alias("word_count"),
    )


def q_extract_pdf_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Font-size header/body labeling (M7/M9 heuristics): 18pt header line
    (>= HEADER_SIZE_MIN) above a 10pt body line, with exact char spans."""
    ext = _extracted(spark, sf_dir, "pdf_hdr")
    el = ext.select("doc_id", F.explode("elements").alias("e"))
    return el.select(
        "doc_id",
        F.col("e.text").alias("text"),
        F.col("e.label").alias("label"),
        F.col("e.char_start").cast("long").alias("char_start"),
        F.col("e.char_end").cast("long").alias("char_end"),
    )


def q_extract_pdf_grid_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF grid-table detection (M9/M10): x-aligned 3x2 grid -> headers =
    first row sorted by column offset (reference rule verbatim) + CSV +
    the table bbox as the union of cell boxes (reference
    TableMetadata.bbox, lib/models/extraction_models.py:151-179)."""
    ext = _extracted(spark, sf_dir, "pdf_table")
    t = ext.select("doc_id", F.explode("tables").alias("t"))
    return t.select(
        "doc_id",
        F.col("t.num_rows").cast("long").alias("num_rows"),
        F.col("t.num_cols").cast("long").alias("num_cols"),
        F.array_join(F.col("t.headers"), "|").alias("headers_joined"),
        F.col("t.cell_count").cast("long").alias("cell_count"),
        F.col("t.bbox.left").alias("bbox_left"),
        F.col("t.bbox.top").alias("bbox_top"),
        F.col("t.bbox.right").alias("bbox_right"),
        F.col("t.bbox.bottom").alias("bbox_bottom"),
        F.col("t.csv").alias("csv"),
    )


def q_extract_doc_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document assembly (M6): per-page contents joined with the
    reference's '\\n\\n---\\n\\n' multi-page template, page order enforced."""
    from pdf_document_extractor_spark.operators.extract import (
        assemble_documents,
    )

    ext = _extracted(spark, sf_dir, "pdf2")
    return assemble_documents(ext).withColumn("doc_id", _doc_id()).select(
        "doc_id", "doc_content", "page_count"
    )


def q_extract_html_figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Figure refs with deterministic md5-prefix ids (M8 — replaces the
    reference's uuid4 ids) + higher-order page filter (D8). alt_text
    carries <img alt>, caption the enclosing <figure>'s <figcaption>
    (reference FigureMetadata caption/alt_text,
    lib/models/extraction_models.py:121-148)."""
    ext = _extracted(spark, sf_dir, "html_fig")
    figs_on_page = F.filter(F.col("figures"), lambda f: f.page_number == 1)
    el = ext.select("doc_id", F.explode(figs_on_page).alias("f"))
    return el.select(
        "doc_id",
        F.col("f.figure_id").alias("figure_id"),
        F.col("f.caption").alias("caption"),
        F.col("f.alt_text").alias("alt_text"),
        F.col("f.label").alias("label"),
        F.col("f.page_number").cast("long").alias("page_number"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline queries (dedup / text analysis)
# ---------------------------------------------------------------------------


def _docs(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """documents reader. ``spread`` (default) parallelizes the one-file
    scan for consumers with heavy map-side work (shingle construction,
    hash streams); pass False for trivial-map consumers — measured on
    sf0.1, the probe + extra exchange costs such queries 0.2–0.6 s for no
    distribution benefit (their first shuffle or narrow codegen pipeline
    already does the work cheaply)."""
    from pdf_document_extractor_spark.operators.skew import (
        spread_small_input,
    )

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return spread_small_input(df) if spread else df


def _docs_with_exact_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies (doc_id%4==0 -> id+100000) — dedup corpus.
    Read unspread: the map side is one codegen md5 per row and the groupBy
    shuffle already distributes (spread measured 0.77s vs 0.18s raw)."""
    docs = _docs(spark, sf_dir, spread=False)
    copies = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def _docs_with_near_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + near-copies (doc_id%5==0 -> id+100000, first 3 words
    dropped) — near-dup corpus with Jaccard ~0.9 true pairs."""
    docs = _docs(spark, sf_dir)
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^(\S+ ){3}", "").alias("text"),
    )
    return docs.unionByName(copies)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_document_extractor_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs_with_exact_copies(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_document_extractor_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs_with_near_copies(spark, sf_dir), tau_pct=80)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_document_extractor_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs_with_near_copies(spark, sf_dir), tau_pct=80)


def _docs_with_copy_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + TWO near-copy tiers per doc_id%5==0 (drop 3 / 6 leading
    words) — components span A~B~C, exercising transitive clustering."""
    docs = _docs(spark, sf_dir)
    tier_b = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^(\S+ ){3}", "").alias("text"),
    )
    tier_c = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.regexp_replace("text", r"^(\S+ ){6}", "").alias("text"),
    )
    return docs.unionByName(tier_b).unionByName(tier_c)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs: transitive A~B~C clusters
    collapse to one canonical keeper (min id), via iterative min-label
    propagation. Oracle = recursive-CTE transitive closure over the same
    exact-Jaccard edges."""
    from pdf_document_extractor_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    corpus = _docs_with_copy_chain(spark, sf_dir)
    edges = ngram_jaccard_pairs(corpus, tau_pct=80).select("id_a", "id_b")
    return dedup_clusters(edges)


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_document_extractor_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir, spread=False))


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_document_extractor_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir, spread=False))


def q_text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_document_extractor_spark.operators.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir, spread=False))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters (Gopher/RefinedWeb family): duplicate-token ratio
    + top-bigram fraction, integer-exact millis."""
    from pdf_document_extractor_spark.operators.textstats import (
        repetition_scores,
    )

    return repetition_scores(_docs(spark, sf_dir, spread=False))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_document_extractor_spark.operators.textstats import fingerprints

    return fingerprints(_docs(spark, sf_dir, spread=False))


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling + train/val split (no rand(): replay-
    stable, oracle-expressible, scan-level filter at 100 TB)."""
    from pdf_document_extractor_spark.functions.text import h64
    from pdf_document_extractor_spark.operators.sampling import (
        train_val_split,
    )

    docs = _docs(spark, sf_dir, spread=False).select("doc_id")
    split = train_val_split(docs, "doc_id", val_pct=10)
    in20 = (
        h64(F.concat(F.lit("s20"), F.col("doc_id").cast("string"))) % 100
        < 20
    )
    return split.select(
        "doc_id", "split", in20.cast("long").alias("in_sample20")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified mixture sampling (training-mix builder): keep 100% of
    src0, 50% of src1, 25% of src2, drop the rest — all hash-deterministic,
    scan-level, no shuffle."""
    from pdf_document_extractor_spark.operators.sampling import (
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    out = stratified_sample(
        docs, "doc_id", "source", {"src0": 100, "src1": 50, "src2": 25}
    )
    return out.select("doc_id", "source")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing >= 8 word
    3-grams with the benchmark set (docs with doc_id%50==0 stand in as
    the leaked benchmark)."""
    from pdf_document_extractor_spark.operators.sampling import (
        contamination_flags,
    )

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    return contamination_flags(docs, benchmark, n=3, min_shared=8)


def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking with overlap (reference DoclingConfig
    chunk_size/overlap_size, docling_models.py:41-58) — pure Catalyst
    sequence/slice/posexplode, no UDF, no shuffle."""
    from pdf_document_extractor_spark.operators.chunking import (
        chunk_documents,
    )

    return chunk_documents(
        _docs(spark, sf_dir, spread=False), chunk_size=20, overlap=5
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (crawl-dedup pre-step): lowercase scheme/host,
    strip fragment + default port, sort query params, www-less host key.
    Pure Catalyst expressions — stays in whole-stage codegen, no UDF."""
    from pdf_document_extractor_spark.functions.url import (
        canonicalize_url,
        registered_host,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    dirty = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/p/"),
        F.col("doc_id").cast("string"),
        F.lit("?z=1&a="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("#frag"),
    )
    df = docs.withColumn("url", dirty)
    return df.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("canon_url"),
        registered_host(F.col("url")).alias("host"),
    )


def q_pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composition — the engine's whole purpose in one plan:
    corpus-with-duplicates -> synthesize pages -> fused extract (M1/M5/D1)
    -> quality filter (textstats) -> exact dedup keep-min (A5 analog).
    One mapInPandas stage + one groupBy shuffle for the dedup."""
    from pdf_document_extractor_spark.operators.dedup import exact_dedup
    from pdf_document_extractor_spark.operators.extract import extract_pages
    from pdf_document_extractor_spark.operators.textstats import quality_scores
    from pdf_document_extractor_spark.sources.pages import synthesize_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    copies = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source"
    )
    corpus = docs.unionByName(copies)

    pages = synthesize_pages(corpus, mode="html")
    extracted = extract_pages(pages).withColumn("doc_id", _doc_id())
    as_docs = extracted.select("doc_id", F.col("content").alias("text"))
    quality = quality_scores(as_docs).filter(F.col("is_quality") == 1)
    kept = as_docs.join(quality.select("doc_id"), "doc_id", "left_semi")
    return exact_dedup(kept).select("text_md5", "keeper_id", "dup_count")


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global exact-line dedup (Raffel et al. 2020 §2.2): corpus
    of two-line docs + copies sharing line 2 — the copy keeps only its
    unique first line; first occurrence by (doc_id, line_idx) wins."""
    from pdf_document_extractor_spark.operators.cleaning import (
        line_dedup_c4,
    )

    docs = _docs(spark, sf_dir, spread=False)
    toks = F.split(F.trim("text"), r"\s+")
    two_line = docs.select(
        "doc_id",
        F.concat(
            F.array_join(F.slice(toks, 1, 5), " "),
            F.lit("\n"),
            F.array_join(F.slice(toks, 6, 1 << 20), " "),
        ).alias("text"),
    )
    copies = two_line.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.lit("copy intro "),
            F.col("doc_id").cast("string"),
            F.lit("\n"),
            F.element_at(F.split("text", "\n"), 2),
        ).alias("text"),
    )
    return line_dedup_c4(two_line.unionByName(copies))


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / card-shaped digit runs) — pure
    Catalyst regexp_replace chain, no shuffle."""
    from pdf_document_extractor_spark.operators.cleaning import redact_pii

    docs = _docs(spark, sf_dir, spread=False)
    dirty = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.lit(" contact bob"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("@mail.example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" card 4111111111111111 end"),
        ).alias("text"),
    )
    return redact_pii(dirty).select("doc_id", "redacted")


def q_filter_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-host + word blocklist flags (C4/RefinedWeb cleanup step):
    broadcast dimension joins, corpus scanned once, flags kept for
    removal-rate auditing."""
    from pdf_document_extractor_spark.operators.cleaning import (
        blocklist_filter,
    )

    docs = _docs(spark, sf_dir, spread=False)
    with_url = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://www.example"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    hosts = spark.createDataFrame(
        [("example0.com",), ("example3.com",)], "host string"
    )
    words = spark.createDataFrame([("the",), ("el",)], "word string")
    out = blocklist_filter(with_url, hosts, words)
    return out.select(
        "doc_id",
        "host",
        F.col("host_blocked").cast("long").alias("host_blocked"),
        F.col("word_blocked").cast("long").alias("word_blocked"),
        F.col("keep").cast("long").alias("keep"),
    )


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND flagship composition — the cleaning half of the engine in
    one plan: corpus-with-PII-and-duplicates -> synthesize pages -> fused
    extract -> PII redaction (codegen) -> C4 global line dedup. Duplicate
    documents lose their only line and disappear; survivors carry the
    redacted text. Two mapInPandas stages + the two line-dedup shuffles."""
    from pdf_document_extractor_spark.operators.cleaning import (
        line_dedup_c4,
        redact_pii,
    )
    from pdf_document_extractor_spark.operators.extract import extract_pages
    from pdf_document_extractor_spark.sources.pages import synthesize_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    dirty = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" contact bob"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("@mail.example.com now"),
        ),
    )
    copies = dirty.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source"
    )
    corpus = dirty.unionByName(copies)
    pages = synthesize_pages(corpus, mode="html")
    extracted = extract_pages(pages).withColumn("doc_id", _doc_id())
    as_docs = extracted.select("doc_id", F.col("content").alias("text"))
    red = redact_pii(as_docs).select(
        "doc_id", F.col("redacted").alias("text")
    )
    return line_dedup_c4(red)


def q_mm_figure_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 figure image RENDER: scanned PDFs' image XObjects re-encoded
    as real PNGs via the pure-stdlib codec (core/png_codec.py);
    byte-exactness witnessed through md5 + length against the pinned
    8x8 DeviceGray/Flate writer constants (reference
    asset_storage_service.py:643-658)."""
    from pdf_document_extractor_spark.operators.multimodal import (
        render_figures,
    )
    from pdf_document_extractor_spark.sources.pages import (
        synthesize_pages_from_documents,
    )

    pages = synthesize_pages_from_documents(spark, sf_dir, "pdf_scanned")
    figs = render_figures(pages)
    return figs.withColumn("doc_id", _doc_id()).select(
        "doc_id",
        "figure_id",
        F.col("page_number").cast("long").alias("page_number"),
        "image_format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("image").cast("long").alias("png_len"),
        F.md5("image").alias("png_md5"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB; the one pre-registered view is documents)
# ---------------------------------------------------------------------------

_WORDS = "CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)"

_ORACLES: dict[str, str] = {
    "extract_html_content": f"""
        SELECT doc_id, 'html' AS doc_type, 'success' AS status,
               text AS content,
               {_WORDS} AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_content": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_html_charset": f"""
        SELECT doc_id, 'html' AS doc_type, 'success' AS status,
               CASE WHEN doc_id % 2 = 0 THEN 'café ' || text
                    ELSE '中文 ' || text END AS content,
               {_WORDS} + 1 AS word_count
        FROM documents
    """,
    "extract_pdf_markdown": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               '# Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 3 AS word_count
        FROM documents
    """,
    "extract_txt_content": f"""
        SELECT doc_id, 'txt' AS doc_type, 'success' AS status,
               text AS content,
               {_WORDS} AS word_count
        FROM documents
    """,
    "extract_docx_content": f"""
        WITH t AS (
          SELECT doc_id, {_WORDS} AS wc,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3],
                                 ' ') AS p1,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[4:],
                                 ' ') AS p2
          FROM documents
        )
        SELECT doc_id, 'docx' AS doc_type, 'success' AS status,
               p1 || chr(10) || p2 AS content,
               wc AS word_count
        FROM t
    """,
    "extract_docx_tables": """
        SELECT doc_id,
               CAST(3 AS BIGINT) AS num_rows,
               CAST(2 AS BIGINT) AS num_cols,
               'k|v' AS headers_joined,
               CAST(6 AS BIGINT) AS cell_count,
               CAST(NULL AS VARCHAR) AS caption,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS has_merged_cells,
               'k,v' || chr(10) || 'lang,' || lang || chr(10) ||
               'source,' || source || chr(10) AS csv
        FROM documents
    """,
    "extract_xlsx_cells": """
        SELECT doc_id, 'xlsx' AS doc_type, 'success' AS status,
               'k v' || chr(10) || 'lang ' || lang || chr(10)
                   || 'source ' || source AS content,
               'k|v' AS headers_joined,
               CAST(6 AS BIGINT) AS cell_count,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS has_merged_cells,
               'k,v' || chr(10) || 'lang,' || lang || chr(10) ||
               'source,' || source || chr(10) AS csv
        FROM documents
    """,
    "extract_doc_content": f"""
        WITH t AS (
          SELECT doc_id, {_WORDS} AS wc,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3],
                                 ' ') AS p1,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[4:],
                                 ' ') AS p2
          FROM documents
        )
        SELECT doc_id, 'doc' AS doc_type, 'success' AS status,
               p1 || chr(10) || p2 AS content,
               wc AS word_count
        FROM t
    """,
    "extract_xls_cells": """
        SELECT doc_id, 'xls' AS doc_type, 'success' AS status,
               'k v' || chr(10) || 'lang ' || lang || chr(10)
                   || 'source ' || source AS content,
               'k|v' AS headers_joined,
               CAST(6 AS BIGINT) AS cell_count,
               CAST(0 AS BIGINT) AS has_merged_cells,
               'k,v' || chr(10) || 'lang,' || lang || chr(10) ||
               'source,' || source || chr(10) AS csv
        FROM documents
    """,
    "extract_pptx_slides": """
        WITH t AS (
          SELECT doc_id,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3],
                                 ' ') AS p1,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[4:],
                                 ' ') AS p2
          FROM documents
        )
        SELECT doc_id, 'pptx' AS doc_type, 'success' AS status,
               CAST(1 AS BIGINT) AS page_number,
               CAST(2 AS BIGINT) AS page_count,
               CAST(1 AS BIGINT) AS slide_no, p1 AS content
        FROM t
        UNION ALL
        SELECT doc_id, 'pptx', 'success', CAST(2 AS BIGINT),
               CAST(2 AS BIGINT), CAST(2 AS BIGINT), p2
        FROM t
    """,
    "extract_rtf_content": f"""
        SELECT doc_id, 'rtf' AS doc_type, 'success' AS status,
               'café ' || text AS content,
               {_WORDS} + 1 AS word_count
        FROM documents
    """,
    "extract_pdf_xrefstream": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_incremental": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count
        FROM documents
    """,
    "extract_pdf_hexstrings": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_tounicode": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || 'café ' || text || chr(10)
                 AS content,
               {_WORDS} + 3 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_encdiff": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || '€café ' || text || chr(10)
                 AS content,
               {_WORDS} + 3 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_ascii85": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_formxobject": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_htmlout": """
        WITH esc AS (
          SELECT doc_id, lang, source,
                 replace(replace(replace(text, '&', '&amp;'),
                         '<', '&lt;'), '>', '&gt;') AS t
          FROM documents
        )
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               '<p>' || t || '</p>' || chr(10)
               || '<table><tr><td>k</td><td>v</td></tr>'
               || '<tr><td>lang</td><td>' || lang || '</td></tr>'
               || '<tr><td>source</td><td>' || source || '</td></tr>'
               || '</table>' AS content
        FROM esc
    """,
    "extract_pdf_jsonout": """
        WITH t AS (
          SELECT doc_id,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3],
                                 ' ') AS h,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[4:],
                                 ' ') AS b
          FROM documents
        )
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               '{"elements":[{"char_end":' || length(h)
               || ',"char_start":0,"label":"header","page_no":1,"text":'
               || CAST(to_json(h) AS VARCHAR)
               || '},{"char_end":' || (length(h) + 1 + length(b))
               || ',"char_start":' || (length(h) + 1)
               || ',"label":"body","page_no":1,"text":'
               || CAST(to_json(b) AS VARCHAR)
               || '}],"page_number":1}' AS content
        FROM t
    """,
    "extract_docx_jsonout": """
        -- word_count of the compact dump: whitespace only exists inside
        -- the two "text" values, so splits = total source words - 1
        WITH t AS (
          SELECT doc_id,
                 CAST(length(regexp_split_to_array(trim(text), '\\s+'))
                      AS BIGINT) AS nw,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3],
                                 ' ') AS p1,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[4:],
                                 ' ') AS p2
          FROM documents
        )
        SELECT doc_id, 'docx' AS doc_type, 'success' AS status,
               '{"elements":[{"char_end":' || length(p1)
               || ',"char_start":0,"label":"block","page_no":1,"text":'
               || CAST(to_json(p1) AS VARCHAR)
               || '},{"char_end":' || (length(p1) + 1 + length(p2))
               || ',"char_start":' || (length(p1) + 1)
               || ',"label":"block","page_no":1,"text":'
               || CAST(to_json(p2) AS VARCHAR)
               || '}],"page_number":1}' AS content,
               nw - 1 AS word_count
        FROM t
    """,
    "extract_html_htmlout": """
        WITH esc AS (
          SELECT doc_id, lang, source,
                 replace(replace(replace(text, '&', '&amp;'),
                         '<', '&lt;'), '>', '&gt;') AS t
          FROM documents
        )
        SELECT doc_id, 'html' AS doc_type, 'success' AS status,
               '<p>' || t || '</p>' || chr(10)
               || '<table><tr><td>k</td><td>v</td></tr>'
               || '<tr><td>lang</td><td>' || lang || '</td></tr>'
               || '<tr><td>source</td><td>' || source || '</td></tr>'
               || '</table>' AS content
        FROM esc
    """,
    # scanned docs (doc_id even): write_pdf_scanned draws one shared
    # 8x8 DeviceGray Flate image per page -> success, template-only
    # content, ONE figure whose payload is zlib.compress(bytes(64), 6)
    # = 12 bytes (pinned writer constants)
    "extract_pdf_scanned": """
        SELECT doc_id, 'pdf' AS doc_type,
               'success' AS status,
               CAST(NULL AS VARCHAR) AS error_type,
               CASE WHEN doc_id % 2 = 0 THEN 'Page 1' || chr(10) || chr(10)
                    ELSE 'Page 1' || chr(10) || chr(10) || text || chr(10)
                    END AS content,
               CAST(1 AS BIGINT) AS page_number,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS n_figures,
               CASE WHEN doc_id % 2 = 0 THEN
                    substr(md5('https://synth.example/pdf_scanned/'
                               || CAST(doc_id AS VARCHAR)), 1, 16)
                    || '_figure_0' END AS figure_id,
               CASE WHEN doc_id % 2 = 0 THEN 'raw' END AS image_format,
               CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS BIGINT) END
                   AS image_width,
               CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS BIGINT) END
                   AS image_height,
               CASE WHEN doc_id % 2 = 0 THEN CAST(12 AS BIGINT) END
                   AS payload_bytes
        FROM documents
    """,
    "extract_pdf_encrypted": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_pdf_aes": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    # M11 figure render: scanned docs (even doc_id) carry one 8x8
    # DeviceGray/Flate image per page; the stdlib PNG re-encode of those
    # 64 zero bytes is byte-pinned (69 bytes, md5 below — independently
    # re-assembled in tests/test_multimodal.py, not derived from the
    # codec under test)
    "mm_figure_render": """
        SELECT doc_id,
               substr(md5('https://synth.example/pdf_scanned/'
                          || CAST(doc_id AS VARCHAR)), 1, 16)
                   || '_figure_0' AS figure_id,
               CAST(1 AS BIGINT) AS page_number,
               'png' AS image_format,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(69 AS BIGINT) AS png_len,
               '38289fc7244edfa7c22af65f3d6ed8fd' AS png_md5
        FROM documents WHERE doc_id % 2 = 0
    """,
    # foreign-producer differential: doc_id%4==0 Ghostscript-dialect
    # Type1/StandardEncoding PDF (two 10pt lines: tokens[:5], tokens[5:]),
    # ==1 /GBK-EUC-H Type0 PDF (typed), ==2 BIFF5 workbook (typed),
    # ==3 pdflatex-style /W [0 2 1] xref-stream PDF (same two lines)
    "extract_pdf_foreign": """
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 2 THEN 'ole2' ELSE 'pdf' END
                   AS doc_type,
               CASE WHEN doc_id % 4 IN (0, 3) THEN 'success'
                    ELSE 'hard_failure' END AS status,
               CASE WHEN doc_id % 4 IN (0, 3) THEN NULL
                    ELSE 'UnsupportedFormatError' END AS error_type,
               CASE WHEN doc_id % 4 IN (0, 3) THEN
                    'Page 1' || chr(10) || chr(10)
                    || array_to_string(toks[1:5], ' ') || chr(10)
                    || array_to_string(toks[6:], ' ') || chr(10)
                    ELSE '' END AS content,
               CAST(CASE WHEN doc_id % 4 IN (0, 3) THEN len(toks) + 2
                    ELSE 0 END AS BIGINT) AS word_count
        FROM t
    """,
    "extract_pdf_badxref": f"""
        SELECT doc_id, 'pdf' AS doc_type, 'success' AS status,
               'Page 1' || chr(10) || chr(10) || text || chr(10) AS content,
               {_WORDS} + 2 AS word_count,
               CAST(1 AS BIGINT) AS page_count
        FROM documents
    """,
    "extract_content_fallback": """
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 THEN 'hard_failure'
                    ELSE 'success' END AS status,
               CASE WHEN doc_id % 17 = 0 THEN 'provided_text'
                    ELSE 'extracted' END AS content_source,
               CASE WHEN doc_id % 17 = 0 THEN text
                    WHEN doc_id % 2 = 0
                    THEN 'Page 1' || chr(10) || chr(10) || text || chr(10)
                    ELSE text END AS content_final
        FROM documents
    """,
    "extract_epub_chapters": """
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents
        )
        SELECT doc_id, 'epub' AS doc_type, 'success' AS status,
               CAST(1 AS BIGINT) AS page_number,
               CAST(2 AS BIGINT) AS page_count,
               array_to_string(toks[1:5], ' ') AS content
        FROM t
        UNION ALL
        SELECT doc_id, 'epub', 'success', CAST(2 AS BIGINT),
               CAST(2 AS BIGINT), array_to_string(toks[6:], ' ')
        FROM t
    """,
    "extract_odt_content": f"""
        WITH t AS (
          SELECT doc_id, lang, source, {_WORDS} AS wc,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3],
                                 ' ') AS p1,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[4:],
                                 ' ') AS p2
          FROM documents
        )
        SELECT doc_id, 'odt' AS doc_type, 'success' AS status,
               p1 || chr(10) || p2 AS content,
               wc AS word_count,
               'k|v' AS headers_joined,
               'k,v' || chr(10) || 'lang,' || lang || chr(10) ||
               'source,' || source || chr(10) AS csv
        FROM t
    """,
    "extract_ods_cells": """
        SELECT doc_id, 'ods' AS doc_type, 'success' AS status,
               'k v' || chr(10) || 'lang ' || lang || chr(10)
                   || 'source ' || source AS content,
               'k|v' AS headers_joined,
               CAST(6 AS BIGINT) AS cell_count,
               'k,v' || chr(10) || 'lang,' || lang || chr(10) ||
               'source,' || source || chr(10) AS csv
        FROM documents
    """,
    "extract_gzip_content": f"""
        SELECT doc_id, 'html' AS doc_type, 'success' AS status,
               text AS content,
               {_WORDS} AS word_count
        FROM documents
    """,
    "extract_gif_metadata": """
        SELECT doc_id, 'gif' AS doc_type,
               CASE WHEN doc_id % 17 = 0 THEN 'hard_failure'
                    ELSE 'success' END AS status,
               CASE WHEN doc_id % 17 = 0 THEN 'CorruptedFileError'
                    ELSE NULL END AS error_type,
               CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 'gif' END
                   AS image_format,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    ELSE CAST(16 + doc_id % 97 AS BIGINT) END AS image_width,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    ELSE CAST(16 + doc_id % 53 AS BIGINT) END AS image_height
        FROM documents
    """,
    "extract_image_metadata": """
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 OR doc_id % 2 = 0
                    THEN 'png' ELSE 'jpg' END AS doc_type,
               CASE WHEN doc_id % 17 = 0 THEN 'hard_failure'
                    ELSE 'success' END AS status,
               CASE WHEN doc_id % 17 = 0 THEN 'CorruptedFileError'
                    ELSE NULL END AS error_type,
               '' AS content,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    WHEN doc_id % 2 = 0 THEN 'png'
                    ELSE 'jpg' END AS image_format,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    ELSE CAST(16 + doc_id % 97 AS BIGINT) END AS image_width,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    ELSE CAST(16 + doc_id % 53 AS BIGINT) END AS image_height,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    ELSE substr(md5('https://synth.example/image/' || doc_id),
                                1, 16) || '_figure_0' END AS figure_id
        FROM documents
    """,
    "extract_dispatch_mixed": """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS doc_type,
               'success' AS status,
               CASE WHEN doc_id % 2 = 0
                    THEN 'Page 1' || chr(10) || chr(10) || text || chr(10)
                    ELSE text END AS content
        FROM documents
    """,
    "extract_failure_taxonomy": """
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 THEN 'pdf'
                    WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS doc_type,
               CASE WHEN doc_id % 17 = 0 THEN 'hard_failure'
                    ELSE 'success' END AS status,
               CASE WHEN doc_id % 17 = 0 THEN 'CorruptedFileError'
                    ELSE NULL END AS error_type,
               CASE WHEN doc_id % 17 = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(1 AS BIGINT) END AS page_number
        FROM documents
    """,
    "extract_resume_antijoin": """
        SELECT doc_id, 'success' AS status, text AS content
        FROM documents WHERE doc_id % 3 <> 0
    """,
    "extract_heavy_split": """
        SELECT doc_id,
               CASE WHEN length(CAST(doc_id AS VARCHAR)) + length(text) > 300
                    THEN 'heavy' ELSE 'light' END AS pass_name,
               'success' AS status,
               text AS content
        FROM documents
    """,
    "extract_lineage_rollup": """
        SELECT CAST(count(*) AS BIGINT) AS total_docs,
               CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS success_docs,
               CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hard_fail_docs,
               CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS total_pages
        FROM documents
    """,
    "extract_element_spans": """
        SELECT doc_id, text AS text, 'block' AS label,
               CAST(1 AS BIGINT) AS page_no,
               CAST(0 AS BIGINT) AS char_start,
               CAST(length(text) AS BIGINT) AS char_end
        FROM documents
    """,
    "extract_salted_invariance": """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS doc_type,
               'success' AS status,
               CASE WHEN doc_id % 2 = 0
                    THEN 'Page 1' || chr(10) || chr(10) || text || chr(10)
                    ELSE text END AS content
        FROM documents
    """,
    "extract_pdf_multipage": """
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents
        )
        SELECT doc_id, CAST(1 AS BIGINT) AS page_number,
               CAST(2 AS BIGINT) AS page_count,
               'Page 1' || chr(10) || chr(10) ||
                   array_to_string(toks[1:5], ' ') || chr(10) AS content,
               CAST(7 AS BIGINT) AS word_count
        FROM t
        UNION ALL
        SELECT doc_id, CAST(2 AS BIGINT), CAST(2 AS BIGINT),
               'Page 2' || chr(10) || chr(10) ||
                   array_to_string(toks[6:], ' ') || chr(10),
               CAST(len(toks) - 5 + 2 AS BIGINT)
        FROM t
    """,
    "extract_pdf_headers": """
        WITH t AS (
          SELECT doc_id,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:3],
                                 ' ') AS h,
                 array_to_string(regexp_split_to_array(trim(text), '\\s+')[4:],
                                 ' ') AS b
          FROM documents
        )
        SELECT doc_id, h AS text, 'header' AS label,
               CAST(8 AS BIGINT) AS char_start,
               CAST(8 + length(h) AS BIGINT) AS char_end
        FROM t
        UNION ALL
        SELECT doc_id, b, 'body',
               CAST(8 + length(h) + 1 AS BIGINT),
               CAST(8 + length(h) + 1 + length(b) AS BIGINT)
        FROM t
    """,
    "extract_pdf_grid_tables": """
        -- bbox: table_grid cells at x {72,182}, y {600,582,564}, 9pt on a
        -- 792pt page; right edge = widest cell advance (0.5em/char) =
        -- col-2 x + 4.5 * len(source), source being the longest col-2 cell
        SELECT doc_id,
               CAST(3 AS BIGINT) AS num_rows,
               CAST(2 AS BIGINT) AS num_cols,
               'k|v' AS headers_joined,
               CAST(6 AS BIGINT) AS cell_count,
               CAST(72.0 AS DOUBLE) AS bbox_left,
               CAST(183.0 AS DOUBLE) AS bbox_top,
               CAST(182.0 + 4.5 * length(source) AS DOUBLE) AS bbox_right,
               CAST(228.0 AS DOUBLE) AS bbox_bottom,
               'k,v' || chr(10) || 'lang,' || lang || chr(10) ||
               'source,' || source || chr(10) AS csv
        FROM documents
    """,
    "extract_doc_assembly": """
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents
        )
        SELECT doc_id,
               'Page 1' || chr(10) || chr(10)
                   || array_to_string(toks[1:5], ' ') || chr(10)
                   || chr(10) || chr(10) || '---' || chr(10) || chr(10)
                   || 'Page 2' || chr(10) || chr(10)
                   || array_to_string(toks[6:], ' ') || chr(10) AS doc_content,
               CAST(2 AS BIGINT) AS page_count
        FROM t
    """,
    "extract_html_figures": """
        WITH h AS (
          SELECT doc_id,
                 substr(md5('https://synth.example/html_fig/'
                            || CAST(doc_id AS VARCHAR)), 1, 16) AS uh
          FROM documents
        )
        SELECT doc_id, uh || '_figure_0' AS figure_id,
               'caption ' || CAST(doc_id AS VARCHAR) AS caption,
               'figure for doc ' || CAST(doc_id AS VARCHAR) AS alt_text,
               'picture' AS label, CAST(1 AS BIGINT) AS page_number
        FROM h
        UNION ALL
        SELECT doc_id, uh || '_figure_1', NULL, NULL, 'picture',
               CAST(1 AS BIGINT)
        FROM h
    """,
    "extract_html_tables": """
        SELECT doc_id,
               CAST(3 AS BIGINT) AS num_rows,
               CAST(2 AS BIGINT) AS num_cols,
               'k|v' AS headers_joined,
               CAST(6 AS BIGINT) AS cell_count,
               'table for doc ' || CAST(doc_id AS VARCHAR) AS caption,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS has_merged_cells,
               'k,v' || chr(10) || 'lang,' || lang || chr(10) ||
               'source,' || source || chr(10) AS csv
        FROM documents
    """,
}


# -- generated oracles for the training-data pipeline queries --------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_NEAR_BASE = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           regexp_replace(text, '^(\\S+ ){3}', '') AS text
    FROM documents WHERE doc_id % 5 = 0
"""

_JACCARD_ORACLE = f"""
    WITH base AS ({_NEAR_BASE}),
    tok AS (SELECT doc_id, {_TOKS} AS toks FROM base),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             AS shingle
      FROM tok WHERE len(toks) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 100 * inter >= 80 * (sa.sz + sb.sz - inter)
"""

_ORACLES["dedup_ngram_jaccard"] = _JACCARD_ORACLE
_ORACLES["dedup_minhash_lsh"] = _JACCARD_ORACLE  # verified LSH == exact

_CHAIN_BASE = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, regexp_replace(text, '^(\\S+ ){3}', '')
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 200000, regexp_replace(text, '^(\\S+ ){6}', '')
    FROM documents WHERE doc_id % 5 = 0
"""

_ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE base AS ({_CHAIN_BASE}),
    tok AS (SELECT doc_id, {_TOKS} AS toks FROM base),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             AS shingle
      FROM tok WHERE len(toks) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE 100 * inter >= 80 * (sa.sz + sb.sz - inter)
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION
      SELECT id_b, id_a FROM edges
    ),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    )
    SELECT CAST(src AS BIGINT) AS doc_id,
           CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
    FROM reach GROUP BY src
"""

_ORACLES["dedup_exact"] = """
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 4 = 0
    )
    SELECT md5(text) AS text_md5,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM base GROUP BY md5(text)
"""

_ORACLES["text_token_stats"] = f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                AS BIGINT) AS bpe_tokens,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS char_count
    FROM documents
"""

_LANG_MARKERS_SQL = {
    "de": "['der','die','und','das','ist','nicht','ein']",
    "en": "['the','and','of','to','a','in','is']",
    "es": "['el','la','de','que','los','una','es']",
    "fr": "['le','la','et','les','des','une','est']",
    "zh": "['de','shi','le','zai','wo','you','he']",
}
_LANG_IDS_SQL = {"de": 5, "en": 4, "es": 3, "fr": 2, "zh": 1}
_KEYS = ", ".join(
    f"len(list_intersect(list_distinct(toks), {_LANG_MARKERS_SQL[lang]})) * 8 "
    f"+ {_LANG_IDS_SQL[lang]} AS k_{lang}"
    for lang in sorted(_LANG_MARKERS_SQL)
)
_ORACLES["text_language_id"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, {_KEYS} FROM t),
    g AS (SELECT doc_id, greatest(k_de, k_en, k_es, k_fr, k_zh) AS best FROM s)
    SELECT doc_id,
           CASE best % 8 WHEN 5 THEN 'de' WHEN 4 THEN 'en' WHEN 3 THEN 'es'
                WHEN 2 THEN 'fr' ELSE 'zh' END AS pred_lang,
           CAST(best // 8 AS BIGINT) AS best_score
    FROM g
"""

_STOPS_SQL = "['the','and','of','to','a','in','is','it','for','on','with']"
_ORACLES["text_quality_scores"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks,
             length(replace(text, ' ', '')) AS chars
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS word_count,
           CAST(chars AS BIGINT) AS char_count,
           CAST((chars * 1000) // len(toks) AS BIGINT) AS mean_word_len_millis,
           CAST((len(list_filter(toks, w -> list_contains({_STOPS_SQL}, w)))
                 * 1000) // len(toks) AS BIGINT) AS stopword_ratio_millis,
           CAST(CASE WHEN len(toks) >= 5 AND len(toks) <= 100000
                     AND (chars * 1000) // len(toks) BETWEEN 1500 AND 12000
                THEN 1 ELSE 0 END AS BIGINT) AS is_quality
    FROM t
"""

_ORACLES["text_repetition"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ),
    bg AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, n),
                    i -> toks[i] || ' ' || toks[i+1])) AS b
      FROM t WHERE n >= 2
    ),
    cnt AS (
      SELECT doc_id, n, b, count(*) AS c FROM bg GROUP BY doc_id, n, b
    ),
    top AS (
      SELECT doc_id, max(c) * 2 * 1000 // any_value(n) AS top_bigram_millis
      FROM cnt GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(1000 - len(list_distinct(toks)) * 1000 // n AS BIGINT)
               AS dup_token_ratio_millis,
           CAST(coalesce(top_bigram_millis, 0) AS BIGINT)
               AS top_bigram_millis
    FROM t LEFT JOIN top ON t.doc_id = top.doc_id
"""

_ORACLES["text_fingerprint"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(range(1, len(toks) + 1),
                i -> ((('0x' || substr(md5(toks[i]), 1, 15))::BIGINT % 1000003)
                      * i))) % 1000000007 AS BIGINT) AS fingerprint
    FROM t
"""


_H64 = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"

_ORACLES["sample_split"] = f"""
    SELECT doc_id,
           CASE WHEN {_H64.format(expr="'split' || CAST(doc_id AS VARCHAR)")}
                     % 100 < 10
                THEN 'val' ELSE 'train' END AS split,
           CAST(CASE WHEN
                {_H64.format(expr="'s20' || CAST(doc_id AS VARCHAR)")}
                     % 100 < 20
                THEN 1 ELSE 0 END AS BIGINT) AS in_sample20
    FROM documents
"""

_ORACLES["sample_stratified"] = f"""
    SELECT doc_id, source FROM documents
    WHERE {_H64.format(expr="'strat' || CAST(doc_id AS VARCHAR)")} % 100
          < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                        WHEN 'src2' THEN 25 ELSE 0 END
"""

_ORACLES["decontaminate"] = f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             AS shingle
      FROM tok WHERE len(toks) >= 3
    ),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    ),
    shared AS (
      SELECT s.doc_id, count(*) AS shared_shingles
      FROM sh s JOIN bench USING (shingle)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(shared_shingles, 0) AS BIGINT) AS shared_shingles,
           CAST(CASE WHEN coalesce(shared_shingles, 0) >= 8
                THEN 1 ELSE 0 END AS BIGINT) AS contaminated
    FROM documents d LEFT JOIN shared ON d.doc_id = shared.doc_id
"""

_ORACLES["text_chunking"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ),
    s AS (
      SELECT doc_id, toks, n,
             unnest(range(0, greatest(1,
                 CAST(ceil((n - 20) / 15.0) AS BIGINT) + 1))) AS ci
      FROM t
    )
    SELECT doc_id,
           CAST(ci AS BIGINT) AS chunk_idx,
           array_to_string(toks[ci * 15 + 1 : ci * 15 + 20], ' ') AS chunk_text,
           CAST(ci * 15 AS BIGINT) AS tok_start,
           CAST(least(ci * 15 + 20, n) AS BIGINT) AS tok_end,
           CAST(n AS BIGINT) AS n_tokens
    FROM s
"""

_ORACLES["url_canonicalize"] = """
    SELECT doc_id,
           'https://www.example' || CAST(doc_id % 7 AS VARCHAR)
               || '.com/p/' || CAST(doc_id AS VARCHAR)
               || '?a=' || CAST(doc_id % 3 AS VARCHAR) || '&z=1' AS canon_url,
           'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
    FROM documents
"""

_ORACLES["pipeline_training_corpus"] = f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 4 = 0
    ),
    t AS (
      SELECT doc_id, text, {_TOKS} AS toks,
             length(replace(text, ' ', '')) AS chars
      FROM base
    ),
    q AS (
      SELECT doc_id, text FROM t
      WHERE len(toks) >= 5 AND len(toks) <= 100000
        AND (chars * 1000) // len(toks) BETWEEN 1500 AND 12000
    )
    SELECT md5(text) AS text_md5,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM q GROUP BY md5(text)
"""

_ORACLES["dedup_lines"] = f"""
    WITH two AS (
      SELECT doc_id,
             array_to_string(toks[1:5], ' ') || chr(10)
                 || array_to_string(toks[6:], ' ') AS text
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    corpus AS (
      SELECT doc_id, text FROM two
      UNION ALL
      SELECT doc_id + 100000,
             'copy intro ' || CAST(doc_id AS VARCHAR) || chr(10)
                 || regexp_split_to_array(text, chr(10))[2]
      FROM two WHERE doc_id % 4 = 0
    ),
    lines AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text, chr(10))) AS line,
             unnest(range(1, len(regexp_split_to_array(text, chr(10))) + 1))
                 AS idx
      FROM corpus
    ),
    ranked AS (
      SELECT doc_id, line, idx,
             (line = '' OR row_number() OVER (
                 PARTITION BY line ORDER BY doc_id, idx) = 1) AS keep
      FROM lines
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE keep) AS text,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept_lines,
           CAST(count(*) - count(*) FILTER (WHERE keep) AS BIGINT)
               AS dropped_lines
    FROM ranked GROUP BY doc_id
    HAVING count(*) FILTER (WHERE keep) > 0
"""

_ORACLES["text_redact_pii"] = """
    SELECT doc_id,
           text || ' contact <EMAIL> or <IP> card <NUM> end' AS redacted
    FROM documents
"""

_ORACLES["filter_blocklist"] = f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 IN (0, 3) THEN 1 ELSE 0 END AS hb,
             CASE WHEN len(list_intersect(list_distinct({_TOKS}),
                  ['the', 'el'])) > 0 THEN 1 ELSE 0 END AS wb
      FROM documents
    )
    SELECT doc_id,
           'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
           CAST(hb AS BIGINT) AS host_blocked,
           CAST(wb AS BIGINT) AS word_blocked,
           CAST(CASE WHEN hb = 0 AND wb = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS keep
    FROM t
"""

_ORACLES["pipeline_clean_corpus"] = """
    WITH red AS (
      SELECT doc_id,
             text || ' contact <EMAIL> now' AS text
      FROM documents
      UNION ALL
      SELECT doc_id + 100000, text || ' contact <EMAIL> now'
      FROM documents WHERE doc_id % 4 = 0
    ),
    ranked AS (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM red
    )
    SELECT doc_id, text,
           CAST(1 AS BIGINT) AS kept_lines,
           CAST(0 AS BIGINT) AS dropped_lines
    FROM ranked WHERE rn = 1
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the composed training-data pipeline on sf0.001
    (synthesize -> extract -> quality filter -> exact dedup)."""
    return q_pipeline_training_corpus(spark, SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The query registry, in sorted name order."""
    return {
        "decontaminate": q_decontaminate,
        "dedup_clusters": q_dedup_clusters,
        "dedup_exact": q_dedup_exact,
        "dedup_lines": q_dedup_lines,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "extract_content_fallback": q_extract_content_fallback,
        "extract_dispatch_mixed": q_extract_dispatch_mixed,
        "extract_doc_assembly": q_extract_doc_assembly,
        "extract_doc_content": q_extract_doc_content,
        "extract_docx_content": q_extract_docx_content,
        "extract_docx_jsonout": q_extract_docx_jsonout,
        "extract_docx_tables": q_extract_docx_tables,
        "extract_element_spans": q_extract_element_spans,
        "extract_epub_chapters": q_extract_epub_chapters,
        "extract_failure_taxonomy": q_extract_failure_taxonomy,
        "extract_gif_metadata": q_extract_gif_metadata,
        "extract_gzip_content": q_extract_gzip_content,
        "extract_heavy_split": q_extract_heavy_split,
        "extract_html_charset": q_extract_html_charset,
        "extract_html_content": q_extract_html_content,
        "extract_html_figures": q_extract_html_figures,
        "extract_html_htmlout": q_extract_html_htmlout,
        "extract_html_tables": q_extract_html_tables,
        "extract_image_metadata": q_extract_image_metadata,
        "extract_lineage_rollup": q_extract_lineage_rollup,
        "extract_ods_cells": q_extract_ods_cells,
        "extract_odt_content": q_extract_odt_content,
        "extract_pdf_aes": q_extract_pdf_aes,
        "extract_pdf_ascii85": q_extract_pdf_ascii85,
        "extract_pdf_badxref": q_extract_pdf_badxref,
        "extract_pdf_content": q_extract_pdf_content,
        "extract_pdf_encdiff": q_extract_pdf_encdiff,
        "extract_pdf_encrypted": q_extract_pdf_encrypted,
        "extract_pdf_foreign": q_extract_pdf_foreign,
        "extract_pdf_formxobject": q_extract_pdf_formxobject,
        "extract_pdf_grid_tables": q_extract_pdf_grid_tables,
        "extract_pdf_headers": q_extract_pdf_headers,
        "extract_pdf_hexstrings": q_extract_pdf_hexstrings,
        "extract_pdf_htmlout": q_extract_pdf_htmlout,
        "extract_pdf_incremental": q_extract_pdf_incremental,
        "extract_pdf_jsonout": q_extract_pdf_jsonout,
        "extract_pdf_markdown": q_extract_pdf_markdown,
        "extract_pdf_multipage": q_extract_pdf_multipage,
        "extract_pdf_scanned": q_extract_pdf_scanned,
        "extract_pdf_tounicode": q_extract_pdf_tounicode,
        "extract_pdf_xrefstream": q_extract_pdf_xrefstream,
        "extract_pptx_slides": q_extract_pptx_slides,
        "extract_resume_antijoin": q_extract_resume_antijoin,
        "extract_rtf_content": q_extract_rtf_content,
        "extract_salted_invariance": q_extract_salted_invariance,
        "extract_txt_content": q_extract_txt_content,
        "extract_xls_cells": q_extract_xls_cells,
        "extract_xlsx_cells": q_extract_xlsx_cells,
        "filter_blocklist": q_filter_blocklist,
        "mm_figure_render": q_mm_figure_render,
        "pipeline_clean_corpus": q_pipeline_clean_corpus,
        "pipeline_training_corpus": q_pipeline_training_corpus,
        "sample_split": q_sample_split,
        "sample_stratified": q_sample_stratified,
        "text_chunking": q_text_chunking,
        "text_fingerprint": q_text_fingerprint,
        "text_language_id": q_text_language_id,
        "text_quality_scores": q_text_quality_scores,
        "text_redact_pii": q_text_redact_pii,
        "text_repetition": q_text_repetition,
        "text_token_stats": q_text_token_stats,
        "url_canonicalize": q_url_canonicalize,
    }


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
