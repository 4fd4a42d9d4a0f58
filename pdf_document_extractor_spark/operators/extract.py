"""The extraction operator: one Arrow-batched ``mapInPandas`` pass.

Fuses the reference's dispatch -> convert -> assemble chain
(processing_orchestrator.py:68-122 routing;
docling_strategy_processor.py:622-712 convert, :1264-1300 page assembly)
into a single vectorized stage: magic-byte sniff per row inside the batch
(zero extra Python crossings), then tokenize/classify/extract via the pure
core (core/dispatch.py). The UDF body and the pytest oracle are the SAME
functions — byte-identity by construction.

Scale design notes (100 TB target):
- Input projection is ``url, html`` only — Catalyst prunes the remaining
  columns at the Parquet/Iceberg scan (verify via .explain ReadSchema).
- One fused stage: no shuffle is introduced by extraction itself; the only
  shuffle in the full job is ``repartition(P, "url")`` (plans/run.py), which
  exists for placement, not semantics.
- Input Arrow batches are bounded in bytes for multi-MB binary cells
  (spark.sql.execution.arrow.maxBytesPerBatch in plans/run.py's
  RECOMMENDED_CONF) so a batch of heavy documents cannot blow executor
  memory.
- Per-partition lineage is captured in-band: every output row carries
  ``partition_id`` (TaskContext) and ``byte_count``; lineage aggregates them
  without a second pass over the bytes (operators/lineage.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from ..core.dispatch import extract_document
from ..core.model import STATUS_SUCCESS
from ..worker import guard_zip_imports

if TYPE_CHECKING:  # Spark imported lazily so the core stays Spark-free
    from pyspark.sql import DataFrame

# One row per (url, page). Hard failures emit one row with page_number=0 and
# empty content/arrays (pinned policy; goldens in tests/golden assert it).
_BBOX_STRUCT = (
    "struct<left:double,top:double,right:double,bottom:double,"
    "coord_origin:string>"
)

EXTRACTED_SCHEMA = (
    "url string, page_number int, doc_type string, content string, "
    "word_count int, page_count int, "
    "elements array<struct<text:string,label:string,page_no:int,"
    f"slide_no:int,bbox:{_BBOX_STRUCT},char_start:int,char_end:int>>, "
    "tables array<struct<table_id:string,page_number:int,caption:string,"
    "num_rows:int,num_cols:int,headers:array<string>,cell_count:int,"
    f"has_merged_cells:boolean,bbox:{_BBOX_STRUCT},csv:string>>, "
    "figures array<struct<figure_id:string,page_number:int,caption:string,"
    f"alt_text:string,label:string,bbox:{_BBOX_STRUCT},image_format:string,"
    "image_width:int,image_height:int,payload_bytes:bigint>>, "
    "status string, error_type string, error_message string, "
    "partition_id int, byte_count bigint"
)

_COLUMNS = [
    "url",
    "page_number",
    "doc_type",
    "content",
    "word_count",
    "page_count",
    "elements",
    "tables",
    "figures",
    "status",
    "error_type",
    "error_message",
    "partition_id",
    "byte_count",
]


def _bbox_dict(bbox) -> dict | None:
    if bbox is None:
        return None
    return {
        "left": bbox.left,
        "top": bbox.top,
        "right": bbox.right,
        "bottom": bbox.bottom,
        "coord_origin": bbox.coord_origin,
    }


def _element_rows(elements) -> list[dict]:
    return [
        {
            "text": e.text,
            "label": e.label,
            "page_no": e.page_no,
            "slide_no": e.slide_no,
            "bbox": _bbox_dict(e.bbox),
            "char_start": e.char_start,
            "char_end": e.char_end,
        }
        for e in elements
    ]


def _table_rows(tables) -> list[dict]:
    return [
        {
            "table_id": t.table_id,
            "page_number": t.page_number,
            "caption": t.caption,
            "num_rows": t.num_rows,
            "num_cols": t.num_cols,
            "headers": list(t.headers),
            "cell_count": t.cell_count,
            "has_merged_cells": t.has_merged_cells,
            "bbox": _bbox_dict(t.bbox),
            "csv": t.csv,
        }
        for t in tables
    ]


def _figure_rows(figures) -> list[dict]:
    return [
        {
            "figure_id": f.figure_id,
            "page_number": f.page_number,
            "caption": f.caption,
            "alt_text": f.alt_text,
            "label": f.label,
            "bbox": _bbox_dict(f.bbox),
            "image_format": f.image_format,
            "image_width": f.image_width,
            "image_height": f.image_height,
            "payload_bytes": f.payload_bytes,
        }
        for f in figures
    ]


def extract_rows_py(
    url: str,
    payload: bytes,
    partition_id: int = -1,
    output_format: str = "text",
    quarantine_soft: bool = False,
) -> list[dict]:
    """Pure-Python row production for one document — ALSO the pytest oracle.

    Returns the exact dict rows the Spark UDF emits (minus Arrow transport).
    ``output_format`` selects the content renderer (core/dispatch.py:
    PDF renders in-extractor, other types via core/render.py); tables and
    figures are always emitted.

    ``quarantine_soft``: normally soft (transient) failures re-raise so the
    TASK retries (reference: raise => no Kafka commit => redelivery). A
    final salvage pass sets this True: soft failures become committed
    ``soft_failure`` rows instead — the reference's dead-letter step once
    redelivery is exhausted (kafka_message_handler.py:147-161), so one
    permanently-flaky document cannot wedge the job forever.
    """
    from ..core.taxonomy import is_soft_failure

    payload = payload or b""
    try:
        # soft failures re-raise
        result = extract_document(url, payload, output_format)
    except BaseException as exc:  # noqa: BLE001 — taxonomy decided soft
        if not (quarantine_soft and is_soft_failure(exc)):
            raise
        return [
            {
                "url": url,
                "page_number": 0,
                "doc_type": "",
                "content": "",
                "word_count": 0,
                "page_count": 0,
                "elements": [],
                "tables": [],
                "figures": [],
                "status": "soft_failure",
                "error_type": "TransientError",
                "error_message": str(exc),
                "partition_id": partition_id,
                "byte_count": len(payload),
            }
        ]
    nbytes = len(payload)
    rows: list[dict] = []
    if result.status != STATUS_SUCCESS:
        rows.append(
            {
                "url": url,
                "page_number": 0,
                "doc_type": result.doc_type,
                "content": "",
                "word_count": 0,
                "page_count": 0,
                "elements": [],
                "tables": [],
                "figures": [],
                "status": result.status,
                "error_type": result.error_type,
                "error_message": result.error_message,
                "partition_id": partition_id,
                "byte_count": nbytes,
            }
        )
        return rows
    page_count = result.page_count
    for page in result.pages:
        rows.append(
            {
                "url": url,
                "page_number": page.page_number,
                "doc_type": result.doc_type,
                "content": page.content,
                "word_count": page.word_count,
                "page_count": page_count,
                "elements": _element_rows(page.elements),
                "tables": _table_rows(page.tables),
                "figures": _figure_rows(page.figures),
                "status": STATUS_SUCCESS,
                "error_type": None,
                "error_message": None,
                "partition_id": partition_id,
                "byte_count": nbytes,
            }
        )
    return rows


# Output flush thresholds: bound Python-side memory regardless of how many
# multi-MB documents the JVM packed into one input Arrow batch (the input
# side is bounded by spark.sql.execution.arrow.maxBytesPerBatch).
FLUSH_ROWS = 4096
FLUSH_BYTES = 64 << 20


def _make_extract_batches(output_format: str, quarantine_soft: bool = False):
    """Build the mapInPandas body with the run's output format in its
    closure. Lazy TaskContext import keeps the core Spark-free."""

    def _extract_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        guard_zip_imports()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        out: list[dict] = []
        acc_bytes = 0
        for batch in batches:
            urls = batch["url"].to_numpy()
            payloads = batch["html"].to_numpy()
            for url, payload in zip(urls, payloads):
                out.extend(
                    extract_rows_py(
                        url, payload, pid, output_format, quarantine_soft
                    )
                )
                acc_bytes += len(payload) if payload is not None else 0
                if len(out) >= FLUSH_ROWS or acc_bytes >= FLUSH_BYTES:
                    yield pd.DataFrame(out, columns=_COLUMNS)
                    out, acc_bytes = [], 0
        if out:
            yield pd.DataFrame(out, columns=_COLUMNS)

    return _extract_batches


def extract_pages(
    pages_df: "DataFrame",
    output_format: str = "text",
    quarantine_soft: bool = False,
) -> "DataFrame":
    """pages(url, warc_ts, html, text, lang) -> extracted rows.

    Projects to (url, html) FIRST so column pruning reaches the scan, then
    runs the single fused mapInPandas extraction stage.
    ``output_format`` selects the content renderer (PDF in-extractor,
    others via core/render.py); the default 'text' is the golden
    byte-identity surface.
    """
    return pages_df.select("url", "html").mapInPandas(
        _make_extract_batches(output_format, quarantine_soft),
        schema=EXTRACTED_SCHEMA,
    )


def coalesce_content(extracted: "DataFrame", pages: "DataFrame") -> "DataFrame":
    """M14 content fallback chain, Spark-first.

    The reference's API path coalesces alternative content fields and
    terminates in a JSON dump of the raw payload
    (``data.get("text") or data.get("content") or json.dumps(data)``,
    api_extraction_processor.py:316-344). The crawl-pipeline analog: the
    input table itself carries a pre-extracted ``text`` column
    (WET-style, BASELINE.json input_hint), so a document whose byte
    payload hard-fails can still contribute its provided text instead of
    dropping out of the corpus. Chain, in order:

      1. extracted ``content`` of a success row (non-empty);
      2. the row's provided ``text`` column (non-empty);
      3. terminal: canonical JSON dump of the failure metadata
         (url/doc_type/error_type — the reference's ``json.dumps(data)``
         arm, never empty, so nothing needs to raise).

    Output: extracted columns + ``content_final`` + ``content_source``
    ('extracted' | 'provided_text' | 'metadata_json'). Pure Catalyst
    (coalesce/when/to_json) — no UDF. The url equi-join is shuffle-free
    when both tables share the url-hash bucketing the north rule
    prescribes; on unbucketed inputs it is one ordinary hash join.
    """
    from pyspark.sql import functions as F  # noqa: N812

    # url is the join key; a duplicate url in pages would silently fan
    # out extracted rows through the left join, so the provided-text
    # projection is deduplicated (one shuffle on url, the same key the
    # join shuffles on — AQE coalesces them into one exchange reuse).
    # max(text), not dropDuplicates: an arbitrary surviving row would
    # make the output nondeterministic when duplicate urls carry
    # different provided text (round-5 advice).
    provided = pages.groupBy("url").agg(
        F.max("text").alias("_provided_text")
    )
    joined = extracted.join(provided, "url", "left")

    def nonempty(col):
        return F.when(F.length(col) > 0, col)

    extracted_arm = F.when(
        F.col("status") == "success", nonempty(F.col("content"))
    )
    provided_arm = nonempty(F.col("_provided_text"))
    terminal = F.to_json(F.struct("url", "doc_type", "error_type"))
    return joined.withColumn(
        "content_final",
        F.coalesce(extracted_arm, provided_arm, terminal),
    ).withColumn(
        "content_source",
        F.when(extracted_arm.isNotNull(), F.lit("extracted"))
        .when(provided_arm.isNotNull(), F.lit("provided_text"))
        .otherwise(F.lit("metadata_json")),
    ).drop("_provided_text")


DOC_JOINER = "\n\n---\n\n"  # reference docling_strategy_processor.py:1452


def assemble_documents(extracted: "DataFrame") -> "DataFrame":
    """Per-page rows -> one row per document: contents in page order joined
    with the reference's multi-page template (M6,
    docling_strategy_processor.py:1417-1453). JVM-side: sorted collect_list
    + array_join, one shuffle on url."""
    from pyspark.sql import functions as F  # noqa: N812

    pages = F.array_sort(
        F.collect_list(F.struct("page_number", "content"))
    )
    return (
        extracted.filter(F.col("status") == "success")
        .groupBy("url")
        .agg(pages.alias("_pages"))
        .select(
            "url",
            F.array_join(
                F.transform("_pages", lambda p: p["content"]), DOC_JOINER
            ).alias("doc_content"),
            F.size("_pages").cast("long").alias("page_count"),
        )
    )
