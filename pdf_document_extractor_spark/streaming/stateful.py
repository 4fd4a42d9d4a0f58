"""Custom stateful streaming operator: per-host running crawl stats.

``applyInPandasWithState`` over the pages stream keyed by host — the
Structured Streaming analog of the reference's in-process status tracking
(processing_orchestrator.py:124-197 heartbeat; status_tracker.py:228-393
per-upload status), turned into durable, exactly-once keyed state:

  host -> (docs_total, bytes_total, pdf_docs, html_docs)

Each trigger emits the UPDATED totals for hosts seen in that batch; state
lives in the checkpointed state store, so totals keep accumulating across
restarts (tested). At scale this is the politeness/skew dashboard: hot
hosts surface as outliers in docs_total between micro-batches, without a
separate batch job.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

import pandas as pd

from ..functions.url import host_of

if TYPE_CHECKING:
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import StreamingQuery

OUTPUT_SCHEMA = (
    "host string, docs_total long, bytes_total long, "
    "pdf_docs long, html_docs long"
)
STATE_SCHEMA = "docs long, bytes long, pdf long, html long"


def _update_host_stats(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    docs = nbytes = pdf_docs = html_docs = 0
    for pdf in pdfs:
        blobs = pdf["html"]
        docs += len(pdf)
        for b in blobs:
            b = b or b""
            nbytes += len(b)
            if b[:5] == b"%PDF-":
                pdf_docs += 1
            else:
                html_docs += 1
    if state.exists:
        p_docs, p_bytes, p_pdf, p_html = state.get
    else:
        p_docs = p_bytes = p_pdf = p_html = 0
    totals = (
        p_docs + docs,
        p_bytes + nbytes,
        p_pdf + pdf_docs,
        p_html + html_docs,
    )
    state.update(totals)
    yield pd.DataFrame(
        [
            {
                "host": key[0],
                "docs_total": totals[0],
                "bytes_total": totals[1],
                "pdf_docs": totals[2],
                "html_docs": totals[3],
            }
        ]
    )


def stream_dedup_recrawls(
    spark: "SparkSession",
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = True,
) -> "StreamingQuery":
    """Re-crawl suppression: keep the FIRST arrival of each url within the
    watermark horizon (Common Crawl revisits hot pages; a training corpus
    wants one copy). ``dropDuplicatesWithinWatermark`` keys state on url
    and expires entries once the event-time watermark passes — bounded
    state at 10^12 docs, unlike an unbounded dropDuplicates."""
    from ..sources.pages import PAGES_SCHEMA

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )
    deduped = stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_host_counts(
    spark: "SparkSession",
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    available_now: bool = True,
) -> "StreamingQuery":
    """Event-time windowed ingest counts per host with a watermark.

    groupBy(window(warc_ts), host).count() in append mode: a window's row
    is emitted ONLY once the watermark passes its end, and events arriving
    later than ``watermark`` behind the max seen warc_ts are dropped — the
    bounded-state discipline for 10^12-doc event-time aggregation (state
    size stays O(open windows x hosts), not O(history))."""
    from pyspark.sql import functions as F  # noqa: N812

    from ..sources.pages import PAGES_SCHEMA

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )
    counts = (
        stream.withColumn(
            "host", host_of(F.col("url"))
        )
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "host")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.length("html")).alias("byte_count"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host",
            "doc_count",
            "byte_count",
        )
    )
    writer = (
        counts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_host_stats(
    spark: "SparkSession",
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> "StreamingQuery":
    """pages stream -> per-host running totals written to ``out_dir`` as
    parquet via foreachBatch (one row per (host, trigger) with the totals
    as of that trigger).

    Idempotent per-batch commit: each micro-batch OVERWRITES its own
    ``batch_id={n}`` partition directory, so a batch replayed after a crash
    mid-write replaces its rows instead of appending duplicates — the same
    exactly-once-visible-effect discipline as stream_extract_committed
    (there via plans.run.commit_run, a no-op for a committed run_id)."""
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..sources.pages import PAGES_SCHEMA

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )
    keyed = stream.select(
        host_of(F.col("url")).alias("host"),
        "html",
    ).groupBy("host")
    stats = keyed.applyInPandasWithState(
        _update_host_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    writer = (
        stats.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
