"""Streaming extraction: the reference's Kafka consume loop
(kafka_background_service.py:60-186), re-expressed as Structured Streaming.

readStream(pages) -> the SAME fused mapInPandas extraction operator ->
foreachBatch -> plans.run.commit_run, the job's own run commit, once per
micro-batch. Offset tracking + commit-after-process is exactly what the
checkpoint/WAL gives us (the at-least-once discipline of the reference's
manual ``kafka.commit()``); commit_run's run_id idempotency makes the
visible effect exactly-once. ``Trigger.AvailableNow`` is the batch-parity
mode used in tests; a production deployment points the same code at
``readStream.format("iceberg")`` or ``format("kafka")``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..operators.extract import extract_pages
from ..plans.run import commit_run
from ..sources.pages import PAGES_SCHEMA

if TYPE_CHECKING:
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import StreamingQuery


def stream_extract_committed(
    spark: "SparkSession",
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    run_prefix: str = "stream",
    available_now: bool = True,
) -> "StreamingQuery":
    """File-source streaming over a pages parquet directory: each
    micro-batch is one run (run_id = '{prefix}-{batch_id}') committed by
    ``commit_run`` to the warehouse's ``extracted`` and ``lineage`` tables,
    so its lineage carries the same per-partition and rollup rows as a
    batch run's.

    Exactly-once visible effect under restarts: Structured Streaming can
    REPLAY a micro-batch whose foreachBatch died mid-commit. commit_run is
    a no-op for a committed run_id, and a replayed batch that died between
    the two manifest flips gets its lineage rebuilt from the published
    snapshot — the streaming analog of the reference's commit-after-process
    offset discipline (kafka_background_service.py:130-158) and of the
    batch plan's resume (plans/run.py).
    """

    def commit_batch(batch_df, batch_id: int) -> None:
        commit_run(batch_df, warehouse, f"{run_prefix}-{batch_id}")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )
    writer = (
        extract_pages(stream)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
