"""Per-partition lineage rows + run-level rollup.

Reimplements the reference's batch counters and status lifecycle as data:
``DoclingBatchResult`` totals (docling_models.py:91-104, success/failure
rates :155-167), first-failure manifest capture
(docling_strategy_processor.py:996-1028), and the per-run status summary
(status_tracker.py:228-393) become rows in a metrics table, written in the
same job as the results (north rule: "per-partition lineage rows (partition
id, doc count, byte count, failure manifest)").

Zero extra passes over the document bytes: ``extracted`` rows already carry
``partition_id`` (TaskContext, captured inside the extract UDF) and
``byte_count``; lineage is a groupBy over the (tiny) extracted metadata,
one exchange keyed on partition_id.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

LINEAGE_COLS = [
    "partition_id",
    "doc_count",
    "page_count",
    "byte_count",
    "success_count",
    "hard_fail_count",
    "soft_fail_count",
    "failure_manifest",
]


def _per_doc(extracted: "DataFrame"):
    """One row per input document, without a shuffle: every doc has
    exactly one row with page_number<=1 (the single row of a failure doc
    (0), the first page of a success doc (1)), and page_count, status and
    byte_count are the same on all of a doc's rows. An input url that
    appears twice is two documents here, as it is in the job's docs_in."""
    from pyspark.sql import functions as F  # noqa: N812

    return extracted.filter(F.col("page_number") <= 1).select(
        "url",
        "partition_id",
        "status",
        "error_type",
        "error_message",
        "byte_count",
        "page_count",
    )


# partition_id of the run rollup row in the lineage table
ROLLUP_PARTITION = -1


def _lineage_agg(per_doc: "DataFrame", run_id: str) -> "DataFrame":
    from pyspark.sql import functions as F  # noqa: N812

    fail_struct = F.when(
        (F.col("status") != "success")
        & (F.col("partition_id") != ROLLUP_PARTITION),
        F.struct(
            F.col("url"), F.col("error_type"), F.col("error_message")
        ),
    )
    agg = per_doc.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("page_count").alias("page_count"),
        F.sum("byte_count").alias("byte_count"),
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias(
            "success_count"
        ),
        F.sum(F.when(F.col("status") == "hard_failure", 1).otherwise(0)).alias(
            "hard_fail_count"
        ),
        F.sum(F.when(F.col("status") == "soft_failure", 1).otherwise(0)).alias(
            "soft_fail_count"
        ),
        F.to_json(
            F.array_sort(F.collect_list(fail_struct))
        ).alias("failure_manifest"),
    )
    return agg.withColumn("run_id", F.lit(run_id)).withColumn(
        "committed_at", F.current_timestamp()
    )


def lineage_rows(extracted: "DataFrame", run_id: str) -> "DataFrame":
    """Per-partition lineage: doc/page/byte counts + JSON failure manifest
    of hard-failure urls (sorted for determinism)."""
    return _lineage_agg(_per_doc(extracted), run_id)


def run_rollup(extracted: "DataFrame") -> "DataFrame":
    """Run-level summary (the PipelineEvent/status-summary analog,
    lib/models/pipeline_event.py:11-80): one row of totals."""
    from pyspark.sql import functions as F  # noqa: N812

    per_doc = _per_doc(extracted)
    return per_doc.agg(
        F.count("*").cast("long").alias("total_docs"),
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0))
        .cast("long")
        .alias("success_docs"),
        F.sum(F.when(F.col("status") == "hard_failure", 1).otherwise(0))
        .cast("long")
        .alias("hard_fail_docs"),
        F.sum(F.when(F.col("status") == "soft_failure", 1).otherwise(0))
        .cast("long")
        .alias("soft_fail_docs"),
        F.sum(F.when(F.col("status") == "success", F.col("page_count")).otherwise(0))
        .cast("long")
        .alias("total_pages"),
        F.sum("byte_count").cast("long").alias("total_bytes"),
    )


def lineage_with_rollup(extracted: "DataFrame", run_id: str) -> "DataFrame":
    """A run's rows of the lineage table: ``lineage_rows`` plus the run
    rollup as the row with partition_id -1 (failure_manifest "[]"), in
    ONE aggregation, so one scan and one exchange: every doc counts once
    toward its partition's row and once toward the rollup row. The rollup
    equals ``run_rollup``'s totals (failure docs carry page_count 0). An
    empty input gives no rows."""
    from pyspark.sql import functions as F  # noqa: N812

    per_doc = _per_doc(extracted).withColumn(
        "partition_id",
        F.explode(F.array("partition_id", F.lit(ROLLUP_PARTITION))),
    )
    return _lineage_agg(per_doc, run_id)
