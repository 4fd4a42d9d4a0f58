"""The end-to-end extraction job (spark-submit entry point).

Pipeline (SURVEY.md §3.1's Spark translation, north rule wiring):

  read pages ->
  RESUME anti-join against committed extracted urls (P1/A5) ->
  url-hash repartition into P partitions, by default one per core slot
  per wave, as few waves as keep a task within one scan split (P3) ->
  ONE fused mapInPandas extraction (M1-M13, D1-D3, P2) ->
  commit_run: stage `extracted` -> per-partition lineage rows + run
  rollup from the staged files, staged to `lineage` (A1/S7/P4) ->
  docs_in read back from the staged rollup row -> publish both manifests
  (or, with nothing to do, discard both staged dirs)

The stream (streaming/stream.py) commits each micro-batch with the same
commit_run, so both leave the same lineage rows, rollup row included.

Scale notes:
- The ONLY shuffle on the extraction path is the url-hash repartition.
  Urls are unique, so hashing them spreads a hot host over every
  partition without a host pre-pass; the salt in operators/skew.py is for
  placement keys coarser than the url. Every shuffle partition gets work
  at any P well below the url count.
- P defaults to one task per core slot, so an input of up to one scan
  split (spark.sql.files.maxPartitionBytes) per slot is extracted in one
  wave: every Python task pays a fixed cost before its UDF body runs,
  ~50 ms of scheduling and worker round trip on a 4-vCPU host (the
  marginal wall of a trivial task on local[1]), so a second wave of small
  tasks pays it twice on the critical path. The per-task re-read of the
  worker's zip imports (PySpark's setup_spark_files, ~75 ms) is skipped
  for unchanged archives once a package UDF body has run in the worker
  (worker.guard_zip_imports: ~0.05 ms), but a fresh worker's first task
  still pays it once. A larger input gets as many full waves as
  keep each task within one split, so a task's share (and a retried
  task's lost work) stays bounded as inputs grow. See default_partitions.
- Heavy payloads are bounded by the Arrow batch byte cap in
  RECOMMENDED_CONF (spark.sql.execution.arrow.maxBytesPerBatch): a batch
  closes at the row that reaches the cap, so a task holds at most the cap
  plus one document in an input batch, with no second pass over the input.
- Lineage is aggregated from the staged snapshot's metadata columns
  (partition_id/byte_count), not from a second pass over the bytes, and
  gives docs_in: the job runs no Spark action before the extraction write.
- Soft failures raise inside the UDF => Spark task retry
  (spark.task.maxFailures); a job that dies leaves NO manifest entry, so the
  rerun resumes exactly (snapshot-commit discipline, sources/catalog.py).
  A run that dies between the two manifest flips has `extracted`
  published and no lineage: its rerun rebuilds lineage from the published
  snapshot and publishes it.

CLI:
  # job.py: from pdf_document_extractor_spark.plans.run import main; main()
  spark-submit --py-files pdf_document_extractor_spark.zip job.py \
      --pages /path/pages.parquet --warehouse /path/wh --run-id r1
  (build the zip with: python tools/package.py; see tests/test_spark_submit.py)
"""

from __future__ import annotations

import argparse
import time
from dataclasses import dataclass
from typing import TYPE_CHECKING

from ..operators.extract import extract_pages
from ..operators.lineage import ROLLUP_PARTITION, lineage_with_rollup
from ..sources.catalog import SnapshotTable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# Payload size above which skew.split_heavy routes a doc to its heavy
# branch; the job itself no longer splits (see the Arrow byte cap below).
HEAVY_BYTES_DEFAULT = 1 << 20  # 1 MiB


@dataclass
class RunResult:
    run_id: str
    docs_in: int
    wall_s: float
    committed: bool
    snapshot_id: int


def default_partitions(spark: "SparkSession", pages: "DataFrame") -> int:
    """The url-hash partition count when the caller sets none: the fewest
    whole waves of core slots (``defaultParallelism``) whose tasks each
    hold at most one scan split of ``pages``
    (``spark.sql.files.maxPartitionBytes``). An input of up to one split
    per slot is one wave; a larger one gets as many full waves as its
    splits need, never a part-filled last wave.

    The input size is the optimizer's estimate for the plan's leaves: the
    files of a parquet scan, the bytes of a cached relation. It is read at
    planning time, with no Spark action. A leaf Spark cannot size (an
    RDD-backed DataFrame reports ``spark.sql.defaultSizeInBytes``) counts
    as empty."""
    conf = spark._jsparkSession.sessionState().conf()
    leaves = pages._jdf.queryExecution().optimizedPlan().collectLeaves()
    unknown = conf.defaultSizeInBytes()
    sizes = (int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size()))
    size = sum(s for s in sizes if s < unknown)
    splits = -(-size // conf.filesMaxPartitionBytes())
    slots = spark.sparkContext.defaultParallelism
    return slots * max(1, -(-splits // slots))


def extraction_plan(
    spark: "SparkSession",
    pages: "DataFrame",
    extracted_tbl: SnapshotTable,
    num_partitions: int | None = None,
    quarantine_soft: bool = False,
    output_format: str = "text",
) -> "DataFrame":
    """The job's lazy extraction plan: the pages no committed snapshot of
    ``extracted_tbl`` holds, placed by url hash into ``num_partitions``
    partitions (None: :func:`default_partitions`), through the one fused
    extraction stage."""
    if num_partitions is None:
        num_partitions = default_partitions(spark, pages)
    todo = pages
    prior = extracted_tbl.read(spark)
    if prior is not None:
        # each committed doc has exactly one page_number<=1 row
        # (operators/lineage.py): its urls without a distinct's exchange
        done = prior.filter("page_number <= 1").select("url")
        todo = pages.join(done, "url", "left_anti")
    return extract_pages(
        todo.repartition(num_partitions, "url"),
        output_format=output_format,
        quarantine_soft=quarantine_soft,
    )


def commit_run(extracted: "DataFrame", warehouse: str, run_id: str) -> RunResult:
    """Commit one run's extracted rows and their lineage as one snapshot
    pair of the warehouse's ``extracted`` and ``lineage`` tables.

    Stages ``extracted`` (the only pass over ``extracted``'s plan), stages
    ``lineage_with_rollup`` of the staged files, reads docs_in from the
    staged rollup row, then publishes both manifests, or discards both
    staged dirs when docs_in is 0.

    A run id whose ``extracted`` snapshot is published but whose lineage
    is not (the run died between the two manifest flips) gets its lineage
    rebuilt from that published snapshot; ``extracted`` is not evaluated.
    Any other already-committed run id is a no-op."""
    t0 = time.time()
    spark = extracted.sparkSession
    extracted_tbl = SnapshotTable(warehouse, "extracted")
    lineage_tbl = SnapshotTable(warehouse, "lineage")

    def not_committed() -> RunResult:
        return RunResult(run_id, 0, time.time() - t0, False,
                         extracted_tbl.current_snapshot_id())

    if run_id in lineage_tbl.committed_run_ids():
        return not_committed()
    snap = next((s for s in extracted_tbl.snapshots() if s.run_id == run_id), None)
    staged = None if snap else extracted_tbl.stage(extracted, run_id)
    this_run = (extracted_tbl.read_staged(spark, staged) if staged
                else extracted_tbl.read_snapshot(spark, snap.snapshot_id))
    staged_lin = lineage_tbl.stage(lineage_with_rollup(this_run, run_id), run_id)
    rollup = (
        lineage_tbl.read_staged(spark, staged_lin)
        .filter(f"partition_id = {ROLLUP_PARTITION}")
        .select("doc_count")
        .first()
    )
    docs_in = rollup.doc_count if rollup is not None else 0
    if docs_in == 0:
        # nothing to record: publish nothing, keep no staged files
        lineage_tbl.discard(staged_lin)
        if staged:
            extracted_tbl.discard(staged)
        return not_committed()
    snap = snap or extracted_tbl.publish(staged)
    lineage_tbl.publish(staged_lin)
    return RunResult(run_id, docs_in, time.time() - t0, True, snap.snapshot_id)


def run_extraction_job(
    spark: "SparkSession",
    pages: "DataFrame",
    warehouse: str,
    run_id: str,
    num_partitions: int | None = None,
    quarantine_soft: bool = False,
    output_format: str = "text",
) -> RunResult:
    """Extract the pages no committed run holds and commit them as run_id.
    The plan is lazy: a rerun of a committed run_id runs no extraction."""
    extracted = extraction_plan(
        spark, pages, SnapshotTable(warehouse, "extracted"), num_partitions,
        quarantine_soft=quarantine_soft, output_format=output_format,
    )
    return commit_run(extracted, warehouse, run_id)


# Production conf for the 100 TB run (applied by main(); local tests use
# their own sessions). Rationale per key:
RECOMMENDED_CONF = {
    # runtime re-planning: post-shuffle coalesce and skew-join splits for
    # the downstream queries (the job's url repartition has an explicit
    # partition count, which AQE keeps)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # multi-MB html cells: a 10k-row default batch of 1 MB docs is 10 GB in
    # one Arrow chunk — cap rows per batch (output side is further bounded
    # by the UDF's FLUSH_ROWS/FLUSH_BYTES)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # ...and bytes per batch: a batch closes at the row that reaches 64 MiB,
    # so heavy docs need no separate pass. An integer string: some pyspark
    # worker paths read it with int().
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 << 20),
    # binary-heavy scans: smaller splits keep per-task memory bounded and
    # give AQE finer units to coalesce
    "spark.sql.files.maxPartitionBytes": "64m",
    # transient (soft) failures re-raise from the UDF by design — give the
    # scheduler headroom to retry them before failing the stage
    "spark.task.maxFailures": "4",
    # long-lived Python workers amortize import cost across batches
    "spark.python.worker.reuse": "true",
}


def main() -> None:
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument(
        "--num-partitions",
        type=int,
        default=None,
        help="extraction tasks (url-hash partitions); default one per core "
        "slot, in as few waves as keep each task within "
        "spark.sql.files.maxPartitionBytes of input",
    )
    ap.add_argument(
        "--output-format",
        default="text",
        help="content renderer (M4): text (default, the byte-identity "
        "surface) for every doc type; markdown adds '# Page N' headers to "
        "PDF pages only, other types stay text; html and json re-render "
        "every doc type; any other value joins PDF page lines with bare "
        "newlines, other types stay text",
    )
    ap.add_argument(
        "--quarantine-soft",
        action="store_true",
        help="salvage pass: commit transient failures as soft_failure rows "
        "instead of raising for task retry (run AFTER a normal pass; the "
        "resume anti-join feeds it only the still-unextracted urls)",
    )
    args = ap.parse_args()

    builder = SparkSession.builder.appName(f"extract-{args.run_id}")
    for key, value in RECOMMENDED_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    pages = spark.read.parquet(args.pages)
    res = run_extraction_job(
        spark,
        pages,
        args.warehouse,
        args.run_id,
        num_partitions=args.num_partitions,
        quarantine_soft=args.quarantine_soft,
        output_format=args.output_format,
    )
    print(
        f"run_id={res.run_id} docs_in={res.docs_in} committed={res.committed} "
        f"snapshot={res.snapshot_id} wall_s={res.wall_s:.1f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
