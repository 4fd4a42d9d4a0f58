"""Structured Streaming extraction: batch parity + exactly-once file intake
(the checkpoint replaces the reference's manual Kafka offset commits,
kafka_background_service.py:130-158)."""

from __future__ import annotations

import pytest

from pdf_document_extractor_spark.fixtures.gen import gen_scale_corpus
from pdf_document_extractor_spark.plans.run import run_extraction_job
from pdf_document_extractor_spark.sources.catalog import SnapshotTable
from pdf_document_extractor_spark.sources.pages import pages_df_from_fixtures
from pdf_document_extractor_spark.streaming.stream import stream_extract_committed


def _write_pages(spark, docs, path: str, n_files: int = 4) -> None:
    pages_df_from_fixtures(spark, docs).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(path)


def test_stream_matches_batch(spark, tmp_path):
    docs = gen_scale_corpus(120)
    pages_dir = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, docs, pages_dir)

    q = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q.awaitTermination(300)

    from pdf_document_extractor_spark.operators.extract import extract_pages

    batch = extract_pages(spark.read.parquet(pages_dir))
    got = {
        (r.url, r.page_number): (r.content, r.status)
        for r in SnapshotTable(wh, "extracted").read(spark).collect()
    }
    want = {
        (r.url, r.page_number): (r.content, r.status) for r in batch.collect()
    }
    assert got == want


def test_stream_restart_no_duplicates(spark, tmp_path):
    docs = gen_scale_corpus(60)
    pages_dir = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, docs, pages_dir, n_files=2)
    extracted_tbl = SnapshotTable(wh, "extracted")

    q1 = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q1.awaitTermination(300)
    n1 = extracted_tbl.read(spark).count()

    # restart with the SAME checkpoint: no new files => no new rows
    q2 = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q2.awaitTermination(300)
    assert extracted_tbl.read(spark).count() == n1

    # drop new files in: only those are picked up (incremental intake)
    more = gen_scale_corpus(30, seed=99)
    for d in more:  # disambiguate urls vs the first corpus
        d.url = d.url.replace("https://", "https://extra-")
    extra_df = pages_df_from_fixtures(spark, more)
    extra_pd = extra_df.toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    # append a new file without disturbing existing ones
    tbl = pa.Table.from_pandas(extra_pd)
    pq.write_table(tbl, f"{pages_dir}/extra-0.parquet")
    q3 = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q3.awaitTermination(300)
    n3 = extracted_tbl.read(spark).count()
    assert n3 > n1
    from collections import Counter

    per_page = Counter(
        (r.url, r.page_number) for r in extracted_tbl.read(spark).collect()
    )
    assert max(per_page.values()) == 1  # exactly-once per (url, page)

def test_stream_committed_snapshots_and_lineage(spark, tmp_path):
    """foreachBatch variant: per-micro-batch atomic snapshots + lineage,
    idempotent under restart (the streaming analog of plans/run.py)."""
    docs = gen_scale_corpus(80)
    pages_dir = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, docs, pages_dir, n_files=3)

    q = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q.awaitTermination(300)

    extracted_tbl = SnapshotTable(wh, "extracted")
    lineage_tbl = SnapshotTable(wh, "lineage")
    ext = extracted_tbl.read(spark)
    assert ext is not None
    n1 = ext.count()
    # every micro-batch snapshot has its lineage twin
    assert extracted_tbl.committed_run_ids() == lineage_tbl.committed_run_ids()

    # lineage doc counts reconcile exactly with committed extracted rows
    lin = lineage_tbl.read(spark).filter("partition_id != -1")
    total_docs = sum(r.doc_count for r in lin.collect())
    assert total_docs == ext.select("url").distinct().count()

    # restart with same checkpoint: no new snapshots, no new rows
    snaps_before = extracted_tbl.current_snapshot_id()
    q2 = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q2.awaitTermination(300)
    assert extracted_tbl.current_snapshot_id() == snaps_before
    assert extracted_tbl.read(spark).count() == n1

    # exactly-once per (url, page) across all snapshots
    from collections import Counter

    per_page = Counter(
        (r.url, r.page_number) for r in extracted_tbl.read(spark).collect()
    )
    assert max(per_page.values()) == 1


def _rollup_totals(spark, wh: str) -> dict:
    rows = SnapshotTable(wh, "lineage").read(spark).filter("partition_id = -1")
    cols = ("doc_count", "page_count", "byte_count", "success_count",
            "hard_fail_count", "soft_fail_count")
    return {c: sum(getattr(r, c) for r in rows.collect()) for c in cols}


def test_stream_and_batch_lineage_rollups_agree(spark, tmp_path):
    """The same pages through the stream and through the batch job give
    the same lineage rollup counts: both commit through commit_run."""
    docs = gen_scale_corpus(80)
    pages_dir = str(tmp_path / "pages")
    _write_pages(spark, docs, pages_dir, n_files=3)

    wh_stream = str(tmp_path / "wh_stream")
    q = stream_extract_committed(spark, pages_dir, wh_stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    wh_batch = str(tmp_path / "wh_batch")
    run_extraction_job(spark, spark.read.parquet(pages_dir), wh_batch, "b1")

    totals = _rollup_totals(spark, wh_batch)
    assert totals["doc_count"] == 80
    assert _rollup_totals(spark, wh_stream) == totals


def test_stream_batch_dying_between_flips_recovers_on_restart(
    spark, tmp_path, lineage_publish_fails_once
):
    """foreachBatch dies after publishing `extracted` and before the
    lineage flip. The restart on the same checkpoint replays the batch,
    which rebuilds its lineage from the published snapshot: every batch's
    run id ends with exactly one rollup row, and no doc is extracted
    twice."""
    from pyspark.errors import StreamingQueryException

    docs = gen_scale_corpus(40)
    pages_dir = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, docs, pages_dir, n_files=2)
    extracted_tbl = SnapshotTable(wh, "extracted")
    lineage_tbl = SnapshotTable(wh, "lineage")

    q = stream_extract_committed(spark, pages_dir, wh, ckpt)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    failed = lineage_publish_fails_once
    assert failed and extracted_tbl.committed_run_ids() == set(failed)
    assert lineage_tbl.read(spark) is None

    q2 = stream_extract_committed(spark, pages_dir, wh, ckpt)
    q2.awaitTermination(300)
    run_ids = extracted_tbl.committed_run_ids()
    assert run_ids == lineage_tbl.committed_run_ids()
    rollups = lineage_tbl.read(spark).filter("partition_id = -1").collect()
    assert sorted(r.run_id for r in rollups) == sorted(run_ids)
    assert sum(r.doc_count for r in rollups) == 40
    urls = [r.url for r in extracted_tbl.read(spark).filter("page_number <= 1").collect()]
    assert len(urls) == len(set(urls)) == 40
