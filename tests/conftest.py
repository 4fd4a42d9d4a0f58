"""Shared pytest fixtures. One session-scoped local SparkSession."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pdf-document-extractor-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def unit_corpus():
    from pdf_document_extractor_spark.fixtures.gen import gen_unit_corpus

    return gen_unit_corpus()


@pytest.fixture()
def lineage_publish_fails_once(monkeypatch):
    """``SnapshotTable.publish`` raises once on a ``lineage`` table, so a
    run dies between its two manifest flips. Returns the list that
    receives the failed run id."""
    from pdf_document_extractor_spark.sources.catalog import SnapshotTable

    publish = SnapshotTable.publish
    failed = []

    def publish_failing_lineage_once(self, snap):
        if self.root.name == "lineage" and not failed:
            failed.append(snap.run_id)
            raise OSError("lineage publish failed")
        return publish(self, snap)

    monkeypatch.setattr(SnapshotTable, "publish", publish_failing_lineage_once)
    return failed
