"""The Python-worker import guard (pdf_document_extractor_spark/worker.py):
an unchanged zip archive is not re-read by importlib.invalidate_caches(),
a changed one and a new sys.path entry are still found, and extraction in
a reused Spark worker runs with the guard and gives the oracle's rows."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from pyspark import TaskContext

from pdf_document_extractor_spark.worker import guard_zip_imports


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_guard_keeps_unchanged_archives_and_finds_changes(tmp_path, monkeypatch):
    # teardown restores the stock method the guard replaces
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    stock = zipimport.zipimporter.invalidate_caches
    archive = tmp_path / "guarded_mods.zip"
    _write_zip(archive, {"guarded_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("guarded_a", "guarded_b", "guarded_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("guarded_a").VALUE == "a"
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    guard_zip_imports()  # outside a Spark task: installs nothing
    assert zipimport.zipimporter.invalidate_caches is stock

    monkeypatch.setattr(TaskContext, "_taskContext", object())
    guard_zip_imports()
    assert zipimport.zipimporter.invalidate_caches is not stock
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files  # the unchanged archive was not re-read

    _write_zip(archive, {"guarded_a": "VALUE = 'a'\n", "guarded_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("guarded_b").VALUE == "b"

    new_dir = tmp_path / "new_entry"
    new_dir.mkdir()
    (new_dir / "guarded_c.py").write_text("VALUE = 'c'\n")
    monkeypatch.syspath_prepend(str(new_dir))
    assert importlib.import_module("guarded_c").VALUE == "c"


def test_reused_worker_extracts_with_the_guard(spark, unit_corpus):
    from pdf_document_extractor_spark.operators.extract import (
        extract_pages,
        extract_rows_py,
    )
    from pdf_document_extractor_spark.sources.pages import pages_df_from_fixtures

    def without_pid(row: dict) -> tuple:
        return tuple(sorted((k, repr(v)) for k, v in row.items() if k != "partition_id"))

    want = sorted(
        without_pid(row)
        for doc in unit_corpus
        for row in extract_rows_py(doc.url, doc.html)
    )
    pages = pages_df_from_fixtures(spark, unit_corpus).repartition(16, "url")
    for _ in range(2):  # the second run's tasks reuse the first run's workers
        got = extract_pages(pages).collect()
        assert sorted(without_pid(r.asDict(recursive=True)) for r in got) == want

    def worker_state(batches):
        import os

        import pandas as pd

        from pdf_document_extractor_spark import worker

        guarded = zipimport.zipimporter.invalidate_caches is worker._invalidate_if_changed
        zips = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [id(f._files) for f in zips]
        importlib.invalidate_caches()
        kept = before == [id(f._files) for f in zips]
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "guarded": [guarded], "zips": [len(zips)], "kept": [kept]}
        )

    # idle workers are handed out oldest first, so enough probe tasks
    # reach every worker that ran the extraction above
    states = (
        spark.range(64, numPartitions=64)
        .mapInPandas(worker_state, "pid long, guarded boolean, zips int, kept boolean")
        .collect()
    )
    guarded = [s for s in states if s.guarded]
    assert guarded
    assert all(s.zips > 0 and s.kept for s in guarded)
