"""SnapshotTable maintenance: compaction, expiry semantics, orphan cleanup
(Iceberg rewrite_data_files / expire_snapshots / remove_orphan_files
analogs — the small-files discipline a 10^12-row table lives by)."""

from __future__ import annotations

import pytest

from pdf_document_extractor_spark.sources.catalog import SnapshotTable


def _commit_three(spark, tbl):
    for i in range(3):
        df = spark.createDataFrame(
            [(i * 10 + j, f"row-{i}-{j}") for j in range(4)],
            "k long, v string",
        )
        tbl.commit(df, f"run-{i}")


def test_compact_preserves_rows_and_idempotency(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    before = {(r.k, r.v) for r in tbl.read(spark).collect()}

    snap = tbl.compact(spark)
    assert snap is not None and snap.kind == "compact"
    after = {(r.k, r.v) for r in tbl.read(spark).collect()}
    assert after == before  # byte-for-byte the same table

    # run-id idempotency SURVIVES compaction: a replayed old run is a no-op
    assert tbl.committed_run_ids() >= {"run-0", "run-1", "run-2"}
    df = spark.createDataFrame([(999, "dup")], "k long, v string")
    assert tbl.commit(df, "run-1") is None
    assert {(r.k, r.v) for r in tbl.read(spark).collect()} == before

    # compacting an already-compact table is a no-op
    assert tbl.compact(spark) is None


def test_time_travel_past_retention_raises(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    tbl.compact(spark)
    with pytest.raises(KeyError, match="expired"):
        tbl.read_snapshot(spark, 1)


def test_read_since_skips_compaction_rewrites(spark, tmp_path):
    """A consumer that already processed snapshots 1..3 must NOT see the
    compaction rewrite as new data; a genuinely new append after it is
    delivered."""
    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    head = tbl.current_snapshot_id()
    tbl.compact(spark)
    assert tbl.read_since(spark, head) is None
    df = spark.createDataFrame([(100, "new")], "k long, v string")
    tbl.commit(df, "run-new")
    got = {(r.k, r.v) for r in tbl.read_since(spark, head).collect()}
    assert got == {(100, "new")}


def test_remove_orphans_only_touches_unreferenced_dirs(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    # simulate a commit that died before its manifest flip
    orphan = tbl.data_dir / "snap-000099-crashed"
    orphan.mkdir()
    (orphan / "part-000.parquet").write_bytes(b"junk")
    before = {(r.k, r.v) for r in tbl.read(spark).collect()}
    removed = tbl.remove_orphans(min_age_seconds=0)
    assert removed == ["snap-000099-crashed"]
    assert {(r.k, r.v) for r in tbl.read(spark).collect()} == before


def test_read_as_of_past_retention_raises(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    tbl.compact(spark)
    with pytest.raises(KeyError, match="retention"):
        tbl.read(spark, as_of=2)
    # un-travelled read still fine
    assert tbl.read(spark).count() == 12


def test_remove_orphans_age_guard(spark, tmp_path):
    """A YOUNG unreferenced dir may be an in-flight commit (data written,
    manifest not yet flipped) — only dirs older than min_age_seconds go."""
    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    orphan = tbl.data_dir / "snap-000099-inflight"
    orphan.mkdir()
    assert tbl.remove_orphans() == []  # default 24h guard: kept
    assert orphan.exists()
    assert tbl.remove_orphans(min_age_seconds=0) == ["snap-000099-inflight"]


def test_read_as_of_at_or_after_compaction_is_fine(spark, tmp_path):
    """Time travel to views at/after a compaction stays available: the
    rewrite represents the expired snapshots' rows."""
    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    before = {(r.k, r.v) for r in tbl.read(spark).collect()}
    snap = tbl.compact(spark)
    df = spark.createDataFrame([(100, "new")], "k long, v string")
    tbl.commit(df, "run-new")
    got_at_compact = {(r.k, r.v)
                      for r in tbl.read(spark, as_of=snap.snapshot_id).collect()}
    assert got_at_compact == before
    got_head = {(r.k, r.v) for r in tbl.read(spark, as_of=5).collect()}
    assert got_head == before | {(100, "new")}


def test_staged_snapshot_is_invisible_until_published(spark, tmp_path):
    """stage writes the files, publish flips the manifest, discard drops
    a staged snapshot that is never published."""
    tbl = SnapshotTable(str(tmp_path), "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    staged = tbl.stage(df, "run-1")
    assert tbl.read(spark) is None and tbl.current_snapshot_id() == 0
    assert {(r.k, r.v) for r in tbl.read_staged(spark, staged).collect()} == {
        (1, "a"),
        (2, "b"),
    }
    assert tbl.publish(staged).snapshot_id == 1
    assert tbl.read(spark).count() == 2
    assert tbl.stage(df, "run-1") is None  # idempotent, like commit

    dropped = tbl.stage(df, "run-2")
    tbl.discard(dropped)
    assert sorted(p.name for p in tbl.data_dir.iterdir()) == ["snap-000001-run-1"]
    assert tbl.current_snapshot_id() == 1


def test_manifest_records_schema_and_old_manifests_still_load(spark, tmp_path):
    """Each entry records its files' schema (reads pass it to the reader
    instead of inferring it); an entry written before schemas were
    recorded still reads, by inference."""
    import json

    tbl = SnapshotTable(str(tmp_path), "t")
    _commit_three(spark, tbl)
    (entry,) = tbl.snapshots()[:1]
    assert [f["name"] for f in entry.schema["fields"]] == ["k", "v"]
    want = {(r.k, r.v) for r in tbl.read(spark).collect()}

    old = json.loads(tbl.manifest_path.read_text(encoding="utf-8"))
    for e in old:
        del e["schema"]
    tbl.manifest_path.write_text(json.dumps(old), encoding="utf-8")
    assert all(s.schema is None for s in tbl.snapshots())
    assert {(r.k, r.v) for r in tbl.read(spark).collect()} == want
    assert tbl.read_snapshot(spark, 2).count() == 4
