"""Snapshot-commit table catalog: atomic, idempotent, time-travelable.

Gives the job the commit discipline the reference gets from
commit-after-process Kafka offsets (kafka_background_service.py:130-158,
``enable_auto_commit=False`` settings.py:122) and that production Spark gets
from Iceberg atomic snapshot commits:

- output becomes visible ONLY when the manifest gains a snapshot entry
  (written via tmp-file + ``os.replace`` — atomic on POSIX). ``commit`` is
  ``stage`` (write the data files, invisible) + ``publish`` (flip the
  manifest); a job that must inspect its own output before deciding to
  publish it stages, reads the staged files back, then publishes or
  ``discard``s;
- a failed/killed job leaves data files but no manifest entry => invisible
  => the rerun re-reads the same input (exactly-once VISIBLE effect);
- committing the same ``run_id`` twice is a no-op (idempotent resume);
- ``VERSION AS OF`` analog via ``read(..., as_of=snapshot_id)`` (reference
  replay/seek analog: lib/kafka/kafka.py:195-251);
- each entry records the schema of its data files, so reads pass it to
  ``spark.read.schema(...)`` instead of running a schema-inference job
  (entries written before the schema was recorded still load: their reads
  infer it).

In production this class is replaced 1:1 by Iceberg
(``df.writeTo(tbl).append()`` + incremental reads); the sandbox has no
Iceberg runtime jars, so the same contract is implemented on plain parquet
directories. Single-writer per table is assumed (Iceberg's optimistic
catalog swap handles multi-writer).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    run_id: str
    committed_at: float
    n_files: int
    # maintenance metadata (defaults keep old manifests loadable):
    # kind: "append" (a job's delta) | "compact" (a rewrite of prior data)
    kind: str = "append"
    # expired: data files removed by compaction/expiry; the ENTRY stays so
    # committed_run_ids keeps its idempotency guarantee forever
    expired: bool = False
    # StructType.jsonValue() of the data files; None in older manifests
    schema: dict[str, Any] | None = None


class SnapshotTable:
    def __init__(self, warehouse: str, name: str):
        self.root = Path(warehouse) / name
        self.data_dir = self.root / "data"
        self.manifest_path = self.root / "_snapshots.json"
        self.data_dir.mkdir(parents=True, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def snapshots(self) -> list[Snapshot]:
        if not self.manifest_path.exists():
            return []
        with self.manifest_path.open(encoding="utf-8") as fh:
            return [Snapshot(**e) for e in json.load(fh)]

    def _write_manifest(self, entries: list[Snapshot]) -> None:
        tmp = self.root / f"_snapshots.{uuid.uuid4().hex}.tmp"
        tmp.write_text(
            json.dumps([vars(e) for e in entries], indent=1), encoding="utf-8"
        )
        os.replace(tmp, self.manifest_path)  # atomic visibility flip

    def committed_run_ids(self) -> set[str]:
        return {s.run_id for s in self.snapshots()}

    # -- write ------------------------------------------------------------
    def stage(self, df: "DataFrame", run_id: str) -> Snapshot | None:
        """Write df's data files for the next snapshot WITHOUT publishing
        them: until ``publish`` they are an orphan dir no reader sees.
        None if run_id is already committed (idempotent rerun)."""
        entries = self.snapshots()
        if any(e.run_id == run_id for e in entries):
            return None
        snapshot_id = (entries[-1].snapshot_id + 1) if entries else 1
        snap = Snapshot(
            snapshot_id=snapshot_id,
            run_id=run_id,
            committed_at=0.0,
            n_files=0,
            schema=df.schema.jsonValue(),
        )
        out_dir = Path(self._snap_path(snap))
        # overwrite, NOT errorifexists: a commit that died mid-write leaves
        # an orphan data dir with no manifest entry (invisible). The retry/
        # replay must be able to reclaim that path — erroring on it would
        # turn every replay into a permanent PATH_ALREADY_EXISTS crash loop.
        # Visibility still flips only at the atomic manifest replace in
        # publish.
        df.write.mode("overwrite").parquet(str(out_dir))
        snap.n_files = len(list(out_dir.glob("*.parquet")))
        return snap

    def publish(self, snap: Snapshot) -> Snapshot:
        """Make a staged snapshot visible (the atomic manifest flip)."""
        entries = self.snapshots()
        last = entries[-1].snapshot_id if entries else 0
        if snap.snapshot_id != last + 1:
            raise RuntimeError(
                f"staged snapshot {snap.snapshot_id} is stale: the table "
                f"moved to {last} after it was staged"
            )
        snap.committed_at = time.time()
        self._write_manifest(entries + [snap])
        return snap

    def discard(self, snap: Snapshot) -> None:
        """Delete a staged snapshot's data files (never published)."""
        shutil.rmtree(self._snap_path(snap), ignore_errors=True)

    def commit(self, df: "DataFrame", run_id: str) -> Snapshot | None:
        """Write df as a new snapshot; no-op if run_id already committed."""
        snap = self.stage(df, run_id)
        return None if snap is None else self.publish(snap)

    def _snap_path(self, s: Snapshot) -> str:
        return str(self.data_dir / f"snap-{s.snapshot_id:06d}-{s.run_id}")

    def _scan(self, spark: "SparkSession", snaps: list[Snapshot]) -> "DataFrame":
        """Read the snapshots' data files, with their recorded schema when
        they all record the same one (no inference job), else inferred."""
        from pyspark.sql.types import StructType

        reader = spark.read
        schemas = [s.schema for s in snaps]
        if schemas[0] is not None and all(x == schemas[0] for x in schemas):
            reader = reader.schema(StructType.fromJson(schemas[0]))
        return reader.parquet(*[self._snap_path(s) for s in snaps])

    # -- read -------------------------------------------------------------
    def read(
        self, spark: "SparkSession", as_of: int | None = None
    ) -> "DataFrame | None":
        """Union of all live committed snapshots (optionally up to
        ``as_of``). Returns None for an empty table. Time-traveling to an
        ``as_of`` older than a compaction raises (same contract as
        read_snapshot) — silently returning None would be
        indistinguishable from an empty table."""
        all_snaps = self.snapshots()
        snaps = [s for s in all_snaps if not s.expired]
        if as_of is not None:
            # the view at as_of is reconstructible iff every expired
            # snapshot <= as_of is REPRESENTED by a compaction rewrite
            # that is itself <= as_of (the rewrite contains its rows);
            # an expired snapshot whose covering compaction lies beyond
            # as_of puts the view past the retention horizon
            compact_ids = sorted(
                s.snapshot_id for s in all_snaps if s.kind == "compact"
            )
            for s in all_snaps:
                if not s.expired or s.snapshot_id > as_of:
                    continue
                cover = next(
                    (c for c in compact_ids if c > s.snapshot_id), None
                )
                if cover is None or cover > as_of:
                    raise KeyError(
                        f"as_of={as_of} reaches snapshot {s.snapshot_id}, "
                        "expired by a later compaction — time travel past "
                        "the retention horizon"
                    )
            snaps = [s for s in snaps if s.snapshot_id <= as_of]
        if not snaps:
            return None
        return self._scan(spark, snaps)

    def read_snapshot(self, spark: "SparkSession", snapshot_id: int) -> "DataFrame":
        """Read exactly one snapshot's files (the incremental-read analog)."""
        for s in self.snapshots():
            if s.snapshot_id == snapshot_id:
                if s.expired:
                    raise KeyError(
                        f"snapshot {snapshot_id} expired by compaction — "
                        "time travel past the retention horizon"
                    )
                return self._scan(spark, [s])
        raise KeyError(f"snapshot {snapshot_id} not found")

    def read_staged(self, spark: "SparkSession", snap: Snapshot) -> "DataFrame":
        """Read a staged (not yet published) snapshot's files."""
        return self._scan(spark, [snap])

    def read_since(
        self, spark: "SparkSession", after_snapshot_id: int
    ) -> "DataFrame | None":
        """Incremental read: union of APPEND snapshots committed after the
        given id (Iceberg incremental-scan analog; replaces the reference's
        consume-from-committed-offset, kafka_background_service.py:60-92).
        A downstream consumer persists the last snapshot id it processed
        and calls this to get exactly the delta. ``compact`` snapshots are
        skipped — they rewrite already-delivered rows, not new data; run
        compaction only after downstream consumers have passed the expired
        ids (standard retention discipline)."""
        snaps = [
            s
            for s in self.snapshots()
            if s.snapshot_id > after_snapshot_id
            and s.kind == "append"
            and not s.expired
        ]
        if not snaps:
            return None
        return self._scan(spark, snaps)

    def current_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return snaps[-1].snapshot_id if snaps else 0

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots /
    # remove_orphan_files analogs) -----------------------------------------
    def compact(self, spark: "SparkSession") -> Snapshot | None:
        """Rewrite all live data into ONE snapshot and expire the olds —
        the small-files maintenance a 10^12-row table needs (thousands of
        incremental commits otherwise degrade every scan's planning and
        open-file cost). Old ENTRIES stay in the manifest (expired=True):
        committed_run_ids never forgets, so a replayed old run_id is still
        a no-op after compaction. Time travel to expired ids raises."""
        entries = self.snapshots()
        live = [s for s in entries if not s.expired]
        if len(live) <= 1:
            return None
        snap = self.stage(
            self._scan(spark, live), f"compact-{entries[-1].snapshot_id + 1}"
        )
        snap.kind = "compact"
        snap.committed_at = time.time()
        for s in live:
            s.expired = True
        self._write_manifest(entries + [snap])  # visibility flip FIRST
        for s in live:  # then reclaim the expired data dirs
            shutil.rmtree(self._snap_path(s), ignore_errors=True)
        return snap

    def remove_orphans(self, min_age_seconds: float = 86400.0) -> list[str]:
        """Delete data dirs no manifest entry references — the leftovers of
        commits that died before their manifest flip (invisible by design;
        this reclaims the space, Iceberg remove_orphan_files analog).

        ``min_age_seconds`` guards the commit race exactly like Iceberg's
        mandatory older-than timestamp: a commit IN FLIGHT has written its
        data dir but not yet flipped the manifest — deleting young dirs
        would destroy it. Only dirs untouched for at least this long are
        reclaimed (default 24h)."""
        referenced = {
            Path(self._snap_path(s)).name
            for s in self.snapshots()
            if not s.expired
        }
        cutoff = time.time() - min_age_seconds
        removed: list[str] = []
        for d in sorted(self.data_dir.iterdir()):
            if (
                d.is_dir()
                and d.name not in referenced
                and d.stat().st_mtime < cutoff
            ):
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d.name)
        return removed
