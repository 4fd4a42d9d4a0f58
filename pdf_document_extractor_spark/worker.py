"""Python-worker set-up shared by the package's UDF bodies.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``) so that files shipped with the task
are found. Since Python 3.10 that call makes every ``zipimporter`` re-read
its whole archive's directory, and a Spark worker holds one per package
prefix it imported from ``pyspark.zip`` plus the py4j zip's: 16 importers,
~75 ms per task on a 4-vCPU host, paid before the UDF body runs.

``guard_zip_imports`` makes that re-read conditional on the archive having
changed. Every UDF body of the package calls it first; it installs once
per worker process and never in the driver.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport

# None before Python 3.10: the stock call re-reads no archive there
_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
# importer -> its archive's (st_mtime_ns, st_size) when it last read it
_read_stamp: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(importer) -> None:
    stamp = _stamp(importer.archive)
    if stamp is None or _read_stamp.get(importer) != stamp:
        # stamped before the read: a rewrite during it is re-read next time
        _read_stamp[importer] = stamp
        _reread(importer)


def guard_zip_imports() -> None:
    """Make ``importlib.invalidate_caches()`` skip unchanged zip archives
    in this Python worker.

    Replaces ``zipimporter.invalidate_caches``, whose Python >= 3.10 body
    re-reads the archive's directory, with a stat check: an importer whose
    archive's ``(st_mtime_ns, st_size)`` is the one it last read keeps its
    directory; any other is re-read as before. That is the same staleness
    test Python applies to its own bytecode cache, at nanosecond instead
    of second precision. ``importlib.invalidate_caches`` itself stays the
    stock function, so every other finder is still invalidated, and a new
    ``sys.path`` entry (a ``--py-files`` zip, the SparkFiles directory)
    has no cached importer yet and is found as before.

    The importers that exist at install are stamped as read now: the
    install runs in a UDF body, right after the task's set-up re-read
    every archive. A fresh worker's first task therefore still pays the
    full re-read once; its later tasks do not.

    Idempotent and cheap once installed. A no-op outside a Spark task, so
    a body called in the driver (a test, a local oracle) changes nothing
    there.
    """
    if _reread is None or zipimport.zipimporter.invalidate_caches is not _reread:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _read_stamp[finder] = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
