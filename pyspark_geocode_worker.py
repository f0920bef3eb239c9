"""The engine's Python worker: ``pyspark.worker`` with a stat-guarded zip
directory cache.

`geocode_spark.session.get_spark` names this module in
``spark.python.worker.module``. ``pyspark.daemon`` imports it once, before
it forks any worker, so every worker runs its first task with the guard
installed. The daemon honours only module names that start with
``pyspark``, hence the name.

Why: before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, so that a zip shipped with ``addPyFile``
mid-session becomes importable. Under CPython 3.11 that makes every
``zipimport.zipimporter`` re-read its archive's central directory: the ~14
importers that serve packages of pyspark.zip each parse its 1,328 entries
again, about 0.25 CPU-s per task in a worker that has run a pandas UDF.

What the guard keeps: an importer re-reads its archive only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` differ from the ones taken
before its last read, or when the archive has no entry in
``zipimport._zip_directory_cache``. Otherwise it re-binds the cached
directory, which is what the stock method would have read. A zip that is
added or replaced in place is read again as before; an unchanged one is
not. ``scripts/zipimport_probe.py`` measures the stock and the guarded
form, so an upgrade that fixes this upstream shows there, and this module
can then go.
"""

import os
import runpy
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its stat signature, taken just before its last read
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches`, re-reading the archive only if it
    changed since its directory was last read."""
    sig = _signature(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and cached is not None and _read_at.get(self.archive) == sig:
        self._files = cached
        return
    # the signature precedes the read: a change in between leaves an older
    # signature on record, so the next call reads again
    _stock_invalidate(self)
    _read_at[self.archive] = sig


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    # without the daemon (spark.python.use.daemon=false), Spark runs the
    # worker module as a script
    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark.worker import main  # noqa: F401  (the entry the daemon calls)
