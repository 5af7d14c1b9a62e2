"""Python worker daemon for the engine's sessions: PySpark's daemon,
with zip archives on the worker's path re-read only when they changed.

`session.get_spark` names this module in `spark.python.daemon.module`,
so Spark starts it as `python -m core_telecoms_etl_spark._pydaemon` in
place of `pyspark.daemon`. Every Python task begins with
`importlib.invalidate_caches()` (`pyspark.worker_util.setup_spark_files`),
so that files added to the worker's path since the last task become
importable. Under CPython 3.11 each `zipimport.zipimporter` then parses
its archive's whole central directory again, in pure Python: the
worker's path holds pyspark.zip, the py4j zip and the spark-core jar
(5k entries, no Python), spread over ~16 importers, and the re-reads
cost ~200 ms per task. Here an importer re-reads its archive only when
the archive's (st_mtime_ns, st_size) differs from the stamp taken just
before the read now cached for it, so a rewritten archive is still read
again, and an unchanged one is not.

Importing this module changes nothing; only running it as the daemon
replaces `zipimport.zipimporter.invalidate_caches`.
"""

from __future__ import annotations

import importlib
import os
import zipimport


class _Directory(dict):
    """An archive's directory as zipimport reads it, with the archive's
    (st_mtime_ns, st_size) taken just before the read."""

    __slots__ = ("stamp",)


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that reads the archive again only
    when it changed since the read cached for it. The stamp is taken
    before the read, so an archive rewritten during the read looks
    changed at the next call and is read again. All importers of one
    archive share the cached directory, as zipimport's own cache does."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and getattr(cached, "stamp", None) == stamp:
        self._files = cached
        return
    try:
        files = _Directory(zipimport._read_directory(self.archive))
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}
        return
    files.stamp = stamp
    self._files = zipimport._zip_directory_cache[self.archive] = files


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the archives the daemon has opened, so the workers it forks
    # inherit current directories instead of each reading them once
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
