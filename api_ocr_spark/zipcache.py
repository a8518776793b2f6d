"""Stat-keyed reuse of zip-archive directories across import-cache invalidation.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py:setup_spark_files``). Before Python
3.13, ``zipimport.zipimporter.invalidate_caches`` answers that by re-reading
the archive's whole central directory, eagerly, once per importer instance.
A Spark 4.1 worker holds one instance per loaded sub-package of
``pyspark.zip`` (1,328 entries; 12 instances), one for the py4j zip and two
for the Spark core jar (5,359 entries): 135-290 ms of CPU per task, measured
inside the workers on a 4-core x86 VM, spent re-reading archives that do not
change while the worker lives.

``install()`` replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken
just before the last read; otherwise the importer re-binds the directory
already in ``zipimport._zip_directory_cache``. A rewritten archive is still
re-read at the next invalidation, so what imports can see matches Python
3.13, whose invalidation is lazy (the next lookup re-reads). From 3.13 on
nothing is patched.

Installed from the package ``__init__``: every engine UDF body imports the
package, so each worker is patched by its first engine task and pays the
re-read once per archive, not once per importer per task.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stamp taken before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}
_original = None


def _invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive changed."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _stamps.pop(archive, None)
    _original(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; idempotent.

    Returns whether the stat-keyed version is in place (False from 3.13 on).
    """
    global _original
    if sys.version_info >= (3, 13):
        return False
    current = zipimport.zipimporter.invalidate_caches
    if current is _invalidate_caches:
        return True
    _original = current
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
