"""Re-read a zip archive on ``importlib.invalidate_caches()`` only if it changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py``, after it adds the task's
``--py-files`` to ``sys.path``). Before Python 3.12,
``zipimport.zipimporter.invalidate_caches`` answers by eagerly re-reading
the central directory of its archive, and Spark itself puts two archives on
the worker's ``sys.path``: ``pyspark.zip`` (about 14 sub-package importers)
and the Spark core jar (2 more). Those re-reads cost 0.2-0.3 s of every
task of every Python UDF, far more than the UDF bodies of this package.

``install()`` records the archive's ``(st_mtime_ns, st_size)`` with every
directory read, and replaces the method with one that re-reads only when
the archive's stamp differs from its last read's. It always re-reads when
the archive cannot be stat'ed. Python 3.12 no longer re-reads eagerly, so
there ``install()`` does nothing.

The package root imports this module, and every UDF of the package
imports the package root when it is unpickled in a worker; workers are
reused across tasks, so every task after a worker's first skips the
re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read = zipimport._read_directory
_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp taken before the read, the file data it returned)
_last_read: dict = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    # stat before the read: a write during the read changes the stamp
    # again, so the next invalidation re-reads
    _last_read.pop(archive, None)
    stamp = _stamp(archive)
    files = _read(archive)
    if stamp is not None:
        _last_read[archive] = (stamp, files)
    return files


def invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    last = _last_read.get(self.archive)
    stamp = _stamp(self.archive)
    if last is None or stamp is None or last[0] != stamp:
        _reread(self)
    else:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = invalidate_caches
