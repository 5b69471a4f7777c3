"""Stat-gated zip directory cache for Python workers (Python < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``).  Before
Python 3.13, each cached ``zipimport.zipimporter`` answers by re-parsing
the whole central directory of its archive, and a warm worker holds one
importer per imported subpackage of ``pyspark.zip`` (16 over its 1,328
entries).  That re-parse is almost all of the ~0.2 s fixed set-up cost
of every Python task; Spark shows it as the ``time to initialize Python
workers`` SQL metric.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-parses an archive only when its stat identity ``(st_mtime_ns,
st_size, st_ino)`` differs from the one taken just before its last parse.
The parsed directory is shared by every importer of the same archive, so
a changed archive is read once per invalidation, not once per importer.
A zip that is rewritten or replaced on disk is re-read exactly as before;
the identity is taken before the parse, so a change that races the parse
shows at the next call.

The package imports this module, so it runs in every Python worker that
unpickles one of our functions (local, ``spark-submit --py-files`` or a
cluster), and worker reuse keeps it for every later task.  Python 3.13
made the invalidation lazy, so there it installs nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat identity taken before the parse, parsed directory)
_parsed: dict[str, tuple[tuple[int, int, int], dict]] = {}
_original = zipimport.zipimporter.invalidate_caches
# Re-executing this module after install() must still wrap the original.
_original = getattr(_original, "__wrapped__", _original)


def _identity(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    archive = self.archive
    ident = _identity(archive)
    hit = _parsed.get(archive)
    if ident is not None and hit is not None and hit[0] == ident:
        self._files = zipimport._zip_directory_cache[archive] = hit[1]
        return
    _parsed.pop(archive, None)
    _original(self)
    # The original drops the archive from the cache when it cannot read
    # it; only a successful parse is remembered.
    if ident is not None and archive in zipimport._zip_directory_cache:
        _parsed[archive] = (ident, self._files)


invalidate_caches.__wrapped__ = _original


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.13 only)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
