"""Per-process setup for the Python workers that run this package's stages.

PySpark's ``worker.py`` calls ``importlib.invalidate_caches()`` at the
start of every task (``setup_spark_files``).  Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory at once, and a worker's ``sys.path_importer_cache``
holds one zip importer per archive *and* package prefix (Spark's core
jar, ``jar/org``, ``pyspark.zip``, ``pyspark.zip/pyspark``, ...), so a
reused worker pays 0.1-0.2 s per task re-reading files that have not
changed.  Python 3.13 made the re-read lazy.

``install()`` replaces that method, on Python < 3.13 and inside a Spark
task only, with a stat-checked one: when the archive's
``(st_mtime_ns, st_ctime_ns, st_size, st_ino)`` equals the stamp taken
at its last read and ``zipimport._zip_directory_cache`` still holds the
archive, the cached file table is reused; otherwise the stock method
runs and the new stamp is recorded.  An archive that changes or
disappears behaves exactly as with the stock method.

The hook serves any session whose workers import this package, and
matters where they import pyspark from Spark's archives: sessions the
package does not build, such as a harness passing its own ``spark``,
run Spark's stock daemon.  Sessions built by ``get_spark`` start their
daemon through ``_daemon.py``, which takes the archives off the
workers' path when an installed pyspark of the same release exists;
their workers then have no Spark zip importer for the hook to skip.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp taken just before its last directory read;
# per process, like zipimport's own _zip_directory_cache it vouches for
_stamps: dict[str, tuple[int, int, int, int]] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)


def _stat_checked_invalidate(self) -> None:
    """Reload the archive's file table only if the archive changed."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    # stamp taken BEFORE the read: a change during the read shows next time
    _stock_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> bool:
    """Install the stat-checked zip invalidation in a Spark worker.

    Idempotent, and a no-op on the driver (no ``TaskContext``; a
    process that has not loaded pyspark runs no task) and on
    Python >= 3.13.  Returns whether the hook is in place.
    """
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return False
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return False
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate
    return True
