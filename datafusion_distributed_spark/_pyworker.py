"""Stop Python workers from re-reading zip archives' directories on every task.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``, ``setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` eagerly re-parses the whole
central directory of its archive, and a worker holds one zipimporter per
package directory it has imported from the zips and jars on its path: 16 in a
Spark 4.1 worker that has run one ``mapInPandas`` function of this package
(12 over ``pyspark.zip``, 2 over py4j's zip, 2 over the spark-core jar),
~26.7k directory entries in all. On a 4-vCPU Xeon that is ~0.27 s of CPU per
task before its UDF runs (13 ms per read of pyspark.zip, 58 ms per read of
the jar), several times the body of a small pandas UDF. CPython 3.13 made
the call lazy (it only drops the cached directory), so nothing is installed
there.

``install()`` wraps the method: while an archive's ``(st_mtime_ns, st_size,
st_ino)`` is unchanged since its directory was last read, the directory in
``zipimport._zip_directory_cache`` is reused; otherwise the stdlib method
runs. The stat is taken before the read, so an archive rewritten during a
read is read again on the next call. Every worker that unpickles a function
of this package imports the package first, so each later task in that worker
is covered; the task that first imports the package still pays once.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches

# Held from the stat to the stamp, so that two threads re-reading one archive
# cannot leave an older directory cached under a newer stamp.
_lock = threading.Lock()
# archive path -> stat stamp taken just before its cached directory was read
_stamps: dict[str, tuple[int, int, int]] = {}
# directories re-read by the stdlib method since install (for tests and probes)
rereads = 0


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _refresh(importer: zipimport.zipimporter, stamp: tuple[int, int, int] | None) -> None:
    """Re-read ``importer``'s archive with the stdlib and record ``stamp``."""
    _STDLIB_INVALIDATE(importer)
    if stamp is not None and importer.archive in zipimport._zip_directory_cache:
        _stamps[importer.archive] = stamp
    else:
        _stamps.pop(importer.archive, None)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the file data of the archive path, unless the archive is unchanged."""
    global rereads
    with _lock:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        rereads += 1
        _refresh(self, stamp)


def active() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once per process on CPython < 3.13.

    Directories already cached are read once more here, stamped, so that
    none is trusted from before its stamp. Returns whether the wrapper is
    active."""
    if sys.version_info >= (3, 13) or active():
        return active()
    with _lock:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        for archive in list(zipimport._zip_directory_cache):
            try:
                importer = zipimport.zipimporter(archive)
            except zipimport.ZipImportError:  # gone since it was read
                continue
            _refresh(importer, _stamp(archive))
    return True


def worker_report(batches):
    """``mapInPandas`` body: one row per batch saying, from inside the Python
    worker, whether the wrapper is active and how many directories it has
    re-read since install."""
    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"active": [active()], "rereads": [rereads]})
