"""pyspark's Python worker daemon, without the per-task re-read of
``pyspark.zip``.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts it (``python -m openset_spark.worker_daemon``) in place of
``pyspark.daemon``. It runs ``pyspark.daemon.manager()`` unchanged: it
forks the Python workers, and the workers run ``pyspark.worker``.

The one change. Every Python task starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()`` so that py-files added since the last
task can be imported. On CPython 3.11 and 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's whole
central directory at once, and a worker holds one zipimporter for each
package directory it imported from ``pyspark.zip`` (1,328 entries).
With the 14 importers of a worker that has imported ``pyspark.daemon``
and ``pyspark.sql.pandas``, the call took about 0.12 s on a 4-core
host, on every task. CPython 3.13 made that re-read lazy.

Here an archive is re-read only when its ``st_mtime_ns``, ``st_size``
or ``st_ino`` differs from what they were when it was last read. A new
or rewritten zip is still read, so added py-files still import. On
Python 3.13 and later nothing is changed.

The patch is installed only when this module runs as ``__main__``: in
the daemon and the workers it forks. Importing the module changes
nothing in the importing process.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (its stamp taken before the last read, the directory read)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it has changed since it was last read."""
    stamp = _stamp(self.archive)
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _eager_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _last_read[self.archive] = (stamp, self._files)
    else:
        _last_read.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process, then read
    each archive on the import path once, so that the workers forked
    later start with every archive's stamp."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
