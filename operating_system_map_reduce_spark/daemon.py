"""The session's Python worker daemon: pyspark's daemon, except that a
zip archive's directory is re-read only when the archive changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``), so that py-files and
archives shipped since the last task are seen.  Before Python 3.13 that
call makes every ``zipimporter`` re-read its archive's directory at
once.  A worker holds one importer for each package directory it
imported from ``pyspark.zip``, 14 of them, and the archive lists 1,328
entries: 0.12 s of CPU a task, 0.2-0.3 s in each of four tasks that
start together (4 vCPU, Python 3.11).  3.13 re-reads lazily and is
left alone.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from when its directory was last
read.  The rest of ``invalidate_caches`` is unchanged: the path
finders' directory caches are still cleared, and a new py-file or
archive on ``sys.path`` still gets a new importer.

``session.get_spark`` starts workers with ``python -m`` on this module
(``spark.python.daemon.module``).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    # stamped before the read: a write racing it is seen on the next call
    _reread(self)
    _read_at[self.archive] = stamp


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here, so forked workers start stamped
        importlib.invalidate_caches()
    daemon.manager()
