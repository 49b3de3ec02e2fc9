"""Per-task cost of a PySpark Python worker: the zip-directory refresh.

Before every task, pyspark's worker calls `importlib.invalidate_caches()`
(`setup_spark_files`). On Python 3.10-3.12 that makes every zipimporter
re-read its whole archive directory at once: 14-16 importers over the
1,328-entry `pyspark.zip`, 132-164 ms per task on 3.11.7 (4-vCPU VM).
Python 3.13 made the refresh lazy, which costs nothing.

`install_in_worker` wraps the eager method so that an importer re-reads
its archive only when the archive's (mtime, size, inode) changed since
that importer last read it. A first refresh, a rewritten archive and an
archive that cannot be stat'ed all go through the stock method, so they
behave exactly as before. It runs from the package import, acts only in a
Python worker process, only once, and never on the lazy method.
"""

import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    # stat before the read: an archive rewritten during the read differs
    # from the recorded key at the next refresh and is read again
    try:
        st = os.stat(self.archive)
        key = st.st_mtime_ns, st.st_size, st.st_ino
    except OSError:
        key = None
    if key is None or key != getattr(self, "_cbsp_archive_stat", None):
        _STOCK_INVALIDATE(self)
    self._cbsp_archive_stat = key


def install_in_worker() -> None:
    # the daemon-forked worker has imported pyspark.worker; the driver has not
    if (
        "pyspark.worker" in sys.modules
        # 3.13+: the stock refresh is lazy (it reads on the next lookup)
        and not hasattr(zipimport.zipimporter, "_get_files")
        and zipimport.zipimporter.invalidate_caches is _STOCK_INVALIDATE
    ):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
