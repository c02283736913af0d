"""PySpark worker daemon that re-reads a zip archive only when it changed.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Each Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and before CPython 3.13 that
makes every ``zipimporter`` re-read its archive's central directory:
pyspark.zip, the py4j zip and the spark-core jar, once per importer. Here
an importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from the last read; otherwise it takes the directory that read
left in ``zipimport._zip_directory_cache``. The patch is installed before
the daemon forks, so every worker inherits it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def stat_validated(invalidate):
    """``invalidate`` (a ``zipimporter.invalidate_caches``), run only when
    the importer's archive changed since this wrapper last read it."""
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and files is not None:
            self._files = files
            return
        stamps[self.archive] = stamp  # taken before the read it describes
        invalidate(self)

    invalidate_caches.stat_validated = True
    return invalidate_caches


if __name__ == "__main__":
    import importlib

    if sys.version_info < (3, 13):  # 3.13 reads zip directories lazily
        cls = zipimport.zipimporter
        cls.invalidate_caches = stat_validated(cls.invalidate_caches)
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp every archive once, before the fork
    daemon.manager()
