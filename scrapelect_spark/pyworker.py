"""Spark's Python daemon for this package (``spark.python.daemon.module``).

Before every task PySpark's worker calls ``importlib.invalidate_caches()``.
On CPython 3.11 that makes each ``zipimporter`` on the worker path
(pyspark.zip and the spark-core jar, one importer per cached package
entry) re-read its whole archive directory, 0.16-0.36 s per task (see
``session.py``).  Run as ``__main__``, this module makes
``invalidate_caches`` re-read an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken when that importer
instance last read it, then hands over to the stock
``pyspark.daemon.manager()``.  The stamp is kept per instance, not per
path, because each importer of one archive keeps its own ``_files``.
Importing the module anywhere else patches nothing.
"""

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    # stat before the read: an archive rewritten during it differs next time
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # unreadable: always take the stock path
    if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
        _stock_invalidate(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

    from pyspark.daemon import manager

    manager()
