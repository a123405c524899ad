"""PySpark's worker daemon, re-reading a zip import only when it changed.

The worker calls ``importlib.invalidate_caches()`` before every task.  On
Python 3.11 and 3.12 that makes each cached ``zipimporter`` re-read its
whole archive directory: 16 reads per task over pyspark.zip (1328
entries) and py4j's zip, about half of a no-op task's cost.  Here an
importer re-reads only when the archive's (mtime, size) differs from
what it last read, or cannot be stat'ed.  Python 3.13 only drops the
cache, so it is left alone.
``session.get_spark`` runs this module as ``spark.python.daemon.module``.
"""

import os
import sys
import zipimport


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
    self._stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark.daemon import manager

    manager()
