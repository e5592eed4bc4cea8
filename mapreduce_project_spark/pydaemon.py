"""PySpark's Python daemon, with each zip archive re-read only when it
changes. ``session.get_spark`` names it in ``spark.python.daemon.module``.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``), and on CPython before
3.13 that makes every ``zipimporter`` re-parse its archive's whole
directory. See ``session.py`` for what that costs.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_as: dict[str, tuple[int, int, int]] = {}  # archive -> its stat when last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_as.get(self.archive) == stamp:
        self._files = files  # another importer over this archive may have re-read it
    else:
        # stamp before reading: a write in between only costs one more read
        _read_as[self.archive] = stamp
        _reread(self)


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read each archive here once; forked workers inherit it
    daemon.manager()
