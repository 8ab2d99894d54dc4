"""Python worker daemon for the engine's SparkSession.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.  It
runs ``pyspark.daemon`` unchanged after one patch: every task calls
``importlib.invalidate_caches()``, and on CPython 3.11/3.12 each zip importer
then re-parses its archive's whole central directory (pyspark.zip, the py4j
zip, the Spark jar).  Here an importer re-reads its archive only when the
file's stat changed since it last read it.  Workers fork from the daemon and
inherit the patch.

This module imports nothing from the engine package: every forked worker
would carry those imports in its memory.
"""

from __future__ import annotations

import os
import weakref
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _original_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    if _read_at.get(self) != stamp:
        _original_invalidate(self)
        _read_at[self] = stamp


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches

    from pyspark.daemon import manager

    # Record every archive once here, so forked workers inherit the stamps.
    importlib.invalidate_caches()
    manager()
