"""Python worker daemon for local sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and on Python 3.11 each cached ``zipimporter`` answers by re-reading its
archive's central directory. Every package directory inside
``$SPARK_HOME/python/lib/pyspark.zip`` has its own importer, so each task
re-parses that archive once per importer before any user code runs.

This daemon patches the method once; every worker it forks inherits the
patch. An importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` changed since that importer last read it, so
archives that change or appear (``addPyFile``) are still picked up. The
daemon stamps the importers it already holds before it hands off to
PySpark's own daemon loop, so forked workers start with them read.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(importer.archive)
    except OSError:  # gone: the stock method drops the importer's entries
        _reread(importer)
        return
    sig = (st.st_mtime_ns, st.st_size)
    if getattr(importer, "_read_signature", None) != sig:
        _reread(importer)
        importer._read_signature = sig


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed

    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
