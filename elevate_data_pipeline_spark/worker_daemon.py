"""Python worker daemon that does not re-read zip archives on every task.

``session.get_spark`` runs this module as the Python worker daemon
(``spark.python.daemon.module``). It changes one thing before handing
over to ``pyspark.daemon.manager()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
and 3.12 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory at once. A worker holds about
16 of them, over ``pyspark.zip``, the py4j zip and the spark-core jar:
some 26.7k directory entries parsed per task, about 0.24 s of CPU on a
4-core VM before the task does any work. (CPython 3.13 makes the
re-read lazy.)

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from when that importer last read it,
so a file shipped again with ``addPyFile`` is still picked up. The
importers the daemon already holds are stamped before any worker forks.

Nothing here may write to stdout: the daemon reports its port there.
"""

from __future__ import annotations

import os
import sys
import zipimport

_UNSTAMPED = object()
_read_archive = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _archive_stamp(self.archive)
    if stamp == getattr(self, "_edp_stamp", _UNSTAMPED):
        return
    # stat before the read: a change racing the read is seen next time
    _read_archive(self)
    self._edp_stamp = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp the importers that exist now."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._edp_stamp = _archive_stamp(imp.archive)


if __name__ == "__main__":
    # import pyspark.daemon (and with it pyspark.worker) first, so the
    # importers those imports create are stamped too
    from pyspark.daemon import manager

    install()
    manager()
