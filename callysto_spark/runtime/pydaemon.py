"""The engine's PySpark worker daemon.

Spark starts ``python -m <spark.python.daemon.module> pyspark.worker``
and forks every Python worker from that process; ``get_spark`` names this
module. It is ``pyspark.daemon`` plus one change to the import machinery,
which every forked worker inherits.

Every task runs ``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (first on their ``PYTHONPATH``;
about 1.3k entries, no ``.pyc``). On CPython 3.11 that call makes every
cached ``zipimporter`` — one per imported pyspark sub-package — re-read
the archive's whole central directory (CPython 3.13 made it lazy). Over
14 importers that is 64-83 ms on an idle 4-core host and 0.16-0.37 s
inside loaded workers, paid on every task of every micro-batch.

:func:`install` makes an importer re-read its archive only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from what that
importer last read, so a rewritten archive (an ``addPyFile`` zip shipped
again) is still seen.

Spark starts the daemon with ``python -m``, so the workers must be able
to import the engine: ``get_spark`` puts its directory on their
``PYTHONPATH``. On a cluster the package must be installed on the
executors, as the table-agent functions already need.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# The archive stamp an importer last read its directory at.
_STAMP = "_callysto_archive_stamp"


def _archive_stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` so that an importer
    skips the re-read while its archive is unchanged. Idempotent."""
    stock = zipimport.zipimporter.invalidate_caches
    if stock.__module__ == __name__:
        return

    def invalidate_caches(self):
        # stat before the read: an archive replaced in between is read
        # again next time instead of being taken as up to date
        stamp = _archive_stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        stock(self)
        setattr(self, _STAMP, stamp)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # ``-m`` runs this file as ``__main__``; install from the named module
    # so the wrapper reports the engine module as its ``__module__``.
    from callysto_spark.runtime import pydaemon

    pydaemon.install()
    from pyspark.daemon import manager

    # Stamp the importers the daemon holds (pyspark.worker is imported by
    # now); forked workers inherit the stamps and skip even their first
    # task's re-read.
    importlib.invalidate_caches()
    manager()
