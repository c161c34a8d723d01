"""The engine's Python worker daemon: ``pyspark.daemon`` with lazy
zip-importer invalidation.

Spark starts Python workers from ``$SPARK_HOME/python/lib/pyspark.zip``,
which it always puts first on the worker ``PYTHONPATH``, and
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task. On CPython < 3.12 that
makes every cached ``zipimporter`` re-read its archive's central
directory at once: one importer per imported pyspark subpackage, each
re-reading the zip's 1328 entries. With a worker's imports loaded (14
zip importers) one call took 91-157 ms, more than the kernels
themselves spend in Python. Measured on 4 cores (the lanes at
sf0.1), per task before -> after this daemon: a 1-row ``mapInArrow``
job 0.31-0.34 s -> 0.11-0.16 s, a 1-row RDD map 0.28-0.31 s ->
0.09-0.12 s, the task run time of d08's kernel stage 217-295 ms ->
80-97 ms and of s11's 163-272 ms -> 28-40 ms.

The daemon swaps ``zipimporter.invalidate_caches`` for ``_lazy_invalidate``
and then runs ``pyspark.daemon.manager()``, so every forked worker
inherits it. An archive's directory is re-read only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken at its last
re-read in this process; otherwise the importer re-binds the directory
already in ``zipimport._zip_directory_cache`` (a rewrite to the same
size within one mtime tick goes unseen). The first invalidation
of an archive re-reads it once and takes the stamp; the daemon does
that before it forks. A rewritten archive is still re-read, a missing
one falls back to the stock method, and ``FileFinder`` invalidation and
the importers of new ``sys.path`` entries (an ``addPyFile`` zip) are
untouched. CPython 3.12 repopulates the zip cache lazily upstream
(gh-103200), so there the daemon changes nothing.

``session.DAEMON_MODULE`` names this module as
``spark.python.daemon.module`` in ``get_spark`` and ``CLUSTER_PRESET``.
The worker Python must import it at daemon start, as it must import
the package's kernels: from the working directory locally, from the
executor environment on a cluster. The conf is static, so a session
handed over through ``configure_existing`` keeps the stock daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}
# archive -> directory re-reads in this process (a forked worker
# inherits the daemon's count)
rereads: dict[str, int] = {}


def _lazy_invalidate(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _stock_invalidate(self)
    rereads[self.archive] = rereads.get(self.archive, 0) + 1
    _stamps[self.archive] = stamp


def install() -> None:
    """Make zip-importer invalidation lazy (Python < 3.12 only)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _lazy_invalidate


def uninstall() -> None:
    """Put the stock invalidation back and forget every stamp."""
    zipimport.zipimporter.invalidate_caches = _stock_invalidate
    _stamps.clear()


if __name__ == "__main__":
    import importlib

    # install through the importable instance, the one kernels see
    from etl_sql_and_pyspark_developement__spark import worker_daemon

    worker_daemon.install()
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
