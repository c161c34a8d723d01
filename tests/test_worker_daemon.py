"""The engine's worker daemon: lazy zip-importer invalidation, in this
process and in the session's Python workers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from etl_sql_and_pyspark_developement__spark import session, worker_daemon

LAZY = sys.version_info < (3, 12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(not LAZY, reason="CPython >= 3.12 invalidates zip caches lazily")
def test_lazy_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    extra = str(tmp_path / "extra.zip")
    _write_zip(archive, ["mod_a"])
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    worker_daemon.install()
    sys.path.insert(0, archive)
    try:
        assert zipimport.zipimporter.invalidate_caches is worker_daemon._lazy_invalidate
        assert importlib.import_module("mod_a").NAME == "mod_a"
        importlib.invalidate_caches()  # the first invalidation takes the stamp
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)

        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, ["mod_a", "mod_b"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("mod_b").NAME == "mod_b"

        # a new sys.path entry still gets a fresh importer
        _write_zip(extra, ["mod_c"])
        sys.path.insert(0, extra)
        importlib.invalidate_caches()
        assert importlib.import_module("mod_c").NAME == "mod_c"

        # a deleted archive falls back to the stock method
        (tmp_path / "mods.zip").unlink()
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert sys.path_importer_cache[archive]._files == {}
    finally:
        worker_daemon.uninstall()
        for p in (archive, extra):
            if p in sys.path:
                sys.path.remove(p)
            sys.path_importer_cache.pop(p, None)
            zipimport._zip_directory_cache.pop(p, None)
        for m in ("mod_a", "mod_b", "mod_c"):
            sys.modules.pop(m, None)
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._stock_invalidate


def test_session_factories_share_the_daemon_module(spark):
    assert session.DAEMON_MODULE == worker_daemon.__name__
    assert session.CLUSTER_PRESET["spark.python.daemon.module"] == session.DAEMON_MODULE
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session.DAEMON_MODULE


def test_workers_stop_rereading_pyspark_zip(spark):
    """A reused worker re-reads pyspark.zip's directory at most once in
    its life: the count a 1-row kernel reports stays put across jobs."""

    def probe(batches):
        import zipimport

        import pyarrow as pa
        import pyspark

        from etl_sql_and_pyspark_developement__spark import worker_daemon as wd

        archive = getattr(pyspark.__spec__.loader, "archive", None)
        lazy = zipimport.zipimporter.invalidate_caches is wd._lazy_invalidate
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "archive": [archive],
                    "lazy": [lazy],
                    "rereads": [wd.rereads.get(archive, 0)],
                }
            )

    df = spark.range(1, numPartitions=1)
    rows = [
        df.mapInArrow(probe, "archive string, lazy boolean, rereads long").collect()[0]
        for _ in range(3)
    ]
    assert all(r.archive.endswith("pyspark.zip") for r in rows)
    if LAZY:
        assert all(r.lazy for r in rows)
    counts = [r.rereads for r in rows]
    assert counts[0] <= 1
    assert counts[1:] == counts[:1] * 2
