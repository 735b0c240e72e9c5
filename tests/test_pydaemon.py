"""The local Python worker daemon: zipimport's stat-guarded cache re-read."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from filtered_ads_vector_search_spark import _pydaemon

guarded_only = pytest.mark.skipif(
    not _pydaemon.GUARDED, reason="CPython >= 3.13 re-reads zip archives lazily"
)


@pytest.fixture
def fresh_guard(monkeypatch):
    """Install the guard into this process for one test, then undo it, and
    count the archive directory reads made meanwhile."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pydaemon, "_read_at", {})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@guarded_only
def test_repeat_invalidate_skips_unchanged_archive(tmp_path, fresh_guard):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"favs_zip_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    fresh_guard.clear()

    assert _pydaemon.install() and _pydaemon.install()  # idempotent
    importer.invalidate_caches()
    assert fresh_guard == [archive]  # first call: read once, stat recorded
    for _ in range(3):
        importer.invalidate_caches()
    assert fresh_guard == [archive]  # unchanged archive: no further reads
    assert importer._files is zipimport._zip_directory_cache[archive]


@guarded_only
def test_rewritten_archive_is_reread(tmp_path, fresh_guard, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    first, second = f"favs_zip_first_{tag}", f"favs_zip_second_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    _pydaemon.install()
    assert importlib.import_module(first).VALUE == 1
    importlib.invalidate_caches()  # re-read once, stat recorded
    importlib.invalidate_caches()  # unchanged: no read
    assert fresh_guard.count(archive) == 2  # the zipimporter's own read + one

    _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(second).VALUE == 2
    assert fresh_guard.count(archive) == 3

    # a deleted archive falls through to zipimport's own handling
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert archive not in _pydaemon._read_at
    assert archive not in zipimport._zip_directory_cache
    for name in (first, second):
        sys.modules.pop(name, None)


def test_inert_when_not_guarded(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(_pydaemon, "GUARDED", False)
    assert _pydaemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is original


def test_local_session_worker_runs_guard(spark):
    """A mapInArrow task's worker runs the guarded invalidate_caches: its
    daemon read the archives once, and a task re-reads none of them."""
    assert spark.conf.get("spark.python.daemon.module") == _pydaemon.__name__

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        from filtered_ads_vector_search_spark import _pydaemon as daemon

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "guarded": [guarded],
                "tracked": [sorted(daemon._read_at)],
                "reads": [len(reads)],
            }
        )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "guarded boolean, tracked array<string>, reads long")
        .collect()
    )
    assert row["guarded"] == _pydaemon.GUARDED
    if _pydaemon.GUARDED:
        assert any(a.endswith("pyspark.zip") for a in row["tracked"]), row["tracked"]
        assert row["reads"] == 0


def test_add_py_file_still_importable(spark, tmp_path):
    """An addPyFile zip that appears after the daemon started is read by the
    workers and its modules import."""
    from pyspark.sql import functions as F

    name = f"favs_pyfile_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("long")
    def plus_value(x):
        return importlib.import_module(name).VALUE + x

    (row,) = spark.range(1, numPartitions=1).select(plus_value("id").alias("v")).collect()
    assert row["v"] == 41
