"""Session plumbing: the worker import guard, the package zip, the
per-process tmpfs scratch dir and the release scope."""

import importlib
import os
import shutil
import sys
import tempfile
import zipfile
import zipimport

import pandas as pd

from cs533_big_data_data_mining_spark.session import _skip_unchanged_zip_rereads


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zip_guard_rereads_only_changed_archive(tmp_path, monkeypatch):
    """An unchanged archive is not re-read; a rewritten one is, and its
    new module imports after ``importlib.invalidate_caches()``."""
    arc = str(tmp_path / "guarded.zip")
    _write_archive(arc, {"zip_guard_mod_a": "VALUE = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        _skip_unchanged_zip_rereads(zipimport.zipimporter.invalidate_caches),
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(arc)
    try:
        assert importlib.import_module("zip_guard_mod_a").VALUE == 1
        importer = sys.path_importer_cache[arc]
        assert isinstance(importer, zipimport.zipimporter)

        del reads[:]
        importlib.invalidate_caches()  # first call under the guard: reads
        importlib.invalidate_caches()  # unchanged: skipped
        importer.invalidate_caches()
        assert reads.count(arc) == 1

        _write_archive(arc, {"zip_guard_mod_a": "VALUE = 1\n", "zip_guard_mod_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(arc) == 2
        assert importlib.import_module("zip_guard_mod_b").VALUE == 2
        importlib.invalidate_caches()
        assert reads.count(arc) == 2

        # a missing archive goes through the original method every time
        os.remove(arc)
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert reads.count(arc) == 4
    finally:
        for name in ("zip_guard_mod_a", "zip_guard_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(arc, None)


def test_worker_import_guard_in_workers_only(spark):
    """Once the engine is imported in a worker task, ``invalidate_caches()``
    re-reads no archive there; the driver keeps the original method."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import cs533_big_data_data_mining_spark  # noqa: F401

        for _ in batches:
            pass
        importers = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        # an importer's first call under the guard reads, as before
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame({"importers": [importers], "reads": [len(reads)]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "importers long, reads long").head()
    # the engine itself reaches workers as a zip, so there is always one
    assert row["importers"] >= 1
    assert row["reads"] == 0
    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == ("zipimport", "zipimporter.invalidate_caches")


def test_package_zip_named_by_content(tmp_path, monkeypatch):
    """Two calls give one path and leave the archive untouched; a
    changed source gives a new path and leaves the old archive in
    place, with no temp file behind."""
    from cs533_big_data_data_mining_spark import session

    pkg = tmp_path / "src" / "cs533_big_data_data_mining_spark"
    shutil.copytree(os.path.dirname(session.__file__), pkg, ignore=shutil.ignore_patterns("__pycache__"))
    zips = tmp_path / "zips"
    zips.mkdir()
    monkeypatch.setattr(session, "__file__", str(pkg / "session.py"))
    monkeypatch.setattr(tempfile, "tempdir", str(zips))

    first = session._package_zip()
    with zipfile.ZipFile(first) as zf:
        assert "cs533_big_data_data_mining_spark/operators/dbscan.py" in zf.namelist()
    os.utime(first, ns=(1_000_000_000, 1_000_000_000))
    assert session._package_zip() == first
    assert os.stat(first).st_mtime_ns == 1_000_000_000

    with open(pkg / "operators" / "dbscan.py", "a") as f:
        f.write("\n# changed\n")
    second = session._package_zip()
    assert second != first
    assert sorted(os.listdir(zips)) == sorted([os.path.basename(first), os.path.basename(second)])


def test_process_scratch_removes_dead_siblings_only(tmp_path):
    """Siblings named for a process that is gone (no such pid, or the
    pid now runs a process with another start time) are deleted with
    their contents; live ones and foreign names stay."""
    from cs533_big_data_data_mining_spark import session

    me, parent = os.getpid(), os.getppid()
    live = f"{parent}-{session._start_time(parent)}"
    reused = f"{parent}-1"  # right pid, wrong start time
    gone = "999999999-5"
    for name in (live, reused, gone, "blockmgr-legacy"):
        (tmp_path / name / "blockmgr-x").mkdir(parents=True)

    mine = session._process_scratch(str(tmp_path))

    assert mine == str(tmp_path / f"{me}-{session._start_time(me)}")
    assert sorted(os.listdir(tmp_path)) == sorted([live, "blockmgr-legacy", os.path.basename(mine)])
    assert os.listdir(tmp_path / live) == ["blockmgr-x"]
    assert session._process_scratch(str(tmp_path)) == mine


def test_session_scope_releases_only_what_it_created(spark, session_state):
    """A frame cached and another checkpointed inside the scope are
    released on a normal exit and on an exception; a cache and a
    checkpoint made before the scope survive both."""
    import pytest

    from cs533_big_data_data_mining_spark.session import SessionScope

    cm = spark._jsparkSession.sharedState().cacheManager()

    def work(scope):
        assert not scope.grew()
        spark.range(100).selectExpr("id * 2 AS id").cache().count()
        spark.range(50).localCheckpoint()
        assert scope.grew()
        assert session_state() != before

    with SessionScope(spark):  # releases the two pre-existing entries last
        cached_before = spark.range(5).cache()
        cached_before.count()
        checkpointed_before = spark.range(6).localCheckpoint()
        before = session_state()

        with SessionScope(spark) as scope:
            work(scope)
        assert session_state() == before

        with pytest.raises(RuntimeError, match="work failed"):
            with SessionScope(spark) as scope:
                work(scope)
                raise RuntimeError("work failed")
        assert session_state() == before

        assert cm.lookupCachedData(cached_before._jdf).isDefined()
        assert checkpointed_before.count() == 6
