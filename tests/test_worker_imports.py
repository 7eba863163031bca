"""Zip-importer invalidation in Python workers: ``piper_spark`` makes
``importlib.invalidate_caches()`` re-read a zip archive's directory only
when the archive changed (see ``piper_spark/__init__.py``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import piper_spark


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "VALUE = %r\n" % name)


@pytest.fixture
def zipped_pkg(tmp_path):
    """An archive on ``sys.path`` holding ``pkg`` and ``pkg.sub``, with
    ``pkg.sub.old`` imported so that importers exist for the archive, its
    package and its sub-package."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["pkg/__init__.py", "pkg/sub/__init__.py", "pkg/sub/old.py"])
    sys.path.insert(0, archive)
    try:
        importlib.import_module("pkg.sub.old")
        yield archive
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m == "pkg" or m.startswith("pkg.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_archive_is_not_reread(zipped_pkg, monkeypatch):
    importlib.invalidate_caches()  # each importer takes its stamp
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert [a for a in calls if a == zipped_pkg] == []


def test_rewritten_archive_is_reread_by_every_importer(zipped_pkg, monkeypatch):
    importlib.invalidate_caches()
    st = os.stat(zipped_pkg)
    _write_zip(
        zipped_pkg,
        ["pkg/__init__.py", "pkg/sub/__init__.py", "pkg/sub/old.py", "pkg/sub/new.py"],
    )
    os.utime(zipped_pkg, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    # One re-read each for the archive, pkg and pkg/sub importers.
    assert [a for a in calls if a == zipped_pkg] == [zipped_pkg] * 3
    new = importlib.import_module("pkg.sub.new")
    assert new.VALUE == "pkg/sub/new.py"
    sub_importer = sys.path_importer_cache[os.path.join(zipped_pkg, "pkg", "sub")]
    assert new.__spec__.loader is sub_importer


def test_reload_wraps_once():
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper.stat_checked
    importlib.reload(piper_spark)
    assert zipimport.zipimporter.invalidate_caches is wrapper
    wrapped = [c.cell_contents for c in wrapper.__closure__]
    assert not any(getattr(f, "stat_checked", False) for f in wrapped)


def test_reused_worker_skips_zip_rereads(spark, monkeypatch):
    """Each task reports the zip-directory reads its worker made since
    that worker's previous task. Once a worker has imported piper_spark
    and its importers hold their stamps (its first two tasks), PySpark's
    per-task ``importlib.invalidate_caches()`` reads nothing."""
    # A function's environment keys its worker pool: a variable of its own
    # gives this test fresh workers, which it reuses across its 4 jobs
    # instead of spreading them over idle workers of earlier tests.
    monkeypatch.setitem(spark.sparkContext.environment, "PIPER_ZIP_PROBE", "1")

    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        import piper_spark  # noqa: F401  (installs the stat check)

        state = getattr(zipimport, "_probe_state", None)
        if state is None:
            real = zipimport._read_directory
            state = {"reads": 0, "seen": 0, "tasks": 0}

            def counted(archive):
                state["reads"] += 1
                return real(archive)

            zipimport._read_directory = counted
            zipimport._probe_state = state
        delta = state["reads"] - state["seen"]
        state["seen"] = state["reads"]
        state["tasks"] += 1
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "task": [state["tasks"]], "reads": [delta]}
        )

    rows = []
    for _ in range(4):
        df = spark.range(0, 2, numPartitions=2).mapInPandas(
            probe, "pid long, task long, reads long"
        )
        rows += df.collect()
    assert len(rows) == 8
    later = [r for r in rows if r.task >= 3]
    assert later, rows  # some worker ran at least three of the tasks
    assert all(r.reads == 0 for r in later), sorted(rows)
