"""The Python worker daemon (``mincemeatpy_spark.worker_daemon``).

Every check runs inside Spark tasks, in workers forked from the daemon
that ``session.get_spark`` configures: the daemon must be the one in use,
must skip unchanged archives, and must still pick up archives that were
rewritten or added (``addPyFile``) while the workers were warm.
"""

from __future__ import annotations

import os
import sys
import uuid
import zipfile

import pytest

import mincemeatpy_spark.worker_daemon as worker_daemon

eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ re-reads archives lazily; the daemon patches nothing",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _in_one_task(spark, fn):
    """Run ``fn()`` in one Python task and return its result."""
    return spark.sparkContext.parallelize([0], 1).map(lambda _: fn()).collect()[0]


@eager_zip_reread
def test_workers_use_the_repo_invalidate_caches(spark):
    def probe():
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return f.__qualname__, f.__code__.co_filename

    results = (
        spark.sparkContext.parallelize(range(4), 4).map(lambda _: probe()).collect()
    )
    for qualname, filename in results:
        assert qualname == "_invalidate_if_changed"
        assert os.path.samefile(filename, worker_daemon.__file__)


@eager_zip_reread
def test_unchanged_zip_keeps_its_directory(spark, tmp_path):
    path = str(tmp_path / "unchanged.zip")
    _write_zip(path, {f"wd_same_{uuid.uuid4().hex}": "X = 1\n"})

    def probe():
        import zipimport

        imp = zipimport.zipimporter(path)
        imp.invalidate_caches()  # a new importer reads once and is stamped
        files = imp._files
        imp.invalidate_caches()
        imp.invalidate_caches()
        return imp._files is files

    assert _in_one_task(spark, probe)


@eager_zip_reread
def test_removed_zip_reads_empty_until_restored(spark, tmp_path):
    path = str(tmp_path / "removed.zip")
    _write_zip(path, {"wd_before": "X = 1\n"})

    def probe():
        import zipimport

        imp = zipimport.zipimporter(path)
        imp.invalidate_caches()
        os.remove(path)
        imp.invalidate_caches()
        gone = dict(imp._files)
        _write_zip(path, {"wd_after": "X = 2\n"})
        imp.invalidate_caches()
        return gone, sorted(imp._files)

    assert _in_one_task(spark, probe) == ({}, ["wd_after.py"])


def test_rewritten_zip_is_reread(spark, tmp_path):
    path = str(tmp_path / "rewritten.zip")
    first, second = (f"wd_{k}_{uuid.uuid4().hex}" for k in ("first", "second"))
    _write_zip(path, {first: "X = 1\n"})

    def probe():
        import importlib

        sys.path.insert(0, path)
        try:
            importlib.invalidate_caches()
            a = importlib.import_module(first).X
            importlib.invalidate_caches()  # stamps the importer: zip unchanged
            _write_zip(path, {first: "X = 1\n", second: "Y = 2\n"})
            importlib.invalidate_caches()
            b = importlib.import_module(second).Y
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop(first, None)
            sys.modules.pop(second, None)
        return a, b

    assert _in_one_task(spark, probe) == (1, 2)


def test_addpyfile_zip_after_warm_workers(spark, tmp_path):
    sc = spark.sparkContext
    # Warm every worker slot first, so the zip below reaches workers that
    # already ran tasks (and already stamped their importers).
    sc.parallelize(range(8), 8).map(lambda x: x).collect()
    name = f"wd_added_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "Z = 3\n"})
    sc.addPyFile(path)

    def probe():
        import importlib

        return importlib.import_module(name).Z

    assert sc.parallelize(range(4), 4).map(lambda _: probe()).collect() == [3] * 4
