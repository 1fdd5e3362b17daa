"""Session layer: the worker-side zipimport guard, shipping the package once
per SparkContext, and the driver-memory default."""

import importlib
import os
import sys
import tempfile
import time
import zipfile
import zipimport

import pandas as pd
import pytest

import raster_functions_spark as rfs
from raster_functions_spark import session

needs_eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; no guard there")


def _write_module_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("rfs_guard_probe.py", source)


@needs_eager_zip_reread
def test_zip_guard_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_module_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "rfs_guard_probe", raising=False)
    import rfs_guard_probe
    assert rfs_guard_probe.VALUE == 1

    rfs._guard_zip_rereads()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded._stat_guarded
    rfs._guard_zip_rereads()        # idempotent: no second wrapper
    assert zipimport.zipimporter.invalidate_caches is guarded

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    _write_module_zip(archive, "VALUE = 22  # rewritten in place\n")
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules["rfs_guard_probe"]
    import rfs_guard_probe
    assert rfs_guard_probe.VALUE == 22


def test_zip_guard_not_installed_in_driver(spark):
    assert not rfs._in_task()
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "_stat_guarded", False)


def test_reused_worker_task_fixed_cost(spark):
    """CPU a reused Python worker spends between the end of one task's UDF
    and the start of the next: about 0.3 s under CPython 3.11 while every
    task re-read every zip directory on sys.path."""

    def task_clock(batches):
        t0 = time.process_time()
        import raster_functions_spark  # noqa: F401  (installs the guard)
        for _ in batches:
            pass
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "_stat_guarded", False)
        yield pd.DataFrame({"pid": [os.getpid()], "t0": [t0],
                            "t1": [time.process_time()], "guarded": [guarded]})

    n = spark.sparkContext.defaultParallelism
    schema = "pid long, t0 double, t1 double, guarded boolean"
    runs = [spark.range(0, n, 1, n).mapInPandas(task_clock, schema).toPandas()
            for _ in range(3)]
    gaps = []
    for later in runs[1:]:
        for r in later.itertuples():
            done = [t1 for run in runs for p, t1 in zip(run.pid, run.t1)
                    if p == r.pid and t1 <= r.t0]
            if done:
                gaps.append(r.t0 - max(done))
    assert all(g for run in runs[1:] for g in run.guarded) == (sys.version_info < (3, 12))
    assert len(gaps) >= n
    assert sorted(gaps)[len(gaps) // 2] < 0.15, gaps


def test_ship_package_once_per_context(spark, monkeypatch):
    monkeypatch.setattr(session, "_shipped", set())
    zips, added = [], []
    real_zip = session.package_zip
    monkeypatch.setattr(session, "package_zip",
                        lambda: zips.append(1) or real_zip())
    monkeypatch.setattr(spark.sparkContext, "addPyFile", added.append)
    session.ship_package(spark)
    session.ship_package(spark)
    assert len(zips) == 1
    assert added[0] == session._process_zip_path()
    assert os.path.basename(added[1]) == "__spark_entry__.py"


def test_package_zip_is_per_process(tmp_path):
    path = session.package_zip()
    assert path == session._process_zip_path()
    assert os.path.dirname(path) != tempfile.gettempdir()
    with zipfile.ZipFile(path) as zf:
        assert "raster_functions_spark/session.py" in zf.namelist()
    explicit = session.package_zip(str(tmp_path / "rfs.zip"))
    assert explicit == str(tmp_path / "rfs.zip") and os.path.exists(explicit)


@pytest.mark.parametrize("phys_gib, expected", [
    (15, "7g"), (16, "8g"), (1, "1g"), (0.5, "1g"), (96, "48g"), (512, "48g")])
def test_default_driver_memory_caps_at_share_of_ram(phys_gib, expected):
    assert session.default_driver_memory(int(phys_gib * 2**30)) == expected


def test_default_driver_memory_reads_this_machine():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert session.default_driver_memory() == session.default_driver_memory(phys)
