"""The worker-side ``zipimporter`` invalidation shim
(``session._patch_worker_zipimport``): PySpark calls
``importlib.invalidate_caches()`` before every Python task, which on
CPython < 3.13 re-reads every zip archive directory on ``sys.path``.
The shim re-reads an archive only when it changed on disk."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.core.files import SparkFiles

from pandarallel_spark import session

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zips lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def unpatch(monkeypatch):
    """Restore ``zipimporter.invalidate_caches`` after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )


@pytest.fixture
def patched(unpatch, monkeypatch):
    """Install the shim as a worker would."""
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert session._patch_worker_zipimport()


@needs_eager_zipimport
def test_shim_rereads_changed_archive_and_skips_unchanged(patched, tmp_path, monkeypatch):
    archive = str(tmp_path / "shim_probe.zip")
    _write_zip(archive, {"shim_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "shim_probe_a", raising=False)
    monkeypatch.delitem(sys.modules, "shim_probe_b", raising=False)
    assert importlib.import_module("shim_probe_a").X == 1
    importlib.invalidate_caches()  # stamps the importer created above

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads  # unchanged archive: directory not re-read

    _write_zip(archive, {"shim_probe_a": "X = 1\n", "shim_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("shim_probe_b").Y == 2


def test_shim_is_inert_on_driver_and_lazy_cpython(unpatch, monkeypatch):
    assert not SparkFiles._is_running_on_worker
    assert not session._patch_worker_zipimport()
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not session._patch_worker_zipimport()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@needs_eager_zipimport
def test_worker_invalidate_caches_is_cheap(spark):
    def probe(batches):
        import importlib as il
        import time

        import pandarallel_spark  # noqa: F401 — installs the shim here

        t0 = time.perf_counter()
        il.invalidate_caches()
        dt = time.perf_counter() - t0
        for _ in batches:
            pass
        yield pd.DataFrame({"dt": [dt]})

    dt = spark.range(1, numPartitions=1).mapInPandas(probe, "dt double").collect()[0].dt
    assert dt < 0.020, f"per-task invalidate_caches() took {dt * 1000:.1f} ms"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
