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


_GROUPED_ONLY = """
import json, sys, zipimport
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pandarallel_spark import get_spark, parallelize

spark = get_spark("grouped_only", cpus=2, driver_memory="1g")
pdf = pd.DataFrame({"g": [i % 40 for i in range(400)], "v": range(400)})


def report(group):
    return zipimport.zipimporter.invalidate_caches.__name__


rows = parallelize(spark.createDataFrame(pdf)).groupby("g").parallel_apply(
    report, schema="g bigint, result string", mode="scalar"
).collect()
print(json.dumps(sorted({r.result for r in rows})))
spark.stop()
"""


@needs_eager_zipimport
def test_grouped_apply_alone_installs_the_shim(tmp_path):
    """A session that runs only a grouped apply, whose user function
    never imports the package, still installs the shim in every worker:
    unpickling the library's UDF imports ``pandarallel_spark``. Runs in
    a fresh process because the shared test session's workers were
    patched by earlier tests."""
    import json
    import subprocess
    from pathlib import Path

    script = tmp_path / "grouped_only.py"
    script.write_text(_GROUPED_ONLY)
    repo = str(Path(__file__).resolve().parent.parent)
    proc = subprocess.run(
        [sys.executable, str(script), repo],
        capture_output=True, text=True, timeout=300, cwd=tmp_path, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == ["_zip_invalidate_if_changed"]
