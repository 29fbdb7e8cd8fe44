"""The engine's PySpark worker daemon (``xgboost_ray_spark.worker_daemon``).

Before Python 3.13, ``importlib.invalidate_caches()`` (called at the start
of every Python task) made each zipimporter re-read its whole archive.
The daemon's patch re-reads only archives whose size or mtime changed.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from xgboost_ray_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def patched(monkeypatch):
    if sys.version_info >= (3, 13):
        pytest.skip("Python 3.13+ zipimport is already lazy")
    # Registers the stock method for restore, then installs the patch.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_caches


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")

    def write(**modules: str) -> None:
        with zipfile.ZipFile(archive, "w") as zf:
            for name, src in modules.items():
                zf.writestr(f"{name}.py", src)

    write(wd_probe_a="VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    yield archive, write
    sys.path_importer_cache.pop(archive, None)
    for name in ("wd_probe_a", "wd_probe_b"):
        sys.modules.pop(name, None)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(patched, zip_on_path, monkeypatch):
    archive, _write = zip_on_path
    assert importlib.import_module("wd_probe_a").VALUE == "a"
    importlib.invalidate_caches()  # first invalidation stamps the importer
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(patched, zip_on_path, monkeypatch):
    archive, write = zip_on_path
    assert importlib.import_module("wd_probe_a").VALUE == "a"
    importlib.invalidate_caches()
    write(wd_probe_a="VALUE = 'a'\n", wd_probe_b="VALUE = 'b'\n")
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("wd_probe_b").VALUE == "b"


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ zipimport is already lazy; the patch is not installed",
)
def test_spark_workers_run_the_patched_invalidate(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"fn": [f"{fn.__module__}.{fn.__qualname__}"]})

    rows = spark.range(2).repartition(2).mapInPandas(probe, "fn string").collect()
    assert {r.fn for r in rows} == {
        "xgboost_ray_spark.worker_daemon.invalidate_caches"
    }


def test_daemon_import_skips_pyspark_ml():
    """The daemon imports the package before forking any worker; the
    package's public names must stay lazy so that import stays small."""
    code = (
        "import sys, xgboost_ray_spark.worker_daemon; "
        "print('pyspark.ml' in sys.modules, 'pandas' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, timeout=120, check=True,
    ).stdout
    assert out.split() == ["False", "False"]
