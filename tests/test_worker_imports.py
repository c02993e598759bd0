"""The stat-gated ``zipimporter.invalidate_caches`` (``worker_imports``):
an unchanged archive is not re-read, a changed or deleted one takes the
stdlib path, installing is idempotent, and a reused Spark worker that has
run an engine kernel pays no directory read per ``invalidate_caches()``.
"""

from __future__ import annotations

import importlib
import logging
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import hadoopxmlextractor_spark
from hadoopxmlextractor_spark import worker_imports

eager = pytest.mark.skipif(
    not worker_imports._eager_zipimport(),
    reason="zipimport on this interpreter has no eager directory cache",
)

PKG = "wi_probe_pkg"


def _write_archive(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        zf.writestr(f"{PKG}/mod.py", f"VALUE = {value}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip package on ``sys.path`` with ``wi_probe_pkg.mod`` imported
    from it: two cached zipimporters (root and package prefix), like a
    worker's importers over ``pyspark.zip``."""
    path = str(tmp_path / "probe.zip")
    _write_archive(path, "1")
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module(f"{PKG}.mod").VALUE == 1
        yield path
    finally:
        for name in (f"{PKG}.mod", PKG):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)
        worker_imports._stamps.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    seen: list[str] = []
    stdlib_read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _importers(path):
    return [
        imp
        for key, imp in sys.path_importer_cache.items()
        if key.startswith(path) and isinstance(imp, zipimport.zipimporter)
    ]


@eager
def test_unchanged_archive_is_not_read_again(archive, reads):
    assert len(_importers(archive)) == 2
    importlib.invalidate_caches()
    # first call after import: one read shared by both importers
    assert reads.count(archive) == 1
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    files = zipimport._zip_directory_cache[archive]
    assert all(imp._files is files for imp in _importers(archive))


@eager
@pytest.mark.parametrize("same_size", [False, True], ids=["grown", "same_size_new_mtime"])
def test_rewritten_archive_is_read_again(archive, reads, same_size):
    importlib.invalidate_caches()
    before = os.stat(archive)
    _write_archive(archive, "2" if same_size else "2 + 0 * len('padding')")
    if same_size:
        assert os.stat(archive).st_size == before.st_size
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules[f"{PKG}.mod"]
    assert importlib.import_module(f"{PKG}.mod").VALUE == 2


@eager
def test_deleted_archive_falls_through_to_stdlib(archive):
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert archive not in worker_imports._stamps
    assert all(imp._files == {} for imp in _importers(archive))


@eager
def test_importing_twice_leaves_one_wrapper(monkeypatch):
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper._stat_gated
    assert not getattr(wrapper.__wrapped__, "_stat_gated", False)
    monkeypatch.delitem(sys.modules, worker_imports.__name__)
    monkeypatch.setattr(hadoopxmlextractor_spark, "worker_imports", worker_imports)
    fresh = importlib.import_module(worker_imports.__name__)
    assert fresh is not worker_imports
    fresh.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper


def test_without_eager_cache_stdlib_is_left_alone(monkeypatch, caplog):
    stdlib = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__", None)
    if stdlib is not None:
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    with caplog.at_level(logging.INFO, logger=worker_imports.__name__):
        worker_imports.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert len(caplog.records) == 1


@eager
def test_reused_spark_worker_skips_directory_reads(tmp_path):
    """One engine kernel, then a probe job on the same ``local[1]``
    session, so the probe runs in the worker the kernel used. The probe
    itself does not import the package."""
    script = tmp_path / "worker_probe.py"
    script.write_text(
        textwrap.dedent(
            """
            import pandas as pd
            from pyspark.sql import SparkSession

            from hadoopxmlextractor_spark.config import ExtractionConfig
            from hadoopxmlextractor_spark.extract import extract
            from hadoopxmlextractor_spark.sources import docs_from_strings
            from tests.fixtures import INVENTORY_CONFIG_XML, SOHO, make_store_xml

            spark = (
                SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            spark.sparkContext.setLogLevel("ERROR")

            def probe(batches):
                import importlib
                import sys
                import zipimport

                for _ in batches:
                    pass
                seen = []
                stdlib_read = zipimport._read_directory

                def counting(archive):
                    seen.append(archive)
                    return stdlib_read(archive)

                zipimport._read_directory = counting
                try:
                    importlib.invalidate_caches()
                finally:
                    zipimport._read_directory = stdlib_read
                method = zipimport.zipimporter.invalidate_caches
                importers = sum(
                    isinstance(imp, zipimport.zipimporter)
                    for imp in sys.path_importer_cache.values()
                )
                yield pd.DataFrame(
                    {
                        "module": [method.__module__],
                        "reads": [len(seen)],
                        "importers": [importers],
                    }
                )

            cfg = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
            docs = docs_from_strings(spark, {"soho.xml": make_store_xml(SOHO)})
            print("ROWS", len(extract(docs, cfg).collect()))
            schema = "module string, reads long, importers long"
            for r in spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect():
                print("PROBE", r.module, r.reads, r.importers)
            spark.stop()
            """
        )
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=env["PYTHONPATH"],
    )
    lines = out.stdout.splitlines()
    assert "ROWS 11" in lines, out.stdout + out.stderr
    probes = [line.split() for line in lines if line.startswith("PROBE ")]
    assert len(probes) == 1, out.stdout + out.stderr
    _, module, n_reads, n_importers = probes[0]
    assert module == worker_imports.__name__
    assert int(n_reads) == 0
    assert int(n_importers) > 0


def test_extract_import_loads_no_pandas():
    """A cold worker imports ``extract`` to unpickle the extraction
    kernels; their batch loop is Arrow-native (``kernel.map_rows``), so
    that import must not pull in pandas."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, hadoopxmlextractor_spark.extract; print(sorted("
            "m for m in sys.modules if m.split('.')[0] == 'pandas'))",
        ],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=env["PYTHONPATH"],
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]", out.stdout
