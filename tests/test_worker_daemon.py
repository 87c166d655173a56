"""The Python worker daemon (``topic_store_spark.worker_daemon``): Spark's
zip archives leave the worker's ``sys.path`` only when an identical
pyspark/py4j imports from a directory, and the daemon module imports
no pyspark before it has cleaned the path."""

import os
import subprocess
import sys
import zipfile

import pytest

from topic_store_spark.worker_daemon import drop_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _package(root, package, version):
    os.makedirs(root / package, exist_ok=True)
    (root / package / "__init__.py").write_text("")
    (root / package / "version.py").write_text(f"__version__ = '{version}'\n")


@pytest.fixture
def layout(tmp_path):
    """A fake worker path: Spark's three archives first, then a user zip
    and a site directory holding pyspark 9.9.0 and py4j 0.1.2."""
    lib = tmp_path / "spark" / "python" / "lib"
    os.makedirs(lib)
    archives = [
        _zip(lib / "pyspark.zip", {
            "pyspark/__init__.py": "",
            "pyspark/version.py": "__version__: str = '9.9.0'\n",
        }),
        _zip(lib / "py4j-0.1.2-src.zip", {
            "py4j/__init__.py": "",
            "py4j/version.py": "__version__ = '0.1.2'\n",
        }),
        _zip(tmp_path / "spark-core_2.13-9.9.0.jar", {"org/apache/spark/Foo.class": ""}),
    ]
    user = _zip(tmp_path / "deps.zip", {"userlib/__init__.py": ""})
    site = tmp_path / "site"
    _package(site, "pyspark", "9.9.0")
    _package(site, "py4j", "0.1.2")
    path = [str(tmp_path)] + archives + [user, str(site)]
    cache = {entry: object() for entry in path}
    return path, cache, archives, user, site


def test_drop_spark_archives_on_version_match(layout):
    path, cache, archives, user, site = layout
    keep = [e for e in path if e not in archives]
    assert drop_spark_archives(path, cache)
    assert path == keep and user in path
    assert set(cache) == set(keep)


def test_drop_spark_archives_keeps_path_on_version_mismatch(layout):
    path, cache, _, _, site = layout
    (site / "py4j" / "version.py").write_text("__version__ = '0.1.3'\n")
    before, cached = list(path), dict(cache)
    assert not drop_spark_archives(path, cache)
    assert path == before and cache == cached


def test_drop_spark_archives_keeps_path_without_directory_copy(layout):
    path, cache, _, _, site = layout
    path.remove(str(site))
    before, cached = list(path), dict(cache)
    assert not drop_spark_archives(path, cache)
    assert path == before and cache == cached


def test_drop_spark_archives_keeps_path_when_a_zip_wins_the_import(layout, tmp_path):
    path, cache, _, _, _ = layout
    shadow = _zip(tmp_path / "shadow.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__ = '9.9.0'\n",
    })
    path.insert(4, shadow)  # before the site directory
    before = list(path)
    assert not drop_spark_archives(path, cache)
    assert path == before


def test_daemon_module_imports_no_pyspark():
    """``python -m`` imports the package and the module before the
    cleanup runs; neither may import pyspark."""
    code = (
        "import sys, topic_store_spark.worker_daemon\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_python_workers_run_without_zipimporters(spark):
    """A Python task on the session finds no zipimporter in its import
    cache and imports pyspark from a directory (with Spark's archives
    on the path, 16 importers re-read their archives on every task)."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        cache = sys.path_importer_cache.values()
        zips = sum(isinstance(v, zipimport.zipimporter) for v in cache)
        yield pa.RecordBatch.from_pydict({"zips": [zips], "file": [pyspark.__file__]})

    (row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "zips long, file string").collect()
    assert row["zips"] == 0
    assert ".zip" not in row["file"] and os.path.isfile(row["file"])
