"""Python worker daemon without Spark's zip archives on ``sys.path``.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
executors start their Python workers with ``python -m
topic_store_spark.worker_daemon`` instead of ``python -m pyspark.daemon``.

Why: Spark's launcher puts ``pyspark.zip``, ``py4j-*-src.zip`` and the
spark-core jar first on every worker's ``sys.path``
(``PythonUtils.sparkPythonPath``).  Each task then runs
``worker_util.setup_spark_files``, whose ``importlib.invalidate_caches()``
makes every cached ``zipimporter`` re-read its whole archive directory
(Python >= 3.10): 16 importers over ~1,300 (pyspark.zip) and ~5,400
(the jar) entries, about 200 ms of worker CPU per task, paid by every
Python-executing operator (UDFs, ``mapInArrow``/``mapInPandas``,
Arrow-batched blob reads).

What: before anything imports pyspark, ``drop_spark_archives`` removes
those three entries from ``sys.path`` and their importers from
``sys.path_importer_cache`` (this module's own lookup created them), then
``pyspark.daemon.manager()`` runs unchanged.  The guard: it does so only
when pyspark and py4j import from a plain directory on the remaining
path, at the versions the archives carry (read from each ``version.py``
with ``zipfile`` and from the directory copy's file, without importing).
Otherwise it changes nothing.  Other zips (``PYTHONPATH`` entries,
``--py-files`` added per task) stay.

This module and the package root must not import pyspark at import
time: ``python -m`` imports the package first.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile

# what PythonUtils.sparkPythonPath puts on a worker's path, by file name
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
# the archives' packages; the jar holds no .py files
ARCHIVE_PACKAGES = {"pyspark.zip": "pyspark", "py4j-*-src.zip": "py4j"}

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _version(text: str) -> str | None:
    match = _VERSION.search(text)
    return match.group(1) if match else None


def _archive_version(archive: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return _version(zf.read(f"{package}/version.py").decode("utf-8"))
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return None


def _directory_version(path: list[str], package: str) -> str | None:
    """Version of ``package`` as ``path`` would import it; None unless
    the first entry holding it is a plain directory."""
    for entry in path:
        root = entry or os.curdir
        if os.path.isdir(root):
            if os.path.isfile(os.path.join(root, package, "__init__.py")):
                try:
                    with open(os.path.join(root, package, "version.py"), encoding="utf-8") as fh:
                        return _version(fh.read())
                except OSError:
                    return None
        elif os.path.isfile(root):
            try:
                with zipfile.ZipFile(root) as zf:
                    if f"{package}/__init__.py" in zf.namelist():
                        return None  # a zip would win the import
            except (OSError, zipfile.BadZipFile):
                continue
    return None


def drop_spark_archives(path: list[str], importer_cache: dict) -> bool:
    """Remove Spark's archive entries from ``path`` (in place) and their
    ``importer_cache`` keys when the guard holds; True when it did."""
    found = {
        pattern: entry
        for entry in path
        for pattern in SPARK_ARCHIVES
        if fnmatch.fnmatch(os.path.basename(entry), pattern)
    }
    if not ARCHIVE_PACKAGES.keys() <= found.keys():
        return False
    spark = set(found.values())
    rest = [entry for entry in path if entry not in spark]
    for pattern, package in ARCHIVE_PACKAGES.items():
        want = _archive_version(found[pattern], package)
        if want is None or _directory_version(rest, package) != want:
            return False
    path[:] = rest
    for entry in spark:
        importer_cache.pop(entry, None)
    return True


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
