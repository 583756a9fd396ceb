"""Python-worker daemon that imports pyspark from outside Spark's archives.

Spark launches ``python -m <spark.python.daemon.module>`` with its own
``pyspark.zip``, the py4j zip and the spark-core jar on ``PYTHONPATH``.
PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``), and every zip importer on the path
answers by re-reading its archive's central directory — the jar alone
holds thousands of entries. That fixed cost lands on every Python task,
whatever its body does: on a 4-core box, 32 warm no-op ``mapInArrow``
tasks took 2.7-3.1 s with the archives on the path and 1.0-1.2 s without.

This module drops those three archives — ``pyspark.zip``, the
``py4j-*.zip`` and the ``spark-core_*.jar``, matched by file name — and
their cached importers before ``pyspark`` is first imported, then runs
``pyspark.daemon.manager()``, so workers import the unzipped install the
driver uses. It strips only when that install is the same pyspark version
as the zip and py4j is importable without the archives; otherwise it
leaves ``sys.path`` alone, and an executor that only has ``pyspark.zip``
keeps working. Any other archive on the path (a user's dependency zip,
the ``--py-files`` zip this package may come from) stays. The package
``__init__`` imports nothing, so loading this module never pulls pyspark
from the zip first.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

_SPARK_ARCHIVES = re.compile(r"pyspark\.zip|py4j-.*\.zip|spark-core_.*\.jar")
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _is_spark_archive(entry: str) -> bool:
    return _SPARK_ARCHIVES.fullmatch(os.path.basename(entry)) is not None


def _zipped_pyspark_version(entries: list[str]) -> str | None:
    """Version of the first Spark archive on the path that holds pyspark."""
    for entry in entries:
        if not _is_spark_archive(entry) or not os.path.isfile(entry):
            continue
        try:
            with zipfile.ZipFile(entry) as z:
                return _version(z.read("pyspark/version.py").decode())
        except (KeyError, zipfile.BadZipFile):
            continue
    return None


def _unzipped_pyspark_version(entries: list[str]) -> str | None:
    spec = importlib.machinery.PathFinder.find_spec("pyspark", entries)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself when their
    pyspark is not the unzipped one or py4j needs an archive."""
    kept = [p for p in path if not _is_spark_archive(p)]
    if len(kept) == len(path):
        return path
    zipped = _zipped_pyspark_version(path)
    if zipped is None or zipped != _unzipped_pyspark_version(kept):
        return path
    if importlib.machinery.PathFinder.find_spec("py4j", kept) is None:
        return path
    return kept


def _strip_archives() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _strip_archives()
    from pyspark import daemon

    daemon.manager()
