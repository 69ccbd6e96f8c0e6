"""Python worker daemon that imports the unpacked pyspark, not Spark's zips.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``PYTHONPATH``.
Every task then runs ``pyspark.worker_util.setup_spark_files``, whose
``importlib.invalidate_caches()`` makes each cached ``zipimporter`` (one
per archive and per package imported from it, 16 in a warm worker) re-read
its archive's central directory. On Python 3.11 that is 250-300 ms of
worker CPU per task at local[4] on a 4-core Xeon, against ~2 ms for the
MergeContent bin packer the task exists to run.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts it in place of ``pyspark.daemon``. Before anything imports
pyspark it drops Spark's archives from ``sys.path`` (and their
``sys.path_importer_cache`` entries), but only when the interpreter also
sees an unpacked pyspark of the version the JVM ships, and an unpacked
py4j. Imports then resolve to that install (in local mode, the
site-packages the SparkSession's own process imports pyspark from)
through directory finders, whose cache invalidation is a stat. Without
such an install the path stays as Spark built it. Either way it then
hands over to ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def _version(source: str) -> str | None:
    match = _VERSION.search(source)
    return match.group(1) if match else None


def _shipped_version(archives: list[str]) -> str | None:
    """``pyspark.__version__`` inside the JVM's ``pyspark.zip``."""
    for entry in archives:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as zf:
                    return _version(zf.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
    return None


def _first_with(path: list[str], package: str) -> str | None:
    """The entry a directory finder would import ``package`` from."""
    for entry in path:
        if os.path.isfile(os.path.join(entry or os.curdir, package, "__init__.py")):
            return entry or os.curdir
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's zip and jar entries, when what remains
    imports an unpacked pyspark of the shipped version and an unpacked
    py4j; otherwise ``path`` unchanged."""
    archives = [e for e in path if _is_spark_archive(e)]
    shipped = _shipped_version(archives)
    if shipped is None:
        return list(path)
    rest = [e for e in path if e not in archives]
    unpacked = _first_with(rest, "pyspark")
    if unpacked is None or _first_with(rest, "py4j") is None:
        return list(path)
    try:
        with open(os.path.join(unpacked, "pyspark", "version.py")) as f:
            installed = _version(f.read())
    except OSError:
        return list(path)
    return rest if installed == shipped else list(path)


def _use_unpacked_pyspark() -> None:
    kept = worker_path(sys.path)
    # nothing has been imported from the archives yet, so their own
    # entries are the only zipimporters to forget
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept


if __name__ == "__main__":
    _use_unpacked_pyspark()
    from pyspark.daemon import manager

    manager()
