"""Python worker start-up: the engine's worker daemon and worker PYTHONPATH.

``get_spark`` starts Python workers through ``worker_daemon`` so they
import the unpacked pyspark instead of Spark's zips, and puts the
package's parent directory on the workers' ``PYTHONPATH`` so worker-side
kernels import from any working directory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from nifi_minifi_cpp_spark.worker_daemon import worker_path

REPO = Path(__file__).resolve().parents[1]


def _zip(path: Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)
    return str(path)


def _install(root: Path, version: str | None, py4j: bool = True) -> str:
    if version is not None:
        (root / "pyspark").mkdir(parents=True)
        (root / "pyspark" / "__init__.py").write_text("")
        (root / "pyspark" / "version.py").write_text(f"__version__: str = '{version}'\n")
    if py4j:
        (root / "py4j").mkdir(parents=True)
        (root / "py4j" / "__init__.py").write_text("")
    root.mkdir(parents=True, exist_ok=True)
    return str(root)


def _spark_path(tmp_path: Path, site: str) -> list[str]:
    lib = tmp_path / "spark" / "python" / "lib"
    return [
        str(tmp_path / "cwd"),
        _zip(lib / "pyspark.zip", {"pyspark/version.py": "__version__: str = '4.1.2'\n"}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
        str(tmp_path / "repo"),
        str(tmp_path / "stdlib.zip"),  # absent, as python3X.zip usually is
        site,
    ]


def test_worker_path_drops_spark_archives_for_matching_install(tmp_path):
    site = _install(tmp_path / "site", "4.1.2")
    path = _spark_path(tmp_path, site)
    assert worker_path(path) == [path[0], path[4], path[5], site]


@pytest.mark.parametrize(
    "version, py4j",
    [(None, True), ("4.1.1", True), ("4.1.2", False)],
    ids=["missing", "mismatched", "no-py4j"],
)
def test_worker_path_keeps_spark_archives_without_matching_install(tmp_path, version, py4j):
    path = _spark_path(tmp_path, _install(tmp_path / "site", version, py4j))
    assert worker_path(path) == path


def test_worker_path_without_pyspark_zip_is_unchanged(tmp_path):
    site = _install(tmp_path / "site", "4.1.2")
    path = [p for p in _spark_path(tmp_path, site) if not p.endswith("pyspark.zip")]
    assert worker_path(path) == path


def test_python_worker_imports_unpacked_pyspark(spark):
    """A task's worker has no zipimporter left to re-read and runs the
    pyspark version the JVM ships."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"zips": [json.dumps(zips)], "version": [pyspark.__version__]})

    rows = spark.range(2, numPartitions=2).mapInPandas(probe, "zips string, version string").collect()
    assert len(rows) == 2
    for row in rows:
        assert json.loads(row["zips"]) == []
        assert row["version"] == spark.version


_KERNEL_QUERY = """
import json, sys
sys.path.insert(0, {repo!r})
from nifi_minifi_cpp_spark.entry_queries import queries
from nifi_minifi_cpp_spark.session import get_spark
spark = get_spark("worker-cwd", cpus=2)
rows = queries()["poisson_bootstrap_ci"](spark, {sf_dir!r}).collect()
print(json.dumps(sorted(json.dumps(list(r), default=str) for r in rows)))
spark.stop()
"""


def test_kernel_query_runs_from_any_working_directory(spark, sf_dir, tmp_path):
    """``poisson_bootstrap_ci`` runs a ``mapInPandas`` kernel that the
    worker imports from this package; started from a directory that does
    not hold the package, the workers still find it."""
    from nifi_minifi_cpp_spark.entry_queries import queries

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = _KERNEL_QUERY.format(repo=str(REPO), sf_dir=sf_dir)
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    got = json.loads(done.stdout.strip().splitlines()[-1])
    rows = queries()["poisson_bootstrap_ci"](spark, sf_dir).collect()
    want = sorted(json.dumps(list(r), default=str) for r in rows)
    assert got and got == want
