"""Which PySpark the Python workers of a ``get_spark`` session import.

The daemon module (``streaming_downsampling_spark._daemon``) drops Spark's
``pyspark.zip``/py4j/spark-core archives from the workers' path so that
``importlib.invalidate_caches()`` before each task has no zip central
directory to re-read."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from streaming_downsampling_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPARK_PATH = [
    "/work",
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
    "/usr/lib/python3.11",
    "/venv/site-packages",
]
KEPT = ["/work", "/usr/lib/python3.11", "/venv/site-packages"]


def _worker_report(spark) -> dict:
    """Run one ``mapInArrow`` task and return what its worker imported."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "file": [pyspark.__file__],
                "version": [pyspark.__version__],
                "zips": [zips],
            }
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "file string, version string, zips long")
        .collect()
    )
    return rows[0].asDict()


def _in_archive(path: str) -> bool:
    return any(part.endswith((".zip", ".jar")) for part in path.split(os.sep))


def test_workers_import_installed_pyspark(spark):
    import pyspark

    report = _worker_report(spark)
    assert not _in_archive(report["file"]), report
    assert report["zips"] == 0, report
    assert report["version"] == pyspark.__version__


def _stub_find_spec(locations: dict[str, str | None]):
    def find_spec(name, path):
        origin = locations[name]
        if origin is None or os.path.dirname(os.path.dirname(origin)) not in path:
            return None
        return SimpleNamespace(origin=origin)

    return find_spec


def test_archives_dropped_when_both_packages_resolve_outside():
    find_spec = _stub_find_spec(
        {
            "pyspark": "/venv/site-packages/pyspark/__init__.py",
            "py4j": "/venv/site-packages/py4j/__init__.py",
        }
    )
    assert _daemon.without_spark_archives(SPARK_PATH, find_spec) == KEPT


@pytest.mark.parametrize("only_in_zip", ["pyspark", "py4j"])
def test_path_unchanged_when_a_package_lives_only_in_an_archive(only_in_zip):
    find_spec = _stub_find_spec(
        {
            "pyspark": "/venv/site-packages/pyspark/__init__.py",
            "py4j": "/venv/site-packages/py4j/__init__.py",
            only_in_zip: None,
        }
    )
    out = _daemon.without_spark_archives(SPARK_PATH, find_spec)
    assert out == SPARK_PATH


def test_path_unchanged_when_a_package_resolves_into_another_archive():
    def find_spec(name, path):
        return SimpleNamespace(origin=f"/site/user-deps.zip/{name}/__init__.py")

    assert _daemon.without_spark_archives(SPARK_PATH, find_spec) == SPARK_PATH


def test_path_without_spark_archives_is_returned_as_is():
    def find_spec(name, path):
        raise AssertionError("nothing to drop, nothing to resolve")

    assert _daemon.without_spark_archives(KEPT, find_spec) == KEPT


def test_daemon_starts_from_any_working_directory(tmp_path):
    """A driver outside the checkout, with no ``PYTHONPATH``, still starts
    the daemon module: ``get_spark`` puts the package root on the workers'
    path itself."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        sys.path.insert(0, {os.path.join(REPO, "tests")!r})
        from streaming_downsampling_spark.session import get_spark
        from test_session import _worker_report

        spark = get_spark(app_name="daemon-cwd", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(_worker_report(spark)))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert not _in_archive(report["file"]), report
    assert report["zips"] == 0, report
