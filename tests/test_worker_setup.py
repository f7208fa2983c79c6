"""The Spark worker archive pin (``olive_spark._pin_spark_archives``).

Importing ``olive_spark`` inside a Spark Python worker makes pyspark's
per-round-trip ``importlib.invalidate_caches()`` skip the archives under
``$SPARK_HOME`` (pyspark.zip, py4j, the spark-core jar); every other
archive, ``addPyFile`` ones included, is still re-read.  The first two
tests run a subprocess without Spark and count
``zipimport._read_directory`` calls; the last asks a real worker.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Puts three one-module zips on sys.path — one under $SPARK_HOME, one
# under a SparkFiles root inside $SPARK_HOME (where addPyFile archives
# land on a standalone worker), one outside — imports from each, then
# prints which archives one invalidate_caches() re-reads.
_PROBE = r"""
import importlib, json, os, sys, zipimport
home, outside = sys.argv[1], sys.argv[2]
sys.path[:0] = [
    os.path.join(home, "python", "lib", "inside.zip"),
    os.path.join(home, "work", "added.zip"),
    os.path.join(outside, "outside.zip"),
]
import olive_spark
from pyspark.core.files import SparkFiles
SparkFiles._root_directory = os.path.join(home, "work")
olive_spark._pin_spark_archives()
import inside_mod, added_mod, outside_mod
reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
importlib.invalidate_caches()
print(json.dumps({
    "reads": sorted(os.path.basename(a) for a in reads),
    "patched": hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"),
    "once": not hasattr(
        getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__", None),
        "__wrapped__",
    ),
}))
"""


def _zip(path, module: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", "VALUE = 1\n")


def _probe(tmp_path, worker: bool) -> dict:
    home, outside = tmp_path / "spark_home", tmp_path / "elsewhere"
    _zip(home / "python" / "lib" / "inside.zip", "inside_mod")
    _zip(home / "work" / "added.zip", "added_mod")
    _zip(outside / "outside.zip", "outside_mod")
    env = dict(os.environ, SPARK_HOME=str(home))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    env.pop("PYTHON_WORKER_FACTORY_SECRET", None)
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test-secret"
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(home), str(outside)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_worker_pins_only_spark_home_archives(tmp_path):
    got = _probe(tmp_path, worker=True)
    assert got["patched"] and got["once"]
    # inside.zip is pinned; the SparkFiles-root and outside zips refresh
    assert got["reads"] == ["added.zip", "outside.zip"]


def test_non_worker_process_is_untouched(tmp_path):
    got = _probe(tmp_path, worker=False)
    assert not got["patched"]
    assert got["reads"] == ["added.zip", "inside.zip", "outside.zip"]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from olive_spark import register_olive

    register_olive(s)
    yield s


def test_spark_worker_pins_spark_archives_not_added_files(spark, tmp_path):
    table = str(tmp_path / "t")
    spark.range(100).write.format("olive").mode("overwrite").save(table)
    assert spark.read.format("olive").load(table).count() == 100

    added = str(tmp_path / "olive_pin_probe.zip")
    _zip(added, "olive_pin_probe")
    spark.sparkContext.addPyFile(added)

    def report(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import olive_pin_probe  # noqa: F401  (caches the added zip's importer)
        import olive_spark  # noqa: F401

        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        archives = {
            os.path.realpath(p)
            for p in sys.path
            if p.endswith((".zip", ".jar")) and os.path.isfile(p)
        }
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        refreshed = {os.path.realpath(a) for a in reads}
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [
                {"archive": a, "spark_home": a.startswith(home), "refreshed": a in refreshed}
                for a in sorted(archives)
            ]
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(report, "archive string, spark_home boolean, refreshed boolean")
        .collect()
    )
    by_name = {os.path.basename(r.archive): r for r in rows}
    assert "pyspark.zip" in by_name, sorted(by_name)
    for r in rows:
        if r.spark_home:
            assert not r.refreshed, r.archive
    probe = by_name["olive_pin_probe.zip"]
    assert not probe.spark_home and probe.refreshed
