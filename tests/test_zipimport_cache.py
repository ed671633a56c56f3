"""importlib.invalidate_caches() re-reads a zip archive only when it changed
(cypher_guard_spark/_zipimport_cache.py): Spark's Python worker invalidates
at the start of every task, and Python < 3.12 answers by re-reading
pyspark.zip and the Spark jar each time."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="Python >= 3.12 re-reads lazily; nothing is installed"
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipcache_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zipcache_mod_a", "zipcache_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen: list = []
    read = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(archive, reads):
    assert importlib.import_module("zipcache_mod_a").X == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads


def test_changed_archive_is_reread(archive, reads):
    importlib.import_module("zipcache_mod_a")
    _write_zip(archive, {"zipcache_mod_a": "X = 1\n", "zipcache_mod_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zipcache_mod_b").Y == 2


def test_unreadable_archive_falls_back_to_original(archive):
    importlib.import_module("zipcache_mod_a")
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    # the original drops the archive's file data when it cannot be read
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_spark_worker_runs_the_patched_invalidation(spark):
    """A worker that ran one of the package's UDFs has the patch installed,
    and the task-start invalidation of a later task goes through it."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cypher_guard_spark.pipeline import pipeline_db_schema
    from cypher_guard_spark.spark import validate_dataframe

    # the worker pool hands out idle workers first-in first-out, so 32
    # one-row tasks reach every idle worker
    warm = spark.createDataFrame(
        [("MATCH (p:Person) RETURN p.firstName",)] * 32, ["cypher"]
    ).repartition(32)
    validate_dataframe(spark, warm, pipeline_db_schema()).collect()

    def report(s: pd.Series) -> pd.Series:
        # deliberately imports nothing from the package
        fn = zipimport.zipimporter.invalidate_caches
        read = getattr(sys.modules[fn.__module__], "_last_read", {})
        ok = any(p.endswith("pyspark.zip") for p in read)
        return pd.Series([f"{fn.__module__}:{ok}"] * len(s))

    rows = (
        spark.range(8)
        .repartition(8)
        .select(F.pandas_udf(report, "string")("id").alias("r"))
        .collect()
    )
    assert {r["r"] for r in rows} == {"cypher_guard_spark._zipimport_cache:True"}
