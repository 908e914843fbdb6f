"""Python workers import the installed pyspark, not Spark's zips.

The first tests build a synthetic ``$SPARK_HOME`` with zips standing in
for Spark's archives and need no Spark: ``pyworker`` drops the archives
only when an installed pyspark and py4j carry the same ``version.py``,
and never drops a user's archive. The last ones ask a live worker of
the ``spark`` fixture where its pyspark came from, and check that both
Python paths (a pandas UDF and an RDD shuffle) still return the right
rows.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import pyworker

REPO = pathlib.Path(__file__).resolve().parent.parent
VERSION = "__version__: str = '4.1.2'\n"


def _zip(path: pathlib.Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(site: pathlib.Path, name: str, version: str) -> None:
    (site / name).mkdir(parents=True)
    (site / name / "__init__.py").write_text(f"ORIGIN = {str(site)!r}\n")
    (site / name / "version.py").write_text(version)


def _layout(tmp: pathlib.Path, installed: str | None = VERSION, py4j: bool = True):
    """(spark home, the three Spark archives, a user archive, site dir)."""
    home = tmp / "spark"
    archives = [
        _zip(home / "python/lib/pyspark.zip",
             {"pyspark/__init__.py": "ORIGIN = 'zip'\n", "pyspark/version.py": VERSION}),
        _zip(home / "python/lib/py4j-0.10.9.9-src.zip",
             {"py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'\n"}),
        _zip(home / "jars/spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    user = _zip(tmp / "deps/deps.zip", {"helpers.py": ""})
    site = tmp / "site"
    site.mkdir()
    if installed is not None:
        _package(site, "pyspark", installed)
    if py4j:
        _package(site, "py4j", "__version__ = '0.10.9.9'\n")
    return str(home), archives, user, str(site)


def test_matching_versions_drop_sparks_archives_but_not_a_user_zip(tmp_path):
    _, archives, user, site = _layout(tmp_path)
    path = ["/work", *archives, user, site]
    assert pyworker.worker_path(path) == ["/work", user, site]


def test_without_the_spark_core_jar_nothing_is_dropped(tmp_path):
    _, archives, user, site = _layout(tmp_path)
    path = [*archives[:2], user, site]
    assert pyworker.worker_path(path) is path


@pytest.mark.parametrize(
    "installed, py4j",
    [("__version__: str = '4.0.0'\n", True), (None, True), (VERSION, False)],
    ids=["pyspark_version_differs", "no_installed_pyspark", "no_installed_py4j"],
)
def test_anything_but_a_match_keeps_the_path(tmp_path, installed, py4j):
    _, archives, user, site = _layout(tmp_path, installed, py4j)
    path = ["/work", *archives, user, site]
    assert pyworker.worker_path(path) is path


def _origin_after_switch(tmp_path, installed: str) -> dict:
    """In a fresh interpreter with the archives first on PYTHONPATH (as
    Spark starts a worker): sys.path, the importer cache and the
    pyspark imported after ``use_installed_pyspark``."""
    home, archives, user, site = _layout(tmp_path, installed)
    code = (
        "import json, sys\n"
        "from mapreduce_implementation_grpc_spark import pyworker\n"
        "pyworker.use_installed_pyspark()\n"
        "import pyspark\n"
        "print(json.dumps({'path': sys.path, 'cache': list(sys.path_importer_cache),\n"
        "                  'origin': pyspark.ORIGIN}))\n"
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([*archives, user, str(REPO), site])}
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=tmp_path,
                         capture_output=True, text=True, check=True)
    return {"home": home, "site": site, "archives": archives, **json.loads(out.stdout)}


def test_switch_forgets_the_archives_importers(tmp_path):
    got = _origin_after_switch(tmp_path, VERSION)
    assert got["origin"] == got["site"]
    assert not set(got["archives"]) & set(got["path"])
    assert not [k for k in got["cache"] if k.startswith(got["home"])]


def test_mismatch_imports_from_the_archive(tmp_path):
    got = _origin_after_switch(tmp_path, "__version__: str = '4.0.0'\n")
    assert got["origin"] == "zip"
    assert set(got["archives"]) <= set(got["path"])


def _worker_view():
    """A function for a worker to run: its pyspark's file and the paths
    of its zipimporters. Nested, so it is pickled by value (workers
    cannot import this test module)."""

    def view(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        return [(pyspark.__file__, zips)]

    return view


def test_rdd_worker_imports_installed_pyspark(spark):
    [(origin, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_view()).collect()
    assert os.path.isfile(origin), origin  # not a path inside a .zip
    assert zips == []


def test_pandas_udf_worker_imports_installed_pyspark_and_rows_hold(spark):
    view = _worker_view()

    @F.pandas_udf("string")
    def origin(x: pd.Series) -> pd.Series:
        [(file, zips)] = view(None)
        return pd.Series([f"{file}|{len(zips)}"] * len(x))

    @F.pandas_udf("long")
    def plus_one(x: pd.Series) -> pd.Series:
        return x + 1

    rows = spark.range(0, 100, 1, 4).select(
        "id", plus_one("id").alias("y"), origin("id").alias("o")
    ).collect()
    assert sorted((r.id, r.y) for r in rows) == [(i, i + 1) for i in range(100)]
    for file, n_zips in {tuple(r.o.rsplit("|", 1)) for r in rows}:
        assert os.path.isfile(file), file
        assert n_zips == "0"


def test_rdd_reduce_by_key_rows_hold(spark):
    words = ["a", "b", "a", "c", "b", "a"] * 50
    got = dict(
        spark.sparkContext.parallelize(words, 4)
        .map(lambda w: (w, 1))
        .reduceByKey(lambda a, b: a + b, 3)
        .collect()
    )
    assert got == {"a": 150, "b": 100, "c": 50}
