"""``util.map_in_pandas``: every task first drops Spark's own cached zip
importers, so PySpark's per-task ``importlib.invalidate_caches()``
re-reads none of Spark's archives.

The rule is checked in child interpreters laid out as a Python worker
is (``pyspark.zip``, the py4j zip and the Spark core jar first on
``PYTHONPATH``), counting archive reads instead of timing them; then
in a live worker of the shared session.
"""

import glob
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPARK_HOME = os.environ.get("SPARK_HOME", "")
LIB = os.path.join(SPARK_HOME, "python", "lib")
SPARK_ARCHIVES = (sorted(glob.glob(os.path.join(LIB, "pyspark.zip")))
                  + sorted(glob.glob(os.path.join(LIB, "py4j-*-src.zip")))
                  + sorted(glob.glob(os.path.join(SPARK_HOME, "jars",
                                                  "spark-core_*.jar"))))

CHILD = """
import importlib, os, sys, zipimport

import userpkg.sub
import pyspark.worker
from perl_html5_dom_spark import util

spark_dir = os.path.dirname(sys.modules["pyspark"].__loader__.archive)


def spark_owned(archive):
    return archive.endswith(".jar") or os.path.dirname(archive) == spark_dir


def zips():
    return {k: f for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)}


before = zips()
assert isinstance(sys.modules["pyspark"].__loader__, zipimport.zipimporter)
assert sum(spark_owned(f.archive) for f in before.values()) >= 3, before
user = {k: f for k, f in before.items() if f.archive == USER_ZIP}
assert len(user) == 2, before   # the zip's root and its package directory

util._drop_spark_zip_finders()
after = zips()
assert not [k for k, f in after.items() if spark_owned(f.archive)], after
assert after == user, after     # the very same importer objects

reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or real(path)
importlib.invalidate_caches()
assert USER_ZIP in reads and not [p for p in reads if spark_owned(p)], \\
    reads   # the user zip still refreshes, Spark's archives do not

del reads[:]
import pyspark.ml.linalg
assert pyspark.ml.linalg.__file__.startswith(spark_dir), \\
    pyspark.ml.linalg.__file__
assert not [p for p in reads if spark_owned(p)], reads
print("ok")
"""

PLAIN = """
import sys, zipimport

import userpkg.sub
import pyspark
from perl_html5_dom_spark import util

assert not isinstance(getattr(pyspark, "__loader__", None),
                      zipimport.zipimporter)
before = dict(sys.path_importer_cache)
assert any(isinstance(f, zipimport.zipimporter) for f in before.values())
util._drop_spark_zip_finders()
assert sys.path_importer_cache == before
print("ok")
"""


def _user_zip(tmp_path) -> str:
    path = tmp_path / "user.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("userpkg/__init__.py", "")
        z.writestr("userpkg/sub/__init__.py", "VALUE = 1\n")
    return str(path)


def _run(code: str, pythonpath: list, user_zip: str) -> str:
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(pythonpath)}
    out = subprocess.run(
        [sys.executable, "-c", f"USER_ZIP = {user_zip!r}\n" + code],
        capture_output=True, text=True, timeout=120, cwd=ROOT, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


@pytest.mark.skipif(len(SPARK_ARCHIVES) != 3,
                    reason="needs $SPARK_HOME's pyspark/py4j zips and jar")
def test_worker_drops_only_spark_zip_importers(tmp_path):
    user_zip = _user_zip(tmp_path)
    assert _run(CHILD, [*SPARK_ARCHIVES, user_zip], user_zip) == "ok\n"


def test_unzipped_pyspark_leaves_cache_alone(tmp_path):
    user_zip = _user_zip(tmp_path)
    assert _run(PLAIN, [user_zip], user_zip) == "ok\n"


def test_live_worker_holds_no_spark_zip_importer(spark):
    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.util import map_in_pandas

    def probe(batches):
        # pickled by value (nested): the count of importers of Spark's
        # archives in this worker's cache, read before the batches,
        # whose decoding may import
        import os
        import sys
        import zipimport

        import pandas as pd

        loader = sys.modules["pyspark"].__loader__
        zipped = isinstance(loader, zipimport.zipimporter)
        lib = os.path.dirname(loader.archive) if zipped else None
        n = sum(isinstance(f, zipimport.zipimporter)
                and (f.archive.endswith(".jar")
                     or os.path.dirname(f.archive) == lib)
                for f in list(sys.path_importer_cache.values()))
        for _ in batches:
            pass
        yield pd.DataFrame({"zipped": [zipped], "n": [n]})

    pages = spark.createDataFrame(
        [(f"u{i}", f"<p>page {i}</p>") for i in range(20)],
        "url string, html string").coalesce(1)
    assert extract_pages(pages, fields=["url", "main_text"]).count() == 20
    got = map_in_pandas(pages, probe, "zipped boolean, n long").collect()
    assert [r["n"] for r in got] == [0], got


def test_sql_function_batch_drops_spark_zip_importers(spark):
    """The ``css_*`` SQL functions are pandas UDFs, not ``mapInPandas``:
    their batches drop Spark's importers themselves.  One projection
    runs three UDFs per batch in one worker, in order: ``_seed`` puts
    back an importer per Spark archive on the path, as a new worker
    holds them, then ``css_text`` runs and ``_left`` counts what is
    left."""
    from pyspark.sql.functions import pandas_udf

    from perl_html5_dom_spark.functions.register import register_all

    def spark_importers():
        # pickled by value (nested), as are the two UDFs below
        import os
        import sys
        import zipimport

        loader = sys.modules["pyspark"].__loader__
        lib = os.path.dirname(loader.archive)
        return [p for p in sys.path
                if p.endswith(".jar") or os.path.dirname(p) == lib]

    def seed(html):
        import sys
        import zipimport

        import pandas as pd

        cache = sys.path_importer_cache
        for path in spark_importers():
            cache.setdefault(path, zipimport.zipimporter(path))
        n = sum(isinstance(cache.get(p), zipimport.zipimporter)
                for p in spark_importers())
        return pd.Series([n] * len(html))

    def left(text):
        import sys
        import zipimport

        import pandas as pd

        cache = sys.path_importer_cache
        n = sum(isinstance(f, zipimport.zipimporter)
                and f.archive in spark_importers()
                for f in list(cache.values()))
        return pd.Series([n] * len(text))

    register_all(spark)
    spark.udf.register("_seed", pandas_udf(seed, "long"))
    spark.udf.register("_left", pandas_udf(left, "long"))
    spark.createDataFrame(
        [(f"u{i}", f"<p>page {i}</p>") for i in range(20)],
        "url string, html string").coalesce(1) \
        .createOrReplaceTempView("zip_probe_pages")
    try:
        got = spark.sql(
            "SELECT _seed(html) AS seeded, _left(css_text(html, 'p')) AS n "
            "FROM zip_probe_pages").collect()
    finally:
        spark.catalog.dropTempView("zip_probe_pages")
    assert len(got) == 20 and min(r["seeded"] for r in got) >= 1, got
    assert {r["n"] for r in got} == {0}, got
