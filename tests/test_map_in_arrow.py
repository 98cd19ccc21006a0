"""``util.map_in_arrow``, ``util.scalar_udf`` and what is built on them.

Every task first runs ``util._task_setup``: it drops Spark's own cached
zip importers, so PySpark's per-task ``importlib.invalidate_caches()``
re-reads none of Spark's archives, and freezes the worker's heap once,
so the daemon's full collection after each task walks only new
objects.  The importer rule is checked in child interpreters laid out
as a Python worker is (``pyspark.zip``, the py4j zip and the Spark core
jar first on ``PYTHONPATH``), counting archive reads instead of timing
them; then, with the freeze, in a live worker of the shared session.

The runner's edge cases (empty and all-null batches, a two-column
payload with one null member, truncation of duplicated rows, per-match
duplicates around documents with no match, a timestamp key) are
compared with outputs recorded from the ``mapInPandas`` runner this
one replaced, and the ``css_*`` SQL functions' edge cases (NULL html,
selector and attribute name, an invalid selector, string and binary
html, duplicates across several Arrow batches) with outputs recorded
from the pandas UDFs that ``util.scalar_udf`` replaced, except that a
NULL selector now gives NULL from ``css_count`` too.  The per-batch
core they share, ``util.per_distinct``, is tested in-process.
"""

import datetime
import glob
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
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
    from perl_html5_dom_spark.util import map_in_arrow

    def probe(batches, out):
        # pickled by value (nested): the count of importers of Spark's
        # archives in this worker's cache and its frozen object count,
        # read before the batches, whose decoding may import
        import gc
        import os
        import sys
        import zipimport

        import pyarrow as pa

        loader = sys.modules["pyspark"].__loader__
        zipped = isinstance(loader, zipimport.zipimporter)
        lib = os.path.dirname(loader.archive) if zipped else None
        n = sum(isinstance(f, zipimport.zipimporter)
                and (f.archive.endswith(".jar")
                     or os.path.dirname(f.archive) == lib)
                for f in list(sys.path_importer_cache.values()))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays(
            [pa.array([zipped]), pa.array([n], pa.int64()),
             pa.array([gc.get_freeze_count()], pa.int64())], schema=out)

    pages = spark.createDataFrame(
        [(f"u{i}", f"<p>page {i}</p>") for i in range(20)],
        "url string, html string").coalesce(1)
    assert extract_pages(pages, fields=["url", "main_text"]).count() == 20
    got = map_in_arrow(pages, probe,
                       "zipped boolean, n long, frozen long").collect()
    assert [r["n"] for r in got] == [0], got
    assert got[0]["frozen"] > 0, got


def test_sql_function_batch_runs_task_setup(spark):
    """The ``css_*`` SQL functions are Arrow UDFs, not ``mapInArrow``:
    their batches run the per-task setup themselves.  One projection
    runs three Arrow UDFs per batch in one worker, in order: ``_seed``
    puts the worker back in a new worker's state (an importer per Spark
    archive on the path, an unfrozen heap), then ``css_text`` runs and
    ``_left`` reports what is left.  The three share one
    ``ArrowEvalPython`` node (UDFs of different eval types, such as a
    pandas UDF, would not), so they run in one worker."""
    from pyspark.sql.functions import arrow_udf

    from perl_html5_dom_spark.functions.register import register_all

    def spark_importers():
        # pickled by value (nested), as are the two UDFs below
        import os
        import sys

        loader = sys.modules["pyspark"].__loader__
        lib = os.path.dirname(loader.archive)
        return [p for p in sys.path
                if p.endswith(".jar") or os.path.dirname(p) == lib]

    def seed(html):
        import gc
        import sys
        import zipimport

        import pyarrow as pa

        cache = sys.path_importer_cache
        for path in spark_importers():
            cache.setdefault(path, zipimport.zipimporter(path))
        n = sum(isinstance(cache.get(p), zipimport.zipimporter)
                for p in spark_importers())
        gc.unfreeze()
        return pa.array([n] * len(html), pa.int64())

    def left(text):
        import gc
        import sys
        import zipimport

        import pyarrow as pa

        cache = sys.path_importer_cache
        n = sum(isinstance(f, zipimport.zipimporter)
                and f.archive in spark_importers()
                for f in list(cache.values()))
        return pa.array([n * 10**9 + gc.get_freeze_count()] * len(text),
                        pa.int64())

    register_all(spark)
    spark.udf.register("_seed", arrow_udf(seed, "long"))
    spark.udf.register("_left", arrow_udf(left, "long"))
    spark.createDataFrame(
        [(f"u{i}", f"<p>page {i}</p>") for i in range(20)],
        "url string, html string").coalesce(1) \
        .createOrReplaceTempView("zip_probe_pages")
    try:
        df = spark.sql(
            "SELECT _seed(html) AS seeded, _left(css_text(html, 'p')) AS n "
            "FROM zip_probe_pages")
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = df.collect()
    finally:
        spark.catalog.dropTempView("zip_probe_pages")
    nodes = [line for line in plan.splitlines() if "EvalPython" in line]
    assert len(nodes) == 1 and "ArrowEvalPython" in nodes[0], plan
    assert all(f in nodes[0] for f in ("_seed(", "_left(", "css_text(")), plan
    assert len(got) == 20 and min(r["seeded"] for r in got) >= 1, got
    # no Spark importer left (n // 10**9 == 0), and a frozen heap
    assert all(0 < r["n"] < 10**9 for r in got), got


FRESH_WORKER = """
import sys

from pyspark.sql import SparkSession

from perl_html5_dom_spark.functions.register import register_all
from perl_html5_dom_spark.operators import dedup, selector_ops
from perl_html5_dom_spark.operators.extract import extract_pages
from perl_html5_dom_spark.operators.nodes import nodes_df
from perl_html5_dom_spark.util import map_in_arrow
import pyarrow as pa


def probe(batches, out):
    # the worker's pid and whether it holds pandas; the batch is built
    # from buffers, as the package builds its columns
    import os
    import sys

    from perl_html5_dom_spark.util import arrow_column

    for _ in batches:
        pass
    yield pa.RecordBatch.from_arrays(
        [arrow_column(pa.int64())([os.getpid()]),
         arrow_column(pa.bool_())(["pandas" in sys.modules])], schema=out)


spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
pages = spark.createDataFrame(
    [(f"u{i}", f'<p id="x{i}">page <a href="/{i}">{i % 3}</a></p>'
      '<textarea>t</textarea>') for i in range(30)],
    "url string, html string")
docs = spark.createDataFrame([(i, f"the cat sat on mat {i % 4}")
                              for i in range(30)], "doc_id bigint, text string")
one = pages.limit(1)
first = map_in_arrow(one, probe, "pid bigint, pandas boolean").collect()
assert extract_pages(pages).count() == 30
assert selector_ops.css_find(pages, "a[href]").count() == 30
assert nodes_df(pages).count() > 30
register_all(spark)
pages.createOrReplaceTempView("pages")
assert spark.sql("SELECT sum(css_count(html, 'p')) FROM pages").first()[0] == 30
assert dedup._doc_minhash_sets(docs, 4, 2).count() == 30
assert dedup.simhash(docs).count() == 30
last = map_in_arrow(one, probe, "pid bigint, pandas boolean").collect()
spark.stop()
print(first[0]["pid"] == last[0]["pid"], last[0]["pandas"])
"""


def test_fresh_worker_never_imports_pandas():
    """Every runner path in one new ``local[1]`` worker — ``extract_pages``,
    ``css_find``, ``nodes_df`` with every column, a ``css_*`` SQL
    function and the two signature kernels — leaves no ``pandas`` in its
    ``sys.modules``: the package builds its Arrow columns from buffers,
    and ``pa.array`` would import pandas through pyarrow's shim.  A child
    session, because the shared one reuses workers that other tests'
    pandas operators may have given pandas.  The first and last probes
    run in the same worker, so it is that worker that ran every path."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])}
    out = subprocess.run([sys.executable, "-c", FRESH_WORKER],
                         capture_output=True, text=True, timeout=600,
                         cwd=ROOT, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-1] == "True False", out.stdout


# ---------------------------------------------------------------------------
# the per-batch core and the column builder, in-process
# ---------------------------------------------------------------------------

def test_per_distinct_calls_once_per_distinct_key():
    import pyarrow as pa

    from perl_html5_dom_spark.util import per_distinct

    a = pa.array(["x", None, "x", "y", None, "x", None])
    b = pa.array([1, 2, 1, 1, 2, None, None])
    calls = []
    results, take = per_distinct(
        [a, b], lambda key: calls.append(key) or f"r{len(calls)}")
    assert calls == [("x", 1), (None, 2), ("y", 1), ("x", None),
                     (None, None)]
    assert results == ["r1", "r2", "r3", "r4", "r5"]
    assert take.type == pa.int64()
    assert take.to_pylist() == [0, 1, 0, 2, 1, 3, 4]
    assert [calls[i] for i in take.to_pylist()] == list(
        zip(a.to_pylist(), b.to_pylist()))


def test_per_distinct_all_distinct_has_no_take():
    import pyarrow as pa

    from perl_html5_dom_spark.util import per_distinct

    assert per_distinct([pa.array([3, None, 2])],
                        lambda key: key) == ([(3,), (None,), (2,)], None)
    assert per_distinct([pa.array([], pa.binary())],
                        lambda key: key) == ([], None)


_SPAN = pa.list_(pa.field("element", pa.struct(
    [("node_id", pa.int64()), ("begin", pa.int64()), ("length", pa.int64())])))
_ATTRS = pa.map_(pa.string(), pa.string())
_PAIR = pa.struct([("a", pa.int64()), ("b", pa.string())])
_INTS = np.array([5, -1, 2**62], dtype=np.int64)
#: (type, values) for every type ``util.arrow_column`` covers, in the
#: shapes the package's kernels pass
_BUILDER_CASES = [
    (pa.string(), ["a", None, "", "h\u00e9llo \u2713", "x"]),
    (pa.string(), ["ascii", "only"]),
    (pa.string(), [None, None, None]),
    (pa.string(), ("\u00e9", "")),
    (pa.string(), []),
    (pa.binary(), [b"\xff\x00", None, b""]),
    (pa.binary(), [b"<p>", b"x"]),
    (pa.int64(), [1, None, -2**63, 2**63 - 1]),
    (pa.int64(), [3, 1, 2]),
    (pa.int64(), [None]),
    (pa.int64(), _INTS),
    (pa.int64(), np.ma.MaskedArray(_INTS, [False, True, False])),
    (pa.int64(), np.ma.MaskedArray(_INTS, [True, True, True])),
    (pa.int32(), [1, None, -3]),
    (pa.bool_(), [True, None, False]),
    (pa.bool_(), [True] * 9 + [False]),
    (pa.list_(pa.string()), [["a", None], [], None, ("\u00e9",)]),
    (pa.list_(pa.int64()), [(), (), ()]),
    (pa.list_(pa.bool_()), [[True, None], [False], None]),
    (pa.list_(pa.binary()), [[b"a", None], [b""]]),
    (pa.list_(pa.int32()), [[1, None], None]),
    (_SPAN, [[(1, 2, 3)], [], None, (), [(4, None, 6), (7, 8, 9)]]),
    (_SPAN, [[{"node_id": 1, "begin": 2, "length": 3}], [{"begin": 5}],
             None, []]),
    (_PAIR, [(1, "x"), None, (None, "y")]),
    (_PAIR, [{"a": 1}, None, {"b": "y"}]),
    (_ATTRS, [{"href": "/u", "id": None}, {}, None, {"\u00e9": "x"}]),
    (_ATTRS, [{}, {}]),
    (pa.list_(_ATTRS), [[{"a": "b"}], [], [None, {}]]),
]


@pytest.mark.parametrize("t, values", _BUILDER_CASES,
                         ids=lambda x: str(x) if isinstance(x, pa.DataType)
                         else "")
def test_arrow_column_equals_pa_array(t, values):
    """The buffer-built column equals ``pa.array`` on every covered type,
    with nulls, all-null and no-null columns, empty strings, lists and
    maps, non-ASCII text, ``()`` (the per-match empty value), structs
    from tuples and from dicts, and numpy int64 with and without a
    mask."""
    from perl_html5_dom_spark.util import arrow_column

    got = arrow_column(t)(values)
    got.validate(full=True)
    assert got.type == t
    assert got.equals(pa.array(values, t)), (got, values)


@pytest.mark.parametrize("t, name", [
    (pa.float64(), "double"), (pa.large_string(), "large_string"),
    (pa.list_(pa.float32()), "float"),
    (pa.map_(pa.string(), pa.timestamp("us")), "timestamp")])
def test_arrow_column_rejects_other_types(t, name):
    from perl_html5_dom_spark.util import arrow_column

    with pytest.raises(TypeError, match=f"type {name}"):
        arrow_column(t)


def test_unsupported_type_fails_before_any_job(spark):
    """A column type the builder does not cover fails on the driver, when
    the output schema is computed: the job group records no job."""
    from perl_html5_dom_spark.util import map_documents, scalar_udf

    sc = spark.sparkContext
    df = spark.createDataFrame([("a",)], "text string")
    sc.setJobGroup("unsupported_type", "no job may start")
    try:
        with pytest.raises(TypeError, match="double"):
            map_documents(df, (), "text", lambda text: {"x": 1.0},
                          {"x": "double"}, empty_row={"x": None}).collect()
        with pytest.raises(TypeError, match="double"):
            scalar_udf(float, "double")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(
        "unsupported_type")) == []


# ---------------------------------------------------------------------------
# the css_* SQL functions, against outputs of the pandas UDFs they replaced
# ---------------------------------------------------------------------------

_SQL_P = ('<title>T</title><p class="a">x <b>y</b></p>'
          '<a href="/u" id="k">l</a>')
_SQL_Q = "<body><div><p>one</p><p>two</p></div></body>"
_SQL_R = '<p>r</p><a name="n">m</a><a href="/v">w</a>'
_SQL_N = "<none>x</none><p>y</p>"
#: html → recorded (css_inner_text, css_main_text)
_SQL_TEXTS = {None: (None, None), _SQL_P: ("x y\n\nl", "x y"),
              _SQL_Q: ("one\n\ntwo\n\n", "one\n\ntwo"),
              _SQL_R: ("r\n\nmw", "r"), _SQL_N: ("x\ny\n\n", "y")}
_LINK_P = ("l", 1, '<a href="/u" id="k">l</a>')
_SQL_CASES = [
    # id, html, selector, attribute name, then the recorded css_text,
    # css_count, css_html and css_attr
    (0, None, "p", "href", None, None, None, None),
    (1, _SQL_P, None, "href", None, None, None, None),  # NULL selector
    (2, _SQL_P, "a", None, *_LINK_P, None),            # NULL name
    (3, _SQL_P, "p[", "href", None, 0, None, None),    # invalid selector
    (4, _SQL_P, "a", "href", *_LINK_P, "/u"),
    (5, _SQL_Q, "p", "id", "one", 2, "<p>one</p>", None),
    (6, _SQL_P, "a", "href", *_LINK_P, "/u"),
    (7, _SQL_R, "a", "href", "m", 2, '<a name="n">m</a>', None),
    (8, None, "p", "href", None, None, None, None),
    (9, _SQL_Q, "p", "id", "one", 2, "<p>one</p>", None),
    (10, _SQL_P, "a", "href", *_LINK_P, "/u"),
    (11, _SQL_R, "a[href]", "href", "w", 1, '<a href="/v">w</a>', "/v"),
    (12, _SQL_P, None, "href", None, None, None, None),
    (13, _SQL_R, "a", "href", "m", 2, '<a name="n">m</a>', None),
    (14, _SQL_Q, "div > p:nth-child(2)", "x", "two", 1, "<p>two</p>", None),
    (15, _SQL_P, "p[", "href", None, 0, None, None),
    (16, _SQL_P, "a", None, *_LINK_P, None),
    (17, _SQL_Q, "p", "id", "one", 2, "<p>one</p>", None),
    # a NULL selector is NULL, not the selector text "None"
    (18, _SQL_N, None, "href", None, None, None, None),
]


@pytest.mark.parametrize("kind", ["string", "binary"])
def test_sql_functions_match_recorded(spark, kind):
    """Three rows per Arrow batch over one partition: seven batches,
    with duplicates inside one batch (rows 4 and 6) and across batches,
    and all-distinct batches.  Any NULL argument gives NULL (rows 1, 12
    and 18: the recorded ``css_count`` of a NULL selector was 0)."""
    from perl_html5_dom_spark.functions.register import register_all

    register_all(spark)
    rows = [(i, h if h is None or kind == "string" else h.encode(), s, n)
            for i, h, s, n, *_ in _SQL_CASES]
    spark.createDataFrame(
        rows, f"id long, html {kind}, sel string, name string") \
        .coalesce(1).createOrReplaceTempView("sql_cases")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = [tuple(r) for r in spark.sql(
            "SELECT id, css_text(html, sel), css_count(html, sel), "
            "css_html(html, sel), css_inner_text(html), "
            "css_main_text(html), css_attr(html, sel, name) "
            "FROM sql_cases ORDER BY id").collect()]
    finally:
        spark.conf.set(key, before)
        spark.catalog.dropTempView("sql_cases")
    assert got == [(i, text, n, html_out, *_SQL_TEXTS[h], attr)
                   for i, h, _, _, text, n, html_out, attr in _SQL_CASES]


# ---------------------------------------------------------------------------
# runner edge cases, against outputs recorded from earlier runners
# ---------------------------------------------------------------------------

_HTML = "url string, html binary"
_BIG = b"<p>" + b"word " * 40 + b"</p><p>tail</p>"
_A = b"<p>one</p><div><p>two</p></div>"
_B = b"<div>none</div>"
_C = b"<p>a</p><p>b</p><section><p>c</p></section>"
_T0 = datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)
_EXTRACT_SCHEMA = (
    "struct<url:string,encoding:string,title:string,main_text:string,"
    "inner_text:string,text_content:string,n_nodes:bigint,n_elements:bigint,"
    "spans:array<struct<node_id:bigint,begin:bigint,length:bigint>>,"
    "err:string>")
_FIND_SCHEMA = ("struct<url:string,node_id:bigint,ord:bigint,tag:string,"
                "begin:bigint,length:bigint>")


def _edge_case(spark, name):
    """(output DataFrame, recorded schema or None, recorded rows)."""
    from perl_html5_dom_spark.operators import selector_ops as so
    from perl_html5_dom_spark.operators import textstats as ts
    from perl_html5_dom_spark.operators.extract import (
        ALL_FIELDS, extract_pages)
    from perl_html5_dom_spark.sources import warc
    from perl_html5_dom_spark.util import map_documents

    def frame(rows, schema=_HTML):
        return spark.createDataFrame(rows, schema).coalesce(1)

    def extract(df):
        return extract_pages(df, fields=ALL_FIELDS + ("err",))

    trunc = "truncated: 218 > 40 bytes"
    word = "word word word word word word word wo"
    empty = ("", "", "", "", "", 0, 0, [], None)
    return {
        "empty_batch": lambda: (
            extract(spark.createDataFrame([], _HTML)), _EXTRACT_SCHEMA, []),
        "empty_batch_per_match": lambda: (
            so.css_find(spark.createDataFrame([], _HTML), "p"),
            _FIND_SCHEMA, []),
        "all_null": lambda: (
            extract(frame([("a", None), ("b", None)])), None,
            [("a", *empty), ("b", *empty)]),
        "all_null_per_match": lambda: (
            so.css_find(frame([("a", None), ("b", None)]), "p"), None, []),
        "pair_with_null_member": lambda: (
            warc.roundtrip_df(frame(
                [(None, b"<p>x</p>"), ("u", None), ("u2", b"<p>y</p>"),
                 ("u2", b"<p>y</p>"), ("u3", b"<p>z</p>")])), None,
            [(None, None), (None, None), ("u2", b"<p>y</p>"),
             ("u2", b"<p>y</p>"), ("u3", b"<p>z</p>")]),
        "pair_with_key_in_payload": lambda: (
            map_documents(
                frame([(1, "a"), (2, None), (3, "a"), (1, "a"), (4, "b")],
                      "doc_id long, text string"),
                ("doc_id",), ("doc_id", "text"),
                lambda did, text: {"s": f"{did}:{text}", "n": did * 2},
                {"s": "string", "n": "bigint"},
                empty_row={"s": None, "n": None}), None,
            [(1, "1:a", 2), (2, None, None), (3, "3:a", 6), (1, "1:a", 2),
             (4, "4:b", 8)]),
        "truncated_duplicates": lambda: (
            extract_pages(
                frame([("a", _BIG), ("b", _BIG), ("c", b"<p>small</p>"),
                       ("d", _BIG)]),
                fields=("url", "main_text", "n_nodes", "err"),
                max_html_bytes=40), None,
            [("a", word, 6, trunc), ("b", word, 6, trunc),
             ("c", "small", 6, None), ("d", word, 6, trunc)]),
        "per_match_interleaved": lambda: (
            so.css_find(frame([(f"u{i}", d) for i, d in enumerate(
                [_A, _B, _A, _C, _B, _A, None, _C])]), "p"), None,
            [(u, *m) for u, ms in (("u0", "A"), ("u2", "A"), ("u3", "C"),
                                   ("u5", "A"), ("u7", "C"))
             for m in {"A": [(4, 4, "p", 0, 3), (7, 7, "p", 15, 3)],
                       "C": [(4, 4, "p", 0, 3), (6, 6, "p", 8, 3),
                             (9, 9, "p", 25, 3)]}[ms]]),
        "per_match_all_distinct": lambda: (
            so.css_find(frame([("u0", _A), ("u1", _B), ("u2", _C)]), "p"),
            _FIND_SCHEMA,
            [("u0", 4, 4, "p", 0, 3), ("u0", 7, 7, "p", 15, 3),
             ("u2", 4, 4, "p", 0, 3), ("u2", 6, 6, "p", 8, 3),
             ("u2", 9, 9, "p", 25, 3)]),
        "per_match_no_keys": lambda: (
            map_documents(
                frame([("a bb",), (None,), ("ccc",), ("a bb",), ("",),
                       (None,), ("ccc",)], "text string"),
                (), "text",
                lambda text: {"word": (w := text.split()),
                              "n": [len(x) for x in w]},
                {"word": "string", "n": "bigint"}),
            "struct<word:string,n:bigint>",
            [("a", 1), ("bb", 2), ("ccc", 3), ("a", 1), ("bb", 2),
             ("ccc", 3)]),
        "timestamp_key": lambda: (
            ts.quality_scores(frame(
                [(1, "the cat and the dog", _T0),
                 (2, "the cat and the dog", None),
                 (3, None, _T0 + datetime.timedelta(days=1)),
                 (4, "solo", _T0 - datetime.timedelta(seconds=1))],
                "doc_id long, text string, ts timestamp"), carry=("ts",)),
            "struct<doc_id:bigint,n_chars:bigint,n_tokens:bigint,"
            "avg_token_len:double,stopword_ratio:double,alpha_ratio:double,"
            "ts:timestamp,quality:double>",
            [(1, 19, 5, 3.0, 0.6, 0.789474, _T0, 0.759869),
             (2, 19, 5, 3.0, 0.6, 0.789474, None, 0.759869),
             (3, None, None, None, None, None,
              _T0 + datetime.timedelta(days=1), None),
             (4, 4, 1, 4.0, 0.0, 1.0, _T0 - datetime.timedelta(seconds=1),
              0.5125)]),
    }[name]()


@pytest.mark.parametrize("name", [
    "empty_batch", "empty_batch_per_match", "all_null", "all_null_per_match",
    "pair_with_null_member", "pair_with_key_in_payload",
    "truncated_duplicates", "per_match_interleaved",
    "per_match_all_distinct", "per_match_no_keys", "timestamp_key"])
def test_runner_edge_case_matches_recorded(spark, name):
    """One partition, so each case is one Arrow batch and one memo."""
    df, schema, rows = _edge_case(spark, name)
    if schema is not None:
        assert df.schema.simpleString() == schema
    assert [tuple(r) for r in df.collect()] == rows
