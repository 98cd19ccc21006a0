"""Shared plumbing: the per-row kernel runner and SparkSession hygiene.

One runner, :func:`map_documents`, owns everything around the per-row
body of every Arrow kernel in the package — the HTML and PDF operators
(``extract_pages``, the ``css_*`` kernels, ``nodes_df``,
``extract_pdfs``), the text statistics (``quality_scores``,
``ngram_repetition``), the WARC/WET/CDX decoders, the catalog kernels
of ``queries.py`` and the corpus generators of ``sources/``.  It is
the analog of the reference's single Perl↔C binding layer (DOM.xs):
one ``mapInPandas`` pass whose batches cross the JVM→Python boundary
via Arrow, so batch, null, memo and containment policy live here once
and every operator keeps only its body.  The two MinHash/SimHash
signature kernels of ``operators/dedup.py`` keep their own batch
function: their numpy step runs once per batch across all distinct
texts (``reduceat``), which a per-row body cannot express.  They, and
the runner, reach Spark through :func:`map_in_pandas`, the package's
one call of ``DataFrame.mapInPandas``.

  * **memo** — web corpora carry 30-50% byte-identical pages (mirrors,
    re-crawls, session urls) and every body is a pure function of its
    payload, so each DISTINCT payload runs once per Arrow batch and
    replicas reuse its result.  The memo dies with the batch (bounded
    memory: at most one batch of results); on an all-distinct input it
    costs one dict probe per row;
  * **keys** — the ``keys`` columns are copied from the input onto
    every output row, never through the memo, so two rows sharing a
    payload keep their own key values;
  * **null payloads** — a row with a null payload value emits the
    operator's ``empty_row`` (``err`` null; all-``None`` mirrors SQL
    NULL, zeros mirror a count over nothing); a per-match operator emits
    no rows;
  * **containment** — ``max_bytes`` truncates an oversized payload
    before the body runs (HTML5 parsing is total, so the prefix still
    parses) and ``on_error="contain"`` turns a raising body into the
    empty result instead of failing the task; the ``err`` column, where
    an operator has one, says ``truncated: N > M bytes`` and/or
    ``Type: message``.  Operators without an ``err`` column fail fast.
  * **per-task setup** — PySpark calls ``importlib.invalidate_caches()``
    at the start of every task (PySpark 4.1.2
    ``pyspark/worker_util.py:144``, from ``worker.py:3355``), and on
    CPython 3.10+ every cached ``zipimporter`` then re-reads its
    archive's whole central directory (CPython 3.11
    ``zipimport.py:329-336``).  A worker caches one importer per
    package directory it imported from Spark's archives (the 3.5 MB
    ``pyspark.zip``, the py4j zip, the Spark core jar): 16 in a live
    worker, 140-220 ms of CPU per task.  So :func:`map_in_pandas`
    drops Spark's own zip importers from ``sys.path_importer_cache``
    before each task's first batch (:func:`_drop_spark_zip_finders`).
    The first task of a new worker still pays; a reused worker does
    not.  The ``css_*`` SQL functions (``functions/register.py``) are
    pandas UDFs, not ``mapInPandas``: they drop the importers at the
    start of every batch.  The two ``applyInPandasWithState`` operators
    (``operators/events.py``, ``streaming/ingest.py``) run per group
    and have no such hook.

Several operators lower dialect-portable SQL (the same text a DuckDB
oracle runs) onto Spark via temp views.  A fixed view name is fine for
a single job but collides when two jobs interleave on one shared
SparkSession — :func:`sql_over` gives every call its own name and
drops it immediately (``spark.sql`` analyzes eagerly, so the returned
DataFrame no longer needs the view).
"""

from __future__ import annotations

import atexit
import contextlib
import itertools
import os
import sys
import tempfile
import uuid
import zipimport
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

_counter = itertools.count()


def _drop_spark_zip_finders() -> None:
    """Delete from ``sys.path_importer_cache`` every ``zipimporter`` of
    Spark's own archives, so PySpark's per-task
    ``importlib.invalidate_caches()`` re-reads none of them.  Those are
    the archives in the directory ``pyspark`` was imported from
    (``$SPARK_HOME/python/lib``: ``pyspark.zip`` and the py4j zip) and
    the Spark core jar, which Spark also puts on the worker's path
    (``PythonUtils.sparkPythonPath``; 5k entries, the costliest
    re-read).  Does nothing where ``pyspark`` is not imported from a
    zip (a driver, an unzipped install).

    The cache is only a cache: the next import through a dropped path
    builds a new importer from ``zipimport._zip_directory_cache``
    without reading the archive, and Spark's archives do not change
    while a worker lives.  User ``--py-files`` zips live elsewhere (the
    SparkFiles directory) and keep their importers and their refresh."""
    loader = getattr(sys.modules.get("pyspark"), "__loader__", None)
    if not isinstance(loader, zipimport.zipimporter):
        return
    lib = os.path.dirname(loader.archive)
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
                finder.archive.endswith(".jar")
                or os.path.dirname(finder.archive) == lib):
            del cache[path]


def map_in_pandas(df: DataFrame, fn: Callable, schema: str) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` whose tasks first drop Spark's own
    cached zip importers (:func:`_drop_spark_zip_finders`; module
    docstring, per-task setup) — the package's one ``mapInPandas``."""
    def run(batches: Iterable) -> Iterator:
        _drop_spark_zip_finders()
        yield from fn(batches)

    return df.mapInPandas(run, schema=schema)


def map_documents(df: DataFrame, keys: tuple, payload, body: Callable,
                  columns: dict, *, empty_row: dict | None = None,
                  max_bytes: int | None = None,
                  on_error: str = "raise") -> DataFrame:
    """DataFrame(*keys, *payload) → DataFrame(*keys, *columns): ``body``
    run once per distinct non-null payload of each Arrow batch.

    ``keys`` names the input columns copied onto every output row, with
    their Spark types from ``df.schema``; they may overlap the payload.
    ``payload`` names one input column or a tuple of them: their values
    are the memo key and ``body``'s arguments (``max_bytes`` applies to
    a single payload column).  ``columns`` maps each column ``body``
    returns, plus ``err`` for per-document operators, to its Spark type
    in output order:

    * per-document operators pass ``empty_row`` (column → value, the row
      a null or failed payload emits) and ``body`` returns one such
      mapping;
    * per-match operators pass no ``empty_row`` and ``body`` returns
      ``(n, {column: list of n values})``; a null or failed payload
      emits no rows.

    Output is built column by column: keys are copied (per match:
    repeated) as whole arrays, and a memo hit costs one append (one
    list extend per match column) per body column.  Policy: see the
    module docstring."""
    keys = tuple(keys)
    payload = (payload,) if isinstance(payload, str) else tuple(payload)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    names = [*keys, *columns]
    sinks = [c for c in columns if c != "err"]
    schema = ", ".join([f"{k} {types[k]}" for k in keys]
                       + [f"{c} {t}" for c, t in columns.items()])
    empty = (empty_row if empty_row is not None else (0, {}), None)

    def one(data):
        err = None
        if max_bytes is not None and len(data[0]) > max_bytes:
            err = f"truncated: {len(data[0])} > {max_bytes} bytes"
            data = (data[0][:max_bytes],)
        try:
            return body(*data), err
        except Exception as exc:  # noqa: BLE001 — containment
            if on_error == "raise":
                raise
            msg = f"{type(exc).__name__}: {exc}"
            return empty[0], (f"{err}; {msg}" if err else msg)

    def run(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {c: [] for c in columns}
            errs = out.get("err")
            cols = [(out[c], c) for c in sinks]
            counts = []   # per-match: output rows of each input row
            memo: dict = {}
            for data in zip(*(pdf[p] for p in payload)):
                if None in data:
                    r, err = empty
                else:
                    hit = memo.get(data)
                    if hit is None:
                        hit = memo[data] = one(data)
                    r, err = hit
                if empty_row is not None:
                    for col, c in cols:
                        col.append(r[c])
                    if errs is not None:
                        errs.append(err)
                else:
                    n, d = r
                    counts.append(n)
                    if n:
                        for col, c in cols:
                            col.extend(d[c])
            for k in keys:
                v = pdf[k].values
                out[k] = v if empty_row is not None else v.repeat(counts)
            yield pd.DataFrame(out, columns=names)

    return map_in_pandas(df.select(*dict.fromkeys(keys + payload)), run,
                         schema)


@contextlib.contextmanager
def temp_view(df: DataFrame, prefix: str = "__v") -> Iterator[str]:
    """Register ``df`` under a collision-free unique temp-view name for
    the duration of the block; yields the name.

    The multi-statement sibling of :func:`sql_over` — for query
    builders that reference the same frame from several SQL strings
    (e.g. robots rules + url list).  The view is dropped on exit;
    ``spark.sql`` analyzes eagerly, so DataFrames built inside the
    block stay valid after it."""
    name = f"{prefix}_{next(_counter)}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)


def sql_over(builder: Callable[..., str], *dfs: DataFrame,
             prefix: str = "__v") -> DataFrame:
    """Run ``builder(name1, name2, ...)`` SQL over the given DataFrames.

    Each DataFrame is registered through :func:`temp_view`, under a
    collision-free unique name, and the views are dropped before
    returning (analysis is eager in ``spark.sql``), so concurrent jobs
    sharing one SparkSession never observe each other's views.
    """
    with contextlib.ExitStack() as views:
        names = [views.enter_context(temp_view(df, prefix)) for df in dfs]
        return dfs[0].sparkSession.sql(builder(*names))


#: (FileSystem, Path) of every checkpoint_parquet dir this process made
_checkpoints: list = []


def _delete_checkpoints() -> None:
    """atexit hook, registered on first use: a session exists by then,
    so PySpark's gateway-kill hook was registered earlier, and atexit
    runs hooks in reverse order — the JVM still answers here, even
    after ``spark.stop()``."""
    for fs, jpath in _checkpoints:
        fs.delete(jpath, True)


def checkpoint_parquet(df: DataFrame, prefix: str = "ckpt") -> DataFrame:
    """Materialize ``df`` to a fresh parquet dir and read it back — the
    intra-query intermediate for frames that several later stages SCAN
    repeatedly.

    Rationale (round 6, measured): a ``persist()`` stores deserialized
    InMemoryRelation batches whose repeated scans cost ~3x a
    vectorized parquet read on this engine (the bench.py corpus
    checkpoint documents the same); swapping the webtext pipeline's
    two persists for parquet round-trips took the capstone from
    12.4 s to 7.4 s at sf1.  A fresh directory per call means nothing
    is ever reused across invocations — every run recomputes from its
    own inputs (this is plan truncation, not result caching).

    The directory lives under the session's checkpoint dir
    (``SparkContext.setCheckpointDir``, which a cluster points at
    storage every executor can write) when one is set, else under the
    local temp dir.  Every directory made here is deleted through the
    session's Hadoop ``FileSystem`` when the interpreter exits."""
    sc = df.sparkSession.sparkContext
    path = os.path.join(sc.getCheckpointDir() or tempfile.gettempdir(),
                        f"spark_graft_{prefix}_{uuid.uuid4().hex}")
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not _checkpoints:
        atexit.register(_delete_checkpoints)
    _checkpoints.append(
        (jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath))
    df.write.parquet(path + "/data")
    return df.sparkSession.read.parquet(path + "/data")
