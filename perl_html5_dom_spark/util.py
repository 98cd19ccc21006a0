"""Shared plumbing: the per-row kernel runner and SparkSession hygiene.

One runner, :func:`map_documents`, owns everything around the per-row
body of every Arrow kernel in the package — the HTML and PDF operators
(``extract_pages``, the ``css_*`` kernels, ``nodes_df``,
``extract_pdfs``), the text statistics (``quality_scores``,
``ngram_repetition``), the WARC/WET/CDX decoders, the catalog kernels
of ``queries.py`` and the corpus generators of ``sources/``.  It is
the analog of the reference's single Perl↔C binding layer (DOM.xs):
one ``mapInArrow`` pass whose batches cross the JVM→Python boundary
as Arrow record batches, so batch, null, memo and containment policy
live here once and every operator keeps only its body.  The two
MinHash/SimHash signature kernels of ``operators/dedup.py`` keep only
their numpy step, which runs once per batch across all distinct texts
(``reduceat``) and which a per-row body cannot express.  They, and the
runner, reach Spark through :func:`map_in_arrow`, the package's one
call of ``DataFrame.mapInArrow``.  The SQL-callable scalar functions
(the ``css_*`` family of ``functions/register.py``, the NFC step of
``textstats.normalize_text``) are Arrow UDFs made by
:func:`scalar_udf`, the package's one ``arrow_udf``.  The runner, the
UDFs and the two signature kernels share one per-batch core,
:func:`per_distinct`, the package's only ``to_pylist``, and one column
builder, :func:`arrow_column`.

  * **per distinct document, not per row** — web corpora carry 30-50%
    byte-identical pages (mirrors, re-crawls, session urls) and every
    body is a pure function of its payload, so each DISTINCT payload
    runs once per Arrow batch (:func:`per_distinct`).  The batch's
    payload columns become Python values once (``to_pylist``) and one
    dict probe per row maps each row to its distinct payload; each
    output column is built once, as one Arrow array over the distinct
    results, and copied onto the rows with Arrow ``take``.  So a memo
    hit costs one probe and no Python per output value, and no column
    passes through pandas.  A per-match operator's column is one Arrow
    list per distinct result, and Arrow turns the taken lists into one
    row per match (``list_parent_indices``, ``flatten``), so the runner
    has one result shape.  The memo dies with the batch (bounded
    memory: at most one batch of results); on an all-distinct input
    the ``take`` is skipped.  Each caller keeps its own null policy
    (the runner: below; a :func:`scalar_udf`: any NULL argument gives
    NULL; the signature kernels: as their SQL twins);
  * **columns from buffers** (:func:`arrow_column`) — each output
    column, and the ``take`` index, is built with
    ``pa.Array.from_buffers`` over ``array``-module, numpy and bytes
    buffers and a validity bitmap, never with ``pa.array``: before it
    converts a Python list or numpy array, ``pa.array`` asks pyarrow's
    pandas shim whether the input is a pandas object, and the shim's
    first call imports ``pandas`` and ``pyarrow.pandas_compat`` (pyarrow
    16.1 ``array.pxi``, ``pandas-shim.pxi``), about 35 MB of resident
    memory and 0.2-0.3 s of CPU in every Spark Python worker, though no
    kernel uses pandas.  So no worker that runs only the package's
    Arrow kernels imports pandas.  The builder covers exactly the types
    the kernels emit and rejects any other on the driver, before a job
    runs; there is no ``pa.array`` path to fall back on.  The shim is
    left alone (no ``sys.modules`` entry is faked): it caches a failed
    import, and a pandas UDF or ``applyInPandasWithState`` operator on
    the same reused worker needs it;
  * **keys** — the ``keys`` columns are copied from the input batch onto
    every output row as Arrow arrays (per match: taken once per
    match), never through the memo, so two rows sharing a payload keep
    their own key values;
  * **exact types** — ``mapInArrow`` does not cast what a task returns,
    so every output column's Arrow type is computed on the driver from
    its declared Spark type (``to_arrow_schema``) and each column is
    built as, or cast to, that type (a key column whose type already
    matches is passed on as it is);
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
  * **per-task setup** (:func:`_task_setup`) — two PySpark costs of a
    reused Python worker that have nothing to do with the data:

    - PySpark calls ``importlib.invalidate_caches()`` at the start of
      every task (PySpark 4.1.2 ``pyspark/worker_util.py:144``, from
      ``worker.py:3355``), and on CPython 3.10+ every cached
      ``zipimporter`` then re-reads its archive's whole central
      directory (CPython 3.11 ``zipimport.py:329-336``).  A worker
      caches one importer per package directory it imported from
      Spark's archives (the 3.5 MB ``pyspark.zip``, the py4j zip, the
      Spark core jar): 16 in a live worker, 140-220 ms of CPU per task.
      So each task first drops Spark's own zip importers from
      ``sys.path_importer_cache`` (:func:`_drop_spark_zip_finders`).
    - PySpark's daemon runs a full ``gc.collect()`` after every task of
      a reused worker (``pyspark/daemon.py:244``), which walks every
      tracked object that pyspark, pyarrow and this package hold
      (``gc.get_freeze_count()`` in a live worker: about 43k at its
      first task and 47k after an ``extract_pages`` task, 11-17 ms a
      collection in a ``local[1]`` worker on a 4-core box; 74k and
      23-44 ms when ``pa.array`` had loaded pandas).  So every task
      first calls ``gc.freeze()``, which moves what is alive to the
      permanent generation in O(1): the collection after the task walks
      only the objects the task made.  Freezing at each task start, not
      once, also covers the modules and caches that a worker's first
      tasks import and fill (about 4k objects after one
      ``extract_pages`` task).  It leaks nothing: at a task's
      start the daemon has just collected, so what is alive is
      reachable, and the package's kernels leave no cyclic garbage
      (none found after ``extract_one``, the ``css_*`` functions, PDF
      extraction and selector-cache evictions), so freed objects go by
      reference count as before.

    The first task of a new worker still pays for the importers; a
    reused worker does not.  Every task of :func:`map_in_arrow` and
    every batch of a :func:`scalar_udf` (the ``css_*`` SQL functions,
    NFC) runs the setup.  The two ``applyInPandasWithState``
    operators (``operators/events.py``, ``streaming/ingest.py``) run per
    group and have no such hook.

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
import gc
import itertools
import os
import sys
import tempfile
import uuid
import zipimport
from array import array
from functools import lru_cache, partial
from typing import Callable, Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import _parse_datatype_string

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


def _task_setup() -> None:
    """The per-task setup of every Python task the package runs (module
    docstring): drop Spark's cached zip importers, and freeze the heap,
    so the daemon's full collection after the task walks only the
    objects made since."""
    _drop_spark_zip_finders()
    gc.freeze()


def _cast(col, t):
    """The Arrow array ``col`` as type ``t``; no copy when it is one."""
    return col if col.type == t else col.cast(t)


def _offsets(values) -> array:
    """The int32 offsets of a variable-size Arrow array over ``values``:
    0, then the running total of their lengths (``OverflowError`` past
    2 GiB, where ``pa.array`` would have split the column)."""
    return array("i", [0, *itertools.accumulate(map(len, values))])


def _varbinary(empty, values) -> tuple:
    """``string`` (``empty`` is ``""``) or ``binary`` (``b""``): one
    join; an all-ASCII text is its own UTF-8 (``isascii`` is O(1))."""
    data = empty.join(values)
    if type(data) is str:
        if data.isascii():
            data = data.encode()
        else:
            values = [v.encode() for v in values]
            data = b"".join(values)
    return [_offsets(values), data], None


def _fixed(code, values) -> tuple:
    """``bigint`` (``code`` ``"q"``) or ``int`` (``"i"``)."""
    if isinstance(values, np.ndarray):
        return [np.ascontiguousarray(values, code)], None
    return [array(code, values)], None


def _bools(values) -> tuple:
    return [np.packbits(array("b", values), bitorder="little")], None


def _list(item: Callable, values) -> tuple:
    return [_offsets(values)], [item(list(itertools.chain.from_iterable(
        values)))]


def _map(entries: Callable, rows) -> tuple:
    """A ``map`` is a list of ``(key, value)`` structs: its dict rows'
    items."""
    return [_offsets(rows)], [entries(list(itertools.chain.from_iterable(
        map(dict.items, rows))))]


def _struct(names: tuple, fields: list, rows) -> tuple:
    """Rows as tuples in field order, or as dicts by field name (a
    missing name is null)."""
    if set(map(type, rows)) - {tuple}:
        rows = [tuple(map(r.get, names)) if isinstance(r, dict)
                else tuple(r) for r in rows]
    cols = list(zip(*rows)) if rows else [()] * len(fields)
    if len(cols) != len(fields):
        raise ValueError(f"struct rows of {len(cols)} values, not "
                         f"{len(fields)}")
    return [], [f(c) for f, c in zip(fields, cols)]


def _column(t, kernel: Callable, fill, values):
    """One Arrow array of type ``t`` over ``values`` (a list or tuple,
    or numpy integers with or without a mask).  ``kernel(values)`` gives
    the buffers after the validity bitmap and the child arrays, and
    raises ``TypeError`` on a ``None``; then the values go through it
    once more with each ``None`` replaced by ``fill``, under a validity
    bitmap.  So a column without nulls pays no null scan."""
    import pyarrow as pa

    valid, nulls = None, 0
    if isinstance(values, np.ndarray):
        valid = ~np.ma.getmaskarray(values)
        values = np.ma.getdata(values)
        nulls = len(values) - int(np.count_nonzero(valid))
        buffers, children = kernel(values)
    else:
        try:
            buffers, children = kernel(values)
        except TypeError:
            nulls = values.count(None)
            if nulls == len(values):
                return pa.nulls(nulls, t)
            valid = [v is not None for v in values]
            buffers, children = kernel(
                [fill if v is None else v for v in values])
    validity = np.packbits(valid, bitorder="little") if nulls else None
    return pa.Array.from_buffers(
        t, len(values), [None if b is None else pa.py_buffer(b)
                         for b in (validity, *buffers)],
        nulls, children=children)


@lru_cache(maxsize=None)
def arrow_column(t) -> Callable:
    """The builder of one Arrow array of type ``t`` from Python values,
    which takes them in the shapes ``pa.array`` takes: a list or tuple
    (``None`` is null), struct rows as tuples or dicts, map rows as
    dicts, or numpy integers with or without a mask.  It covers the
    types that the package's kernels emit: ``string``, ``binary``,
    ``bigint``, ``int``, ``boolean``, and ``list``/``struct``/``map`` of
    these; any other raises ``TypeError`` here (no ``pa.array`` path:
    module docstring).  Cached: one builder per column type declared."""
    import pyarrow as pa

    leaves = {pa.string(): (partial(_varbinary, ""), ""),
              pa.binary(): (partial(_varbinary, b""), b""),
              pa.int64(): (partial(_fixed, "q"), 0),
              pa.int32(): (partial(_fixed, "i"), 0),
              pa.bool_(): (_bools, False)}
    if t in leaves:
        kernel, fill = leaves[t]
    elif pa.types.is_list(t):
        kernel, fill = partial(_list, arrow_column(t.value_type)), ()
    elif pa.types.is_map(t):
        kernel, fill = partial(_map, arrow_column(
            pa.struct([t.key_field, t.item_field]))), {}
    elif pa.types.is_struct(t):
        kernel = partial(_struct, tuple(f.name for f in t),
                         [arrow_column(f.type) for f in t])
        fill = (None,) * t.num_fields
    else:
        raise TypeError(f"no Arrow column builder for type {t}")
    return partial(_column, t, kernel, fill)


def per_distinct(columns, one: Callable) -> tuple:
    """``(results, take)`` over Arrow ``columns`` of equal length:
    ``one(key)`` runs once per distinct tuple of the rows' Python values
    (``to_pylist``; a null is ``None`` and is keyed like any value), and
    ``results[i]`` is its result for the ``i``-th distinct tuple met.
    ``take`` is the int64 Arrow array that maps each row to its place
    in ``results``, or ``None`` when every row is distinct (so
    ``results`` is already in row order).  No null policy: each caller
    decides what a ``None`` in its key means."""
    import pyarrow as pa

    memo, results, index = {}, [], []
    for key in zip(*(c.to_pylist() for c in columns)):
        i = memo.get(key)
        if i is None:
            i = memo[key] = len(results)
            results.append(one(key))
        index.append(i)
    return results, (None if len(results) == len(index)
                      else arrow_column(pa.int64())(index))


def _onto_rows(values, take, t):
    """``values`` as one Arrow array of type ``t`` (:func:`arrow_column`),
    taken onto the rows by ``take`` (``None``: already one value per
    row)."""
    a = arrow_column(t)(values)
    return a if take is None else a.take(take)


def map_in_arrow(df: DataFrame, fn: Callable, schema) -> DataFrame:
    """``df.mapInArrow`` whose tasks first run :func:`_task_setup` — the
    package's one ``mapInArrow``.  ``fn(batches, out)`` gets the
    task's input ``pyarrow.RecordBatch`` iterator and ``out``, the Arrow
    schema of ``schema`` (a DDL string or a ``StructType``; computed
    here, on the driver), and yields record batches of exactly that
    schema: Spark does not cast them."""
    struct = (_parse_datatype_string(schema) if isinstance(schema, str)
              else schema)
    out = to_arrow_schema(struct)

    def run(batches: Iterable) -> Iterator:
        _task_setup()
        yield from fn(batches, out)

    return df.mapInArrow(run, schema=struct)


def scalar_udf(fn: Callable, return_type: str):
    """A scalar Arrow UDF (``pyspark.sql.functions.arrow_udf``) that
    runs ``fn(*values)`` once per distinct tuple of argument values of
    each Arrow batch — the package's one ``arrow_udf``.  Each batch
    first runs :func:`_task_setup`; the distinct results become one
    Arrow array of ``return_type`` taken onto the rows.  The DDL
    ``return_type`` is parsed here, by the driver's JVM, so a session
    must be active.  ``fn`` gets Python values, none of them ``None``:
    any NULL argument gives NULL without calling ``fn`` (SQL's rule for
    strict functions)."""
    t = to_arrow_type(_parse_datatype_string(return_type))
    arrow_column(t)     # an unsupported type fails here, before any job

    def run(*columns):
        _task_setup()
        results, take = per_distinct(columns, lambda key: (
            None if None in key else fn(*key)))
        return _onto_rows(results, take, t)

    return arrow_udf(run, return_type)


def map_documents(df: DataFrame, keys: tuple, payload, body: Callable,
                  columns: dict, *, empty_row: dict | None = None,
                  max_bytes: int | None = None,
                  on_error: str = "raise") -> DataFrame:
    """DataFrame(*keys, *payload) → DataFrame(*keys, *columns): ``body``
    run once per distinct non-null payload of each Arrow batch.

    ``keys`` names the input columns copied onto every output row, with
    their Spark types from ``df.schema``; they may overlap the payload.
    ``payload`` names one input column or a tuple of them: their values
    (Python values: a ``bigint`` arrives as ``int``, a ``binary`` as
    ``bytes``) are the memo key and ``body``'s arguments (``max_bytes``
    applies to a single payload column).  ``columns`` maps each column
    ``body`` returns, plus ``err`` for per-document operators, to its
    Spark type in output order:

    * per-document operators pass ``empty_row`` (column → value, the row
      a null or failed payload emits) and ``body`` returns one such
      mapping;
    * per-match operators pass no ``empty_row`` and ``body`` returns a
      mapping of each column to the list of the document's matches; a
      null or failed payload emits no rows.

    Each output column is one Arrow array over the batch's distinct
    results, taken onto the rows; keys are the input arrays.  Per match
    the array is of lists, and the taken lists become one row per match
    (``flatten``) with the keys taken by ``list_parent_indices``.
    Policy: see the module docstring."""
    import pyarrow as pa

    keys = tuple(keys)
    payload = (payload,) if isinstance(payload, str) else tuple(payload)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = _parse_datatype_string(", ".join(
        [f"{k} {types[k]}" for k in keys]
        + [f"{c} {t}" for c, t in columns.items()]))
    out = to_arrow_schema(schema)
    per_match = empty_row is None
    column_types = [pa.list_(out.field(c).type) if per_match
                    else out.field(c).type for c in columns]
    for t in column_types:  # an unsupported type fails here, before any job
        arrow_column(t)
    empty = (dict.fromkeys(columns, ()) if per_match else empty_row, None)

    def one(data):
        if None in data:
            return empty
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

    def run(batches: Iterable, out) -> Iterator:
        import pyarrow.compute as pc

        for batch in batches:
            # (body result, err) per distinct payload
            results, take = per_distinct(
                [batch.column(p) for p in payload], one)
            arrays = [_cast(batch.column(k), out.field(k).type)
                      for k in keys]
            cols = [_onto_rows([e for _, e in results] if c == "err"
                               else [r[c] for r, _ in results], take, t)
                    for c, t in zip(columns, column_types)]
            if per_match:
                # one output row per match, keyed by its input row
                rows = pc.list_parent_indices(cols[0])
                arrays = [a.take(rows) for a in arrays]
                cols = [c.flatten() for c in cols]
            yield pa.RecordBatch.from_arrays(arrays + cols, schema=out)

    return map_in_arrow(df.select(*dict.fromkeys(keys + payload)), run,
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
