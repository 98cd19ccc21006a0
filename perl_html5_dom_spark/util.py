"""Session-shared SparkSession hygiene helpers.

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
import tempfile
import uuid
from typing import Callable, Iterator

from pyspark.sql import DataFrame

_counter = itertools.count()


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

    Each DataFrame is registered under a collision-free unique temp-view
    name; the views are dropped before returning (analysis is eager in
    ``spark.sql``), so concurrent jobs sharing one SparkSession never
    observe each other's views.
    """
    spark = dfs[0].sparkSession
    names = []
    for df in dfs:
        name = f"{prefix}_{next(_counter)}"
        df.createOrReplaceTempView(name)
        names.append(name)
    try:
        return spark.sql(builder(*names))
    finally:
        for n in names:
            spark.catalog.dropTempView(n)


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
