"""Spark side of the benchmark: session, warm-up and timed passes.

One local session with one slot per core but one reads the workload's
parquet input (one file per slot, so one task per slot per pass; the
spare core runs the driver and the JVM's scan and write) and runs the
workload's kernel through the program's public operator, writing the
output to parquet.  Python worker CPU and peak RSS come from ``/proc``
(``sysstat``); tasks per pass come from the status tracker.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import sysstat

HTML_OUT_FIELDS = ["url", "main_text", "inner_text", "spans", "err"]


def start_session(work: str, slots: int):
    """A local session whose scratch, warehouse and JVM temp files stay
    under ``work``; each input file is one split (one task)."""
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local} -Dderby.system.home={local}")
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # one split per input file, however small the files are
        .config("spark.sql.files.openCostInBytes", str(1 << 30))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def kernel(kind: str):
    """The workload's public operator: DataFrame(url, payload) → output."""
    if kind == "pdf":
        from perl_html5_dom_spark.operators.pdfextract import extract_pdfs

        return extract_pdfs
    from perl_html5_dom_spark.operators.extract import extract_pages

    return lambda df: extract_pages(df, fields=HTML_OUT_FIELDS)


def _empty(batches):
    for _batch in batches:
        pass
    yield from ()


def empty_kernel(df):
    """An empty ``mapInPandas`` over the same input: scan, Arrow transfer
    and worker round trip with no per-row work."""
    return df.mapInPandas(_empty, schema="url string")


def _batch_repeats(batches):
    import pandas as pd

    for b in batches:
        col = b[b.columns[-1]]
        seen = set()
        for v in col:
            seen.add(v)
        yield pd.DataFrame({"rows": [len(col)],
                            "repeats": [len(col) - len(seen)]})


def memo_hit_ratio(df) -> float:
    """Rows whose payload repeats an earlier row of the same Arrow batch,
    over rows — what the batch-local memo of ``extract_pages`` can hit."""
    got = df.mapInPandas(_batch_repeats, "rows long, repeats long").collect()
    rows = sum(r["rows"] for r in got)
    return sum(r["repeats"] for r in got) / rows if rows else 0.0


@dataclass
class Pass:
    wall_s: float
    cpu_s: float
    tasks: int
    steal_pct: float
    load1: float
    out: str


class Runner:
    def __init__(self, spark, work: str) -> None:
        self.spark = spark
        self.work = work
        self._n = 0

    def run(self, df, fn, tag: str) -> Pass:
        """One pass of ``fn(df)`` written to parquet, with worker CPU,
        task count and machine counters sampled around it."""
        sc = self.spark.sparkContext
        self._n += 1
        group = f"{tag}-{self._n}"
        out = os.path.join(self.work, "out", group)
        sc.setJobGroup(group, group)
        pids = sysstat.python_workers()
        c0 = sysstat.worker_cpu_s(pids)
        m0 = sysstat.machine_sample()
        t0 = time.perf_counter()
        fn(df).write.mode("overwrite").parquet(out)
        wall = time.perf_counter() - t0
        m1 = sysstat.machine_sample()
        # workers forked during the pass started from zero CPU
        c1 = sysstat.worker_cpu_s(sysstat.python_workers())
        sc.setJobGroup("idle", "idle")
        tracker = sc.statusTracker()
        tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return Pass(wall, c1 - c0, tasks, sysstat.steal_pct(m0, m1),
                    m1["load1"], out)

    def worker_rss_mb(self) -> float:
        return sysstat.peak_rss_mb(sysstat.python_workers())
