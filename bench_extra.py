"""Round-6 stage-isolated benchmarks (guide §1.4 noop-sink isolation).

NOT the official bench — bench.py is the frozen driver artifact.  This
file decomposes the expensive suite queries into stages so each
optimization targets the stage that actually costs, and reports
best-of-N per stage.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [stage ...]

Stages: nodes, simhash, minhash, contamination, webtext, pagerank, extract
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "8"))
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    only = set(sys.argv[1:])

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .appName("bench_extra").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from perl_html5_dom_spark.operators import dedup, nodes, similarity
    from perl_html5_dom_spark.queries import CORPUS_SQL
    from perl_html5_dom_spark.sources.pages import pages_df

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}

    def bench(name, fn):
        best = None
        for _ in range(trials):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"{name}: {best:.3f}", flush=True)

    def want(stage):
        return not only or stage in only

    # shared inputs, built exactly like bench.py
    _pages_path = tempfile.mkdtemp(prefix="bx_pages_") + "/pages"
    pages_df(spark, sf_dir, replicate=replicate,
             partitions=cpus * 2).write.parquet(_pages_path)
    pages = spark.read.parquet(_pages_path)
    pages.count()

    def _noop_warm(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})
    pages.select("url", "html").mapInPandas(_noop_warm, "n long").count()

    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _corpus_path = tempfile.mkdtemp(prefix="bx_corpus_") + "/c"
    docs_t.createOrReplaceTempView("documents")
    spark.sql(CORPUS_SQL).repartition(cpus).write.parquet(_corpus_path)
    corpus = spark.read.parquet(_corpus_path)

    if want("extract"):
        from perl_html5_dom_spark.operators.extract import extract_pages
        bench("extract_full_noop", lambda: noop(extract_pages(pages)))
        bench("extract_main_noop", lambda: noop(extract_pages(
            pages, fields=["url", "main_text", "spans"])))

    if want("nodes"):
        nd_cols = ["url", "node_id", "parent_id", "tag"]

        bench("nodes_df_noop", lambda: noop(
            nodes.nodes_df(pages, elements_only=True, columns=nd_cols)))

        def _write():
            path = tempfile.mkdtemp(prefix="bx_nodes_") + "/nd"
            nodes.nodes_df(pages, elements_only=True,
                           columns=nd_cols).write.parquet(path)
            _write.path = path
        bench("nodes_df_write_parquet", _write)

        def _join():
            nd = spark.read.parquet(_write.path)
            child = nd.select("url", "parent_id")
            parent = nd.select("url", F.col("node_id").alias("parent_id"),
                               F.col("tag").alias("parent_tag"))
            child.join(parent, ["url", "parent_id"]).groupBy(
                "parent_tag").count().collect()
        bench("nodes_join_only", _join)

    if want("simhash"):
        bench("simhash_fingerprints_noop",
              lambda: noop(dedup.simhash(corpus, 32)))
        bench("simhash_near_dups", lambda: dedup.simhash_near_dups(
            corpus, 3).count())

    if want("minhash"):
        def _probe():
            corpus.agg(F.count("*"), F.approx_count_distinct("text")).first()
        bench("minhash_probe", _probe)

        def _sh():
            sh = dedup._shingles(corpus, 3).selectExpr(
                "doc_id", f"{dedup.H('shingle')} as hs")
            noop(sh)
        bench("minhash_shingles_hashed_noop", _sh)

        bench("minhash_sig_bands_noop", lambda: noop(dedup._band_keys(
            dedup._doc_minhash_sets(corpus, 16, 3), 16, 4)))

        bench("minhash_near_dups", lambda: dedup.minhash_near_dups(
            corpus, 0.5).count())

    if want("contamination"):
        from perl_html5_dom_spark.operators import contamination as cnt
        bench("contam_doc_shingles_noop", lambda: noop(
            dedup._shingles(docs_t, 5).selectExpr(
                "doc_id", f"{dedup.H('shingle')} as h")))
        bench("contamination_full", lambda: cnt.ngram_overlap(
            docs_t, spark.sql(cnt.bench_items_sql(cnt.SPARK, "documents")),
            n=5).count())

    if want("webtext"):
        from perl_html5_dom_spark.queries import q_webtext_pipeline
        bench("webtext_pipeline",
              lambda: q_webtext_pipeline(spark, sf_dir).count())

    if want("pagerank"):
        from perl_html5_dom_spark.operators import linkgraph as lgr
        bench("pagerank", lambda: lgr.pagerank(
            spark.sql(lgr.demo_edges_sql("documents")), iters=5).count())

    if want("ngram"):
        from perl_html5_dom_spark.operators import textstats as ts_ops
        docs_wide = docs_t.repartition(cpus)
        bench("ngram_repetition", lambda: ts_ops.ngram_repetition(docs_wide)
              .agg(F.sum(F.col("keep_rep").cast("long")), F.count("*"))
              .collect())

    print(json.dumps({"stages": timings, "sf_dir": sf_dir,
                      "trials": trials}))
    spark.stop()


if __name__ == "__main__":
    main()
