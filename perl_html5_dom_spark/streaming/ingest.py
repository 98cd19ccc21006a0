"""Structured Streaming ingestion of page batches.

The reference's streaming surface is chunked parse of one document
(/root/reference/DOM.xs:814-931) — per SURVEY.md §2.9 the Spark analog
is WARC-batch ingestion: ``readStream`` over arriving page files →
the same extraction kernel → ``writeStream`` with checkpointing.  The
kernel is identical to the batch path (``mapInArrow``, the package's
one Arrow entry, works unchanged on streaming DataFrames); exactly-once
lands on the sink's commit log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_pages

PAGES_SCHEMA = (
    "doc_id bigint, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


def read_page_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 4) -> DataFrame:
    """Stream of page rows from parquet files landing in input_dir."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _start_parquet_sink(pages: DataFrame, output_dir: str,
                        checkpoint_dir: str, trigger_once: bool):
    """The batch extraction kernel over a page stream → parquet file
    sink, exactly-once through the checkpoint's offsets + commit log."""
    q = (
        extract_pages(pages)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        q = q.trigger(availableNow=True)
    return q.start()


def start_extraction(spark: SparkSession, input_dir: str, output_dir: str,
                     checkpoint_dir: str, trigger_once: bool = True):
    """File-sink pipeline with checkpoint-based exactly-once."""
    return _start_parquet_sink(read_page_stream(spark, input_dir),
                               output_dir, checkpoint_dir, trigger_once)


def dedup_stream(stream: DataFrame, key_col: str = "text",
                 within: str | None = None,
                 ts_col: str = "warc_ts") -> DataFrame:
    """Exact dedup-on-ingest: drop rows whose ``key_col`` digest was
    already seen in ANY earlier micro-batch (state survives restarts
    via the checkpoint).  The standard first dedup stage of a streaming
    crawl pipeline — dedup at ingest is far cheaper than dedup of the
    accumulated corpus.

    State growth: unbounded by default (one digest per distinct
    document, exactly like the batch operator's shuffle).  Pass
    ``within`` (e.g. ``"7 days"``) to bound state with a watermark on
    ``ts_col`` — then only duplicates arriving within the window are
    dropped (dropDuplicatesWithinWatermark), which is the 100 TB
    deployment shape: bounded state + a periodic batch sweep."""
    df = stream.withColumn("_digest", F.md5(F.col(key_col).cast("string")))
    if within is not None:
        df = (df.withWatermark(ts_col, within)
              .dropDuplicatesWithinWatermark(["_digest"]))
    else:
        df = df.dropDuplicates(["_digest"])
    return df.drop("_digest")


_BUCKET_OUT = "doc_id bigint, band int, bk1 bigint, bk2 bigint, dup boolean"
_BUCKET_STATE = "first_doc bigint"


def _bucket_state_fn(key, pdfs, state):
    """Per-LSH-bucket state: remember the first doc that claimed this
    bucket; every later doc in the bucket is a near-dup candidate."""
    import pandas as pd

    first = state.get[0] if state.exists else None
    # drain ALL chunks before sorting: a bucket whose rows span multiple
    # pandas chunks must still elect the batch-global min doc_id as
    # first claimant, or the documented "earlier in this batch, by
    # doc_id" determinism breaks across replays (ADVICE r4)
    doc_ids = sorted(
        int(d) for pdf in pdfs for d in pdf["doc_id"])
    out = []
    for doc_id in doc_ids:
        dup = first is not None and doc_id != first
        if first is None:
            first = doc_id
        out.append((doc_id, int(key[0]), int(key[1]), int(key[2]), dup))
    state.update((first,))
    yield pd.DataFrame(out, columns=["doc_id", "band", "bk1", "bk2", "dup"])


def near_dup_stream(docs: DataFrame, num_perm: int = 16,
                    bands: int = 4, k: int = 3) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidates at ingest: per arriving
    document, one row per LSH band bucket with ``dup`` = true when a
    document from ANY earlier micro-batch (or earlier in this batch, by
    doc_id) already claimed that bucket.  A doc with any(dup) is a
    near-dup CANDIDATE — the same recall contract as the batch
    ``lsh_candidate_pairs``: both bucket documents through the same
    ``_doc_minhash_sets`` kernel and ``_band_keys`` projection, so a
    pair the batch path buckets together is flagged here once its
    second member arrives.  Precision filtering (exact-jaccard verify)
    stays a batch concern: per-bucket state holds ONE long, not shingle
    sets, which is what keeps 10^12-document state viable.

    Roll up per document downstream (e.g. in foreachBatch):
    ``flagged.groupBy("doc_id").agg(max(col("dup")))``.

    State: one row per distinct (band, bk1, bk2) bucket, each a single
    bigint — bounded by corpus novelty, survives restarts via the
    checkpoint."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import _band_keys, _doc_minhash_sets

    # the batch operators' signature kernel and band keys: stateless
    # per-document map work (mapInArrow runs unchanged on a stream), so
    # the only stateful operator in the plan is the bucket store below
    buckets = _band_keys(_doc_minhash_sets(docs, num_perm, k),
                         num_perm, bands)
    return (
        buckets.groupBy("band", "bk1", "bk2")
        .applyInPandasWithState(
            _bucket_state_fn,
            outputStructType=_BUCKET_OUT,
            stateStructType=_BUCKET_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def crawl_rate_stream(pages: DataFrame, window: str = "1 minute",
                      watermark: str = "5 minutes",
                      ts_col: str = "warc_ts") -> DataFrame:
    """Streaming politeness monitor: fetches per host per tumbling
    window — (window_start, window_end, host, n_fetches).  The crawl
    scheduler watches this to throttle hosts that exceed their budget.

    Watermarked windowed count: state is bounded to the watermark
    horizon and windows finalize (append mode works) once the event
    time passes; the aggregation is the same partial-agg shape as the
    batch host_stats, keyed (window, host)."""
    return (
        pages.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"),
                 F.expr("parse_url(url, 'HOST')").alias("host"))
        .count()
        .selectExpr("w.start as window_start", "w.end as window_end",
                    "host", "cast(count as bigint) as n_fetches")
    )


def start_warc_extraction(spark: SparkSession, warc_dir: str, output_dir: str,
                          checkpoint_dir: str, trigger_once: bool = True,
                          max_files_per_trigger: int = 4):
    """Wire-format streaming pipeline: ``*.warc[.gz]`` files landing in
    ``warc_dir`` → WARC record kernel → HTML extraction kernel →
    parquet sink.  Both kernels are the exact batch code paths
    (mapInArrow is stream-transparent); restart-safety comes from the
    file source offsets + sink commit log under ``checkpoint_dir``."""
    from ..sources.warc import read_warc_stream

    pages = read_warc_stream(spark, warc_dir,
                             max_files_per_trigger=max_files_per_trigger)
    return _start_parquet_sink(pages, output_dir, checkpoint_dir,
                               trigger_once)
