"""Dump .explain("formatted") for the pipeline's key plans → EXPLAIN.md.

The artifact the scale review asks for: is the filter pushed to the
parquet scan, is the small side broadcast, are expressions inside
WholeStageCodegen, does the kernel input stay narrow?
"""

from __future__ import annotations

import contextlib
import io

SECTIONS = []


def grab(title: str, df, note: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    SECTIONS.append((title, note, buf.getvalue()))


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("explain").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import sys
    sys.path.insert(0, ".")
    from perl_html5_dom_spark.operators import dedup, nodes, similarity
    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.sources.pages import pages_df

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    grab("Parquet pushdown: lang filter + column pruning",
         docs.filter(F.col("lang") == "en").select("doc_id", "text"),
         "PushedFilters must contain IsNotNull(lang), EqualTo(lang,en); "
         "ReadSchema only doc_id,text — at 100 TB this is partition "
         "pruning on the Iceberg pages table.")

    pages = pages_df(spark, sf)
    grab("Extraction kernel input narrowing",
         extract_pages(pages, fields=["url", "main_text"]),
         "The MapInArrow node must sit directly on a "
         "projection of ONLY (url, html): the kernel is a black box, so "
         "we narrow its input by construction.")

    nd = nodes.nodes_df(pages, elements_only=True,
                        columns=["url", "node_id", "parent_id", "tag"])
    child = nd.select("url", "parent_id")
    parent = nd.select("url", F.col("node_id").alias("parent_id"),
                       F.col("tag").alias("parent_tag"))
    grab("Structural self-join",
         child.join(parent, ["url", "parent_id"]).groupBy("parent_tag").count(),
         "Partition-local equi-join on (url, parent_id); AQE may turn it "
         "into a broadcast/shuffled hash join — never a nested loop.")

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    grab("ANN brute-force top-k: broadcast query side",
         similarity.brute_force_topk(emb, [0, 1, 2], k=5),
         "Query vectors broadcast (BroadcastNestedLoopJoin over 3 rows); "
         "cosine via zip_with/aggregate inside codegen, window for "
         "top-k.  Round 6: the map-side cosine work is spread when the "
         "input arrives below the session parallelism (the driver test "
         "parquet is ONE row group = one scan task); real-scale inputs "
         "pass through with no extra Exchange.")

    grab("MinHash signatures: one Arrow kernel, band-key projection",
         dedup._band_keys(dedup._doc_minhash_sets(
             docs.selectExpr("doc_id", "text"), 16, 3), 16, 4),
         "Shingling, md5 hashing and all 16 per-permutation mins run in "
         "ONE MapInArrow kernel per document (no Exchange); the LSH "
         "band keys are a projection + explode(bands) over its output. "
         "Batch, LSH-only and streaming near-dup all bucket through it.")

    grab("LSH buckets: engine-side planes, broadcast join",
         similarity.lsh_buckets(emb),
         "Plane components derived from md5 inside the plan (transform "
         "over sequence); the bits-row planes relation is broadcast; "
         "groupBy(vec_id) sums sign bits with partial aggregation.")

    from perl_html5_dom_spark.operators import events as ev
    grab("Sessionization: window functions only",
         ev.sessionize(spark.read.parquet(f"{sf}/events.parquet")),
         "lag + running sum over (user_id, ts) windows, then one "
         "partial-agg groupBy — a single shuffle on user_id, no Python.")

    from perl_html5_dom_spark.operators import textstats as ts
    grab("Gopher/C4 quality filters: pure projection",
         ts.gopher_quality(docs.selectExpr("doc_id", "text")),
         "Every signal (dup-line fractions, bullet/ellipsis ratios, "
         "word stats, keep flag) is a higher-order-function column "
         "expression inside WholeStageCodegen — zero shuffles, zero "
         "Python; at 100 TB this is a map-only pass.")

    from perl_html5_dom_spark.operators import pdfextract as px
    from perl_html5_dom_spark.sources import pdfs as pf
    grab("PDF extraction kernel input narrowing",
         px.extract_pdfs(pf.pdf_docs_df(spark, sf)),
         "Like the HTML kernel: MapInArrow sits on a projection of "
         "(url, pdf) only; parallelism is per-document.")

    from perl_html5_dom_spark.operators import urlnorm as un
    grab("Per-domain stats: single shuffle on host",
         un.host_stats(pages.select("url")),
         "parse_url host/path are codegen expressions; one partial-agg "
         "groupBy(host) with countDistinct expanding to two exchanges "
         "of narrow rows — the politeness/curation grouping at scale.")

    from perl_html5_dom_spark.operators import contamination as cn
    docs.createOrReplaceTempView("documents")
    grab("Decontamination: bench n-grams broadcast",
         cn.ngram_overlap(
             docs.selectExpr("doc_id", "text"),
             spark.sql(cn.bench_items_sql(cn.SPARK, "documents")), n=5),
         "Both bench-side relations (hashed n-grams, per-item sizes) are "
         "BroadcastExchange; the 100 TB document scan is matched map-side "
         "and only (doc_id, bench_id) hit pairs reach an exchange.  "
         "Round 6: an under-partitioned document side (single-row-group "
         "input = one scan task) is spread to the session parallelism "
         "first; at-scale inputs pass through with no extra Exchange.")

    from perl_html5_dom_spark.operators import pii
    grab("PII scan: zero-shuffle codegen projection",
         pii.pii_scan(docs.selectExpr("doc_id", "text")),
         "regexp_extract_all counts are one WholeStageCodegen projection "
         "— no Exchange anywhere in the plan; cost at scale == the scan.")

    from perl_html5_dom_spark.operators import linkgraph as lgr
    grab("PageRank iteration step: narrow shuffles only",
         lgr.pagerank(spark.sql(lgr.demo_edges_sql("documents")),
                      iters=1, materialize_every=0),
         "One iteration = join ranks (narrow) to edges on src, shuffle "
         "(dst, contrib) pairs, broadcast the 1-row dangling mass; "
         "edges repartitioned once on src and reused (round 6: the width "
         "derives from the input's own parallelism capped at the "
         "session's, so toy graphs do not iterate over near-empty "
         "partitions); iterations checkpoint to keep the plan linear.")

    from perl_html5_dom_spark.operators import robots as rbt
    from perl_html5_dom_spark.queries import (
        _ROBOTS_URLS_SQL, _robots_corpus_sql)
    rules = rbt.parse_robots(spark.sql(_robots_corpus_sql("char(10)")))
    grab("robots.txt admission: broadcast rules, single join",
         rbt.robots_filter(spark.sql(_ROBOTS_URLS_SQL), rules),
         "The rules relation broadcasts (SQL hint); the URL side is "
         "joined ONCE (left) and the winner picked by a partial-agg "
         "max(struct) — the only Exchange of url rows carries one "
         "pre-combined row per url.")

    from perl_html5_dom_spark.operators import urlnorm as un2
    old = docs.selectExpr("'u' || cast(doc_id as string) as url", "text")
    new = docs.selectExpr("'u' || cast(doc_id as string) as url",
                          "text || 'x' as text")
    grab("Crawl snapshot diff: digest-only full-outer join",
         un2.crawl_delta(old, new),
         "md5 digests computed map-side BELOW the join, so the "
         "full-outer SMJ shuffles 32-byte digests, never document "
         "text; with url-bucketed tables (plans/bucketing.py) even "
         "that Exchange disappears.")

    from perl_html5_dom_spark.operators import packing as pk2
    grab("Sequence packing: parallel per-bucket windows",
         pk2.pack_offsets(docs.selectExpr("doc_id", "text")),
         "One Exchange on the md5 bucket key; the running-sum window "
         "runs per bucket in parallel — no global ordering bottleneck.")

    grab("MinHash near-dup verify: per-doc hash arrays, map-side intersect",
         dedup.minhash_near_dups(docs.selectExpr("doc_id", "text"), 0.5),
         "Round-5 verify plan, round-6 front: the per-doc hash array "
         "AND the minhash signature both come from ONE zero-shuffle "
         "Arrow kernel (dedup._doc_minhash_sets, parquet-checkpointed), "
         "replacing the round-5 shingle explode and its wide-agg/"
         "collect_set exchanges; the exact Jaccard stays a map-side "
         "codegen expression — the join condition below must read "
         "size(array_intersect(ha, hb)) with NO (pair × shingle) "
         "explode join anywhere in the plan; the Exchanges carry one "
         "row per doc and one per candidate pair (sf1 round-5: 14.7 s "
         "→ 8.85 s; round-6: → 2.89 s official).")

    from perl_html5_dom_spark.operators import textstats
    grab("token_logfreq: one explode feeds vocab agg + per-doc sum",
         textstats.token_logfreq(docs.selectExpr("doc_id", "text")),
         "CCNet-style corpus-frequency proxy (round 5).  The exploded "
         "token stream must appear TWICE off one scan subtree: a "
         "partial-agg groupBy(term) building the Zipf-bounded "
         "vocabulary and the per-doc aggregate; the vocab join keys on "
         "term (AQE broadcasts it when small), floor(log2(cnt)) and "
         "the integer div stay inside WholeStageCodegen, and no "
         "Python appears anywhere in the plan.")

    from perl_html5_dom_spark.operators import dedup as dd_mod
    grab("host_boilerplate: per-host template-line strip",
         dd_mod.host_boilerplate(
             docs.selectExpr(
                 "doc_id",
                 "'https://h' || cast(doc_id % 5 as string) || "
                 "'.example.org/p/' || cast(doc_id as string) as url",
                 "text")),
         "Site-template removal (round 5).  The exploded line stream "
         "must feed a partial-aggregable countDistinct groupBy on "
         "(host, line) — HashAggregate with partial_count(distinct) "
         "below the Exchange, not a window — and the template-set "
         "flag join back must be a plain equi-join on (host, line) "
         "that AQE can broadcast (the boilerplate set is templates "
         "per host, orders of magnitude smaller than the corpus); "
         "the ordered reassembly is ONE groupBy(doc_id) whose "
         "array_sort/filter/transform fold runs inside codegen, and "
         "no Python appears anywhere in the plan.")

    from perl_html5_dom_spark.operators import urlnorm as un_mod
    grab("url_pattern_traps: crawl-trap pattern mining",
         un_mod.url_pattern_traps(
             docs.selectExpr(
                 "'https://t' || cast(doc_id % 3 as string) || "
                 "'.example.org/cal/' || cast(doc_id as string) as url"),
             min_urls=10),
         "Frontier trap detection (round 5).  The digit-run "
         "generalization must be a single JVM regexp_replace "
         "projection feeding ONE partial-aggregable groupBy on "
         "(host, pattern) — the hot trap groups collapse map-side, "
         "which is the whole point — with the HAVING filter applied "
         "after the final aggregate and min(url) riding the same "
         "aggregate as the deterministic exemplar; no Python, one "
         "Exchange in the whole plan.")

    grab("ngram_repetition: Arrow Counter kernel + SQL fractions",
         textstats.ngram_repetition(docs.selectExpr("doc_id", "text")),
         "Gopher A1.1 within-document repetition (round 5; REBUILT "
         "round 6).  The round-5 sorted-run folds were NOT really "
         "codegen — Catalyst runs lambda bodies through the "
         "interpreted HigherOrderFunction path (~7 ms/doc); the "
         "counting now runs as one MapInArrow Counter kernel "
         "(~0.13 ms/doc) emitting bit-exact INTEGERS, with every "
         "float division and round in the same SQL projections as "
         "before (the replaced fold is the differential twin that "
         "test_ngram_repetition_matches_sql_fold runs).  Still "
         "no shuffle beyond the caller's repartition, no explode: "
         "scan → kernel → two codegen projections.  The relational "
         "DuckDB oracle (9-way unnest + group by) is unchanged, so "
         "the two engines still share no code path.")

    from perl_html5_dom_spark.queries import q_wet_extract
    grab("wet_extract: WET lane is scan-shaped",
         q_wet_extract(spark, sf),
         "Provider-text ingestion (round 5).  The WET round-trip "
         "(text -> conversion record -> gzip member -> parser) plus "
         "the downstream token count must compile to MapInArrow "
         "nodes over a two-column projection with no operator-owned "
         "Exchange — the lane is record-local by construction, so at "
         "CC scale it is bounded by the WET scan exactly like the "
         "cdx_index audit below.  (The one Exchange below the kernel "
         "is read_docs' repartition of the driver's single-row-group "
         "test parquet — a test-data artifact, absent on a real "
         "multi-file corpus.)")

    from perl_html5_dom_spark.queries import q_cdx_index
    grab("cdx_index: scan-bound capture indexing",
         q_cdx_index(spark, sf),
         "ONE MapInArrow directly over a projection of (url, html) — "
         "no Exchange anywhere: the index is a pure per-record "
         "projection, so at CC scale the stage is bounded by the WARC "
         "scan itself and its ~100 B/record output can broadcast-join "
         "against URL lists for targeted member range-reads.")

    from perl_html5_dom_spark.queries import q_webtext_pipeline
    grab("Capstone webtext_pipeline: one parse feeds every stage",
         q_webtext_pipeline(spark, sf),
         "The end-to-end curation chain (r4 #4 audit; restructured in "
         "rounds 5 and 6).  Round-6 shape: ONE wide-text frame — the "
         "quality-filtered kept corpus — is parquet-CHECKPOINTED "
         "inside the query (util.checkpoint_parquet: fresh directory "
         "per invocation, recomputed every run — plan truncation, not "
         "result caching), because repeated scans of a deserialized "
         "InMemoryRelation cost ~3x a vectorized parquet read "
         "(measured 12.4 → 7.4 s at sf1).  The former second (docs) "
         "checkpoint is gone: the 3-branch duplicate fan-out became a "
         "single map-side explode, so extract → fan-out → quality "
         "fuses into one kernel pipeline feeding the kept write — the "
         "extraction kernel ran exactly ONCE (nothing downstream can "
         "re-parse — the html is gone from the lineage).  The plan "
         "below is therefore the FINAL segment after the eager "
         "checkpoint write: duplicate removal is ONE anti-join of the "
         "kept scan against the bare-bigint loser ids (statically "
         "planned SortMergeJoin LeftAnti because the checkpointed "
         "loser RDD has no pre-run size estimate; at runtime the "
         "AdaptiveSparkPlan converts it to a broadcast join — the "
         "losers are a few thousand bigints — and round 5 had this "
         "pushed through the 3-branch corpus Union as three "
         "SortMergeJoin LeftAnti); the train selection is "
         "corpus_split's carry passthrough — a pure filter, no join; "
         "and the only other Exchange is sequence packing's own "
         "per-bucket window shuffle.")

    with open("EXPLAIN.md", "w") as f:
        f.write("# Physical plans of the core operators\n\n")
        f.write("Generated by tools/explain_dump.py; re-run after plan "
                "changes.\n")
        for title, note, text in SECTIONS:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{text}```\n")
    print("wrote EXPLAIN.md,", len(SECTIONS), "sections")
    spark.stop()


if __name__ == "__main__":
    main()
