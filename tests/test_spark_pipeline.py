"""Spark-level tests: extraction parity, selector strategies, dedup,
lineage/resume, streaming — all on the deterministic sf0.001 corpus.

Marked via the shared session fixture (conftest.py); pure-engine tests
live in the other test modules and never start Spark.
"""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    from perl_html5_dom_spark.sources.pages import pages_df

    return pages_df(spark, SF).persist()


def test_extraction_byte_identical(spark, pages):
    from perl_html5_dom_spark.operators.extract import extract_pages

    out = extract_pages(pages)
    n = pages.count()
    ok = (
        out.join(pages.select("url", "text"), "url")
        .filter(F.col("main_text") == F.col("text")).count()
    )
    assert ok == n


def test_extract_spans_point_at_open_tags(spark, pages):
    from perl_html5_dom_spark.operators.extract import extract_pages

    row = (
        extract_pages(pages).join(pages.select("url", "html"), "url")
        .filter(F.size("spans") > 2).first()
    )
    html = bytes(row.html).decode()
    for s in row.spans:
        frag = html[s.begin:s.begin + s.length]
        assert frag.startswith("<a ") and frag.endswith(">")


def test_css_at_is_first_in_document_order(spark, pages):
    from perl_html5_dom_spark.operators.selector_ops import css_at, css_find

    allm = css_find(pages, "a[href]").groupBy("url").agg(
        F.min("ord").alias("ord"))
    first = css_at(pages, "a[href]").select("url", "ord")
    assert allm.exceptAll(first).count() == 0


def test_dedup_exact_groups(spark):
    from perl_html5_dom_spark.operators.dedup import exact_duplicates
    from perl_html5_dom_spark.queries import CORPUS_SQL

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "documents")
    corpus = spark.sql(CORPUS_SQL)
    groups = exact_duplicates(corpus).collect()
    n_base = spark.table("documents").filter("doc_id % 5 = 0").count()
    assert len(groups) == n_base
    assert all(g.n_copies == 2 for g in groups)


def test_lineage_resume(spark, pages, tmp_path):
    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.plans.pipeline import (
        extract_with_lineage, resume_filter)

    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    small = pages.limit(50)
    m1 = extract_with_lineage(
        spark, small, out, lin, lambda df: extract_pages(df, None),
        buckets=8, batch_buckets=4)
    assert m1["processed_buckets"] == 8 and m1["skipped_buckets"] == 0
    assert m1["n_urls"] == 50
    assert spark.read.parquet(out).count() == 50
    # per-bucket audit counts must sum to the table (not cumulative totals)
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_rows")).first()[0] == 50
    # resume: everything already recorded → nothing replays
    m2 = extract_with_lineage(
        spark, small, out, lin, lambda df: extract_pages(df, None),
        buckets=8, batch_buckets=4)
    assert m2["processed_buckets"] == 0 and m2["skipped_buckets"] == 8
    assert m2["n_urls"] == 0
    assert spark.read.parquet(out).count() == 50  # no duplicates appended
    assert resume_filter(spark, small, lin, buckets=8).count() == 0


def _make_boom_extract_one():
    """Build a stand-in for extract.extract_one that raises on a marker
    page.  Returned as a CLOSURE (not a test-module-level function) so
    cloudpickle serializes it by value — executors can't import the
    tests/ directory, so a by-reference pickle would fail with
    ModuleNotFoundError instead of exercising containment."""
    from perl_html5_dom_spark.operators.extract import (
        extract_one as real_extract_one)

    def boom_extract_one(html, compiled, fields):
        if b"@BOOM@" in bytes(html):
            raise ValueError("injected parser failure")
        return real_extract_one(html, compiled, fields)

    return boom_extract_one


def test_extraction_error_containment(spark, monkeypatch):
    """One pathological page must not fail the task (VERDICT r4 #2):
    a raising parse and an oversized page both survive as err rows."""
    from perl_html5_dom_spark.operators import extract as ex

    big = b"<p>" + b"lots of words here " * 40 + b"</p>"
    rows = [
        ("u/ok1", b"<p>fine one</p>"),
        ("u/boom", b"<p>@BOOM@</p>"),
        ("u/big", big),
        ("u/ok2", b"<p>fine two</p>"),
        ("u/null", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    monkeypatch.setattr(ex, "extract_one", _make_boom_extract_one())
    out = {r.url: r for r in ex.extract_pages(
        df, None, fields=["url", "main_text", "err"],
        max_html_bytes=64).collect()}
    assert len(out) == 5
    assert out["u/ok1"].err is None and out["u/ok1"].main_text == "fine one"
    assert out["u/ok2"].err is None
    assert out["u/boom"].err.startswith("ValueError:")
    assert out["u/boom"].main_text == ""
    assert out["u/big"].err.startswith(f"truncated: {len(big)} > 64")
    # truncated prefix still parses and yields its words
    assert out["u/big"].main_text.startswith("lots of words")
    assert out["u/null"].err is None and out["u/null"].main_text == ""
    # fail-fast mode restores the old behavior for fuzz/differential runs
    with pytest.raises(Exception, match="injected parser failure"):
        ex.extract_pages(df, None, fields=["url", "main_text"],
                         on_error="raise").collect()


def test_empty_end_tags_extract_without_err(spark):
    """400 consecutive ``</>`` once recursed the tokenizer out of stack
    and came back as a ``RecursionError`` err row."""
    from perl_html5_dom_spark.operators import extract as ex

    df = spark.createDataFrame(
        [("u/e", b"<body>a" + b"</>" * 400 + b"b")], "url string, html binary")
    row = ex.extract_pages(df, None, fields=["url", "inner_text", "err"]).first()
    assert row.err is None and row.inner_text == "ab"


def test_lineage_counts_err_rows(spark, monkeypatch, tmp_path):
    """Per-bucket err counts flow into the lineage table."""
    from perl_html5_dom_spark.operators import extract as ex
    from perl_html5_dom_spark.plans.pipeline import extract_with_lineage

    rows = [(f"u/{i}", b"<p>@BOOM@</p>" if i % 4 == 0
             else f"<p>doc {i}</p>".encode()) for i in range(20)]
    df = spark.createDataFrame(rows, "url string, html binary")
    monkeypatch.setattr(ex, "extract_one", _make_boom_extract_one())
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    m = extract_with_lineage(
        spark, df, out, lin,
        lambda d: ex.extract_pages(d, None, fields=["url", "main_text", "err"]),
        buckets=4, batch_buckets=2)
    assert m["n_urls"] == 20
    assert m["n_err"] == 5
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_err")).first()[0] == 5
    assert lineage.agg(F.sum("n_rows")).first()[0] == 20


def test_lineage_crash_between_commits_is_idempotent(spark, pages, tmp_path):
    """Kill-between-commits: data committed for a bucket but its lineage
    row lost (crash between the WRITE and PUBLISH steps).  The rerun
    must re-extract that bucket and OVERWRITE its partition — the output
    must contain zero duplicate rows and the audit counts must be
    per-bucket correct."""
    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.plans.pipeline import extract_with_lineage

    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    small = pages.limit(50).persist()
    extract_with_lineage(
        spark, small, out, lin, lambda df: extract_pages(df, None),
        buckets=8, batch_buckets=4)
    # simulate the crash state: drop the lineage rows of half the buckets
    # while their data partitions remain committed
    survivors = spark.read.parquet(lin).filter(F.col("bucket") >= 4)
    survivors = spark.createDataFrame(
        survivors.collect(), schema=survivors.schema)
    survivors.write.mode("overwrite").parquet(lin)
    m = extract_with_lineage(
        spark, small, out, lin, lambda df: extract_pages(df, None),
        buckets=8, batch_buckets=4)
    assert m["processed_buckets"] == 4 and m["skipped_buckets"] == 4
    got = spark.read.parquet(out)
    assert got.count() == 50                      # no duplicates
    assert got.select("url").distinct().count() == 50
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_rows")).first()[0] == 50


def test_salted_repartition_deterministic(spark, pages):
    from perl_html5_dom_spark.plans.pipeline import salted_repartition

    a = salted_repartition(pages, 16).withColumn(
        "p", F.spark_partition_id())
    b = salted_repartition(pages, 16).withColumn(
        "p", F.spark_partition_id())
    assert a.select("url", "p").exceptAll(b.select("url", "p")).count() == 0


def test_streaming_extraction(spark, pages, tmp_path):
    from perl_html5_dom_spark.streaming.ingest import start_extraction

    src = str(tmp_path / "in")
    pages.limit(40).write.parquet(src)
    q = start_extraction(spark, src, str(tmp_path / "out"),
                         str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 40
    assert set(got.columns) >= {"url", "main_text", "spans"}


def test_sql_function_registration(spark, pages):
    from perl_html5_dom_spark.functions.register import register_all

    register_all(spark)
    pages.limit(20).createOrReplaceTempView("pages_v")
    rows = spark.sql("""
        select url,
               css_text(html, 'title') as title,
               css_count(html, 'a[href]') as n_links,
               css_main_text(html) as main_text
        from pages_v
    """).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.title.startswith("Doc ")
        assert r.n_links >= 2


def test_sql_functions_null_html(spark):
    """A NULL html gives SQL NULL from every css_* function; the other
    rows of the batch are unaffected."""
    from perl_html5_dom_spark.functions.register import register_all

    register_all(spark)
    spark.createDataFrame(
        [("null", None),
         ("page", b'<title>T</title><p><a href="/x">l</a></p>')],
        "url string, html binary").coalesce(1).createOrReplaceTempView(
            "null_html_v")
    rows = {r.url: r.asDict() for r in spark.sql("""
        select url,
               css_text(html, 'title') as text,
               css_count(html, 'a') as n,
               css_html(html, 'a') as html,
               css_inner_text(html) as inner_text,
               css_main_text(html) as main_text,
               css_attr(html, 'a', 'href') as href
        from null_html_v
    """).collect()}
    assert rows["null"] == {"url": "null", "text": None, "n": None,
                            "html": None, "inner_text": None,
                            "main_text": None, "href": None}
    assert rows["page"] == {"url": "page", "text": "T", "n": 1,
                            "html": '<a href="/x">l</a>',
                            "inner_text": "l\n\n", "main_text": "l",
                            "href": "/x"}


_RUNNER_HTML = [
    b'<title>One</title><div id="m"><p>alpha <a href="/a">x</a></p>'
    b"<ul><li>1<li>2</ul></div>",
    b'<!DOCTYPE html><body><p class="c">beta <b>bold</b></p>'
    b'<a href="/b" title="t">y</a></body>',
]


def _runner_case(name):
    """(operator over DataFrame(url, <payload>), payload column, distinct
    payloads, the row a null payload emits — None for per-match
    operators, which emit no rows)."""
    from perl_html5_dom_spark import queries
    from perl_html5_dom_spark.operators import selector_ops as so
    from perl_html5_dom_spark.operators.extract import (
        ALL_FIELDS, extract_pages)
    from perl_html5_dom_spark.operators.nodes import nodes_df
    from perl_html5_dom_spark.operators.pdfextract import extract_pdfs
    from perl_html5_dom_spark.sources.pdfs import pdf_bytes

    html = "html", _RUNNER_HTML
    return {
        "extract_pages": (
            lambda d: extract_pages(d, fields=ALL_FIELDS + ("err",)), *html,
            {"encoding": "", "title": "", "main_text": "", "inner_text": "",
             "text_content": "", "n_nodes": 0, "n_elements": 0, "spans": [],
             "err": None}),
        "css_find": (lambda d: so.css_find(d, "div a, p"), *html, None),
        "css_at": (lambda d: so.css_at(d, "p"), *html, None),
        "css_extract": (
            lambda d: so.css_extract(d, "a", "attr:href"), *html, None),
        "css_extract_multi": (
            lambda d: so.css_extract_multi(
                d, "p, a", ("text", "html", "inner_html", "inner_text",
                            "attr:title")), *html, None),
        "nodes_df": (nodes_df, *html, None),
        "extract_pdfs": (
            extract_pdfs, "pdf", [pdf_bytes(1, "one"), pdf_bytes(2, "two")],
            {"n_pages": 0, "text": "", "err": None}),
        "serialize": (lambda d: queries._serialized(d), *html,
                      {"html_out": None}),
    }[name]


@pytest.mark.parametrize("name", [
    "extract_pages", "css_find", "css_at", "css_extract",
    "css_extract_multi", "nodes_df", "extract_pdfs", "serialize"])
def test_runner_null_and_duplicate_rows(spark, name):
    """Every operator on the shared document runner: a duplicated row
    gets its original's result (through the batch memo — one partition,
    one Arrow batch) and a null payload gets the empty result instead of
    failing the task."""
    op, payload, docs, empty = _runner_case(name)
    schema = f"url string, {payload} binary"
    base = [(f"u{i}", d) for i, d in enumerate(docs)]
    want = [r.asDict() for r in op(spark.createDataFrame(base, schema))
            .collect()]
    assert want
    want += [{**r, "url": "dup"} for r in want if r["url"] == "u0"]
    if empty is not None:
        want.append({"url": "null", **empty})
    noisy = spark.createDataFrame(
        base + [("dup", docs[0]), ("null", None)], schema).coalesce(1)
    got = [r.asDict() for r in op(noisy).collect()]

    def key(r):
        return r["url"], r.get("node_id", -1)

    assert sorted(got, key=key) == sorted(want, key=key)


def test_nodes_column_pruning(spark, pages):
    from perl_html5_dom_spark.operators.nodes import nodes_df

    slim = nodes_df(pages.limit(5), elements_only=True,
                    columns=["url", "node_id", "parent_id", "tag"])
    assert slim.columns == ["url", "node_id", "parent_id", "tag"]
    full = nodes_df(pages.limit(5), elements_only=True)
    assert slim.count() == full.count()


def test_css_extract_attr_sink(spark):
    from perl_html5_dom_spark.operators.selector_ops import css_extract

    rows = [("u1", b'<a href="/x" title="T">l</a><a>no-href</a>')]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = css_extract(df, "a", what="attr:href").collect()
    assert [r.value for r in sorted(got, key=lambda r: r.ord)] == ["/x", None]
    # unknown sink still rejected
    import pytest
    with pytest.raises(ValueError):
        css_extract(df, "a", what="bogus")


def test_streaming_dedup_across_batches(spark, tmp_path):
    """dedup_stream drops cross-micro-batch exact duplicates and the
    state survives a restart from the same checkpoint."""
    import datetime

    from perl_html5_dom_spark.streaming.ingest import dedup_stream

    ts = datetime.datetime(2025, 1, 1)
    schema = "doc_id bigint, warc_ts timestamp, text string"
    b1 = spark.createDataFrame(
        [(1, ts, "alpha"), (2, ts, "beta"), (3, ts, "alpha")], schema)
    b2 = spark.createDataFrame(
        [(4, ts, "beta"), (5, ts, "gamma")], schema)
    src = tmp_path / "in"
    b1.coalesce(1).write.parquet(str(src / "b1"))

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src / "*")))
        q = (dedup_stream(stream).writeStream.format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    got1 = {r.text for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got1 == {"alpha", "beta"}        # in-batch dup dropped
    b2.coalesce(1).write.parquet(str(src / "b2"))
    run()                                    # restart, same checkpoint
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 3                  # 'beta' dup from b1 dropped
    assert {r.text for r in out.collect()} == {"alpha", "beta", "gamma"}


def test_streaming_dedup_with_watermark_bound(spark, tmp_path):
    """the within= variant compiles to dropDuplicatesWithinWatermark
    (bounded state) and still removes in-window duplicates."""
    import datetime

    from perl_html5_dom_spark.streaming.ingest import dedup_stream

    ts = datetime.datetime(2025, 1, 1)
    schema = "doc_id bigint, warc_ts timestamp, text string"
    spark.createDataFrame(
        [(1, ts, "a"), (2, ts, "a"), (3, ts, "b")], schema
    ).coalesce(1).write.parquet(str(tmp_path / "in" / "b1"))
    stream = (spark.readStream.schema(schema)
              .parquet(str(tmp_path / "in" / "*")))
    q = (dedup_stream(stream, within="2 days")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert {r.text for r in
            spark.read.parquet(str(tmp_path / "out")).collect()} == {"a", "b"}


def test_css_extract_multi_fused_sinks(spark):
    from perl_html5_dom_spark.operators.selector_ops import (
        css_extract, css_extract_multi)

    html = (b'<body><a href="/x" title="T">one</a>'
            b'<a href="/y">two <b>bold</b></a><a>untargeted</a></body>')
    pages = spark.createDataFrame(
        [("u", html)], "url string, html binary")
    rows = sorted(css_extract_multi(
        pages, "a[href]", whats=("attr:href", "attr:title", "text", "html")
    ).collect(), key=lambda r: r.ord)
    assert [(r.attr_href, r.attr_title, r.text) for r in rows] == [
        ("/x", "T", "one"), ("/y", None, "two bold")]
    assert rows[1].html == '<a href="/y">two <b>bold</b></a>'
    # parity with the single-sink operator per column
    single = {r.node_id: r.value for r in
              css_extract(pages, "a[href]", what="attr:href").collect()}
    assert {r.node_id: r.attr_href for r in rows} == single


def test_css_extract_multi_rejects_bad_sink(spark):
    import pytest

    from perl_html5_dom_spark.operators.selector_ops import css_extract_multi

    pages = spark.createDataFrame([("u", b"<p>x</p>")],
                                  "url string, html binary")
    with pytest.raises(ValueError):
        css_extract_multi(pages, "p", whats=("nope",))


def test_bucketed_join_avoids_shuffle(spark, pages, tmp_path):
    """Two url-bucketed tables equi-join with NO Exchange on either
    side — the co-location contract plans.bucketing promises.

    Idempotency across crashed sessions (VERDICT r5 #1): per-run
    UNIQUE table names, so a killed run's orphaned
    ``spark-warehouse/<table>/`` dir can never collide with a later
    run (LOCATION_ALREADY_EXISTS), plus a best-effort cleanup of any
    stale location before writing."""
    import shutil
    import uuid

    from perl_html5_dom_spark.plans.bucketing import (
        bucketed_join_is_shuffle_free, write_bucketed)

    run_id = uuid.uuid4().hex[:12]
    name_a, name_b = f"t_bucket_a_{run_id}", f"t_bucket_b_{run_id}"
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse").replace("file:", "")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in (name_a, name_b):
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        a = pages.limit(60).selectExpr("url", "length(html) as n")
        b = pages.limit(60).selectExpr("url", "url as u2")
        write_bucketed(a, name_a, buckets=8)
        write_bucketed(b, name_b, buckets=8)
        ta, tb = spark.table(name_a), spark.table(name_b)
        assert bucketed_join_is_shuffle_free(ta, tb)
        assert ta.join(tb, "url").count() == 60
        # the same join on unbucketed frames DOES shuffle (control)
        assert not bucketed_join_is_shuffle_free(a, b)
    finally:
        for name in (name_a, name_b):
            spark.sql(f"drop table if exists {name}")
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_join_survives_prepolluted_warehouse(spark, pages):
    """Regression for VERDICT r5 #1: a stale warehouse dir left by a
    killed session (directory on disk, NO catalog entry) must not fail
    subsequent runs.  With per-run unique names the stale dir is simply
    never touched."""
    import shutil
    import uuid

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse").replace("file:", "")
    stale = os.path.join(warehouse, "t_bucket_a")
    os.makedirs(os.path.join(stale, "orphan"), exist_ok=True)
    try:
        test_bucketed_join_avoids_shuffle(spark, pages, None)
    finally:
        shutil.rmtree(stale, ignore_errors=True)


def test_crawl_rate_stream_windows(spark, tmp_path):
    """Windowed per-host fetch counts over a watermarked stream match
    the batch recomputation; late-window state finalizes in append
    mode (file sink) once the watermark passes."""
    import datetime

    from perl_html5_dom_spark.streaming.ingest import crawl_rate_stream

    base = datetime.datetime(2025, 1, 1, 12, 0, 0)
    rows = []
    for i in range(120):
        rows.append((f"https://h{i % 3}.example/p{i}",
                     base + datetime.timedelta(seconds=i * 2)))
    # a late straggler window-closer so earlier windows finalize
    rows.append(("https://h0.example/last",
                 base + datetime.timedelta(minutes=30)))
    schema = "url string, warc_ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "b1"))
    stream = (spark.readStream.schema(schema)
              .parquet(str(tmp_path / "in" / "*")))
    q = (crawl_rate_stream(stream)
         .writeStream.format("parquet").outputMode("append")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r.window_start), r.host): r.n_fetches for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    # 120 fetches x 2s = 4 one-minute windows, 30 fetches each, 3 hosts
    assert got[("2025-01-01 12:00:00", "h0.example")] == 10
    assert got[("2025-01-01 12:01:00", "h1.example")] == 10
    assert sum(v for (w, h), v in got.items()
               if w.startswith("2025-01-01 12:0")) == 120


def test_sql_css_attr(spark, pages):
    from perl_html5_dom_spark.functions.register import register_all

    register_all(spark)
    pages.limit(10).createOrReplaceTempView("pages_attr_v")
    rows = spark.sql("""
        select url,
               css_attr(html, 'a.ref', 'href') as ref_href,
               css_attr(html, 'a.ref', 'missing') as absent,
               css_attr(html, 'section.nope', 'x') as no_match
        from pages_attr_v
    """).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.absent is None and r.no_match is None
        if r.ref_href is not None:
            assert r.ref_href.startswith("https://example.org/")


def test_end_to_end_webtext_pipeline(spark, tmp_path):
    """The full curation chain composes: WARC files -> extraction ->
    quality filter -> exact dedup -> content-keyed split -> sequence
    packing, each stage feeding the next as a plain DataFrame."""
    from perl_html5_dom_spark.operators.dedup import exact_duplicates
    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.operators.packing import pack_offsets
    from perl_html5_dom_spark.operators.textstats import (
        corpus_split, quality_scores)
    from perl_html5_dom_spark.sources.warc import (
        build_response_record, build_warc, warc_pages_df)

    # 1. crawl drop: 30 pages in 3 .warc.gz files; ids 0/10/20 share
    # one body (exact dups), id%7==3 bodies are junk (one short token)
    drop = tmp_path / "drop"
    drop.mkdir()
    for fi in range(3):
        recs = []
        for i in range(10):
            did = fi * 10 + i
            body = ("zz" if did % 7 == 3 else
                    "the shared body text" if did % 10 == 0 else
                    f"the unique body text number {did} with tokens")
            recs.append(build_response_record(
                f"https://e2e.example/{did}",
                f"<html><body><main><p>{body}</p></main></body></html>"
                .encode()))
        (drop / f"seg{fi}.warc.gz").write_bytes(build_warc(recs))

    # 2. ingest + extract
    pages = warc_pages_df(spark, str(drop))
    docs = (extract_pages(pages, span_selector=None,
                          fields=["url", "main_text"])
            .selectExpr("cast(substring_index(url, '/', -1) as bigint) "
                        "as doc_id", "main_text as text"))
    assert docs.count() == 30

    # 3. quality filter drops the junk docs (short, no stopwords)
    q = quality_scores(docs)
    kept = docs.join(q.where("n_tokens >= 4 and stopword_ratio > 0"),
                     "doc_id").select("doc_id", "text")
    n_kept = kept.count()
    # junk ids: 3,10,17,24 (the %7 branch wins over %10 for id 10)
    assert n_kept == 26
    # 4. exact dedup keeps one of the three shared bodies
    dup_groups = exact_duplicates(kept)
    assert dup_groups.count() == 1
    losers = (dup_groups.selectExpr("text_md5", "keeper_id")
              .join(kept.selectExpr("doc_id", "md5(text) as text_md5"),
                    "text_md5")
              .where("doc_id <> keeper_id"))
    deduped = kept.join(losers.select("doc_id"), "doc_id", "left_anti")
    assert deduped.count() == n_kept - 1        # shared body on ids 0,20

    # 5. split + pack
    final = deduped.join(
        corpus_split(deduped).where("split = 'train'"), "doc_id")
    packed = pack_offsets(final.select("doc_id", "text"),
                          max_tokens=16, buckets=4)
    rows = packed.collect()
    assert len(rows) == final.count() > 0
    assert sum(r.n_tokens for r in rows) == \
        sum(len(r.text.split(" ")) for r in final.select("text").collect())


def test_frequent_paths_site_template(spark):
    from perl_html5_dom_spark.operators.nodes import frequent_paths

    def page(i, extra=""):
        return (f"https://s/{i}",
                (f"<body><header><nav>n</nav></header>"
                 f"<main><p>c{i}</p>{extra}</main></body>").encode())

    pages = spark.createDataFrame(
        [page(i, extra="<aside>r</aside>" if i < 2 else "")
         for i in range(10)],
        "url string, html binary")
    out = {r.path: r for r in frequent_paths(pages, min_frac=0.9).collect()}
    assert out["html>body>header>nav"].boilerplate is True
    assert out["html>body>main>p"].n_pages == 10
    aside = out["html>body>main>aside"]
    assert (aside.n_pages, aside.boilerplate) == (2, False)
    assert abs(aside.frac - 0.2) < 1e-9
