"""Operator-level Spark tests: dedup invariants, textstats, similarity,
skew/robustness — on sf0.001 (shared session from conftest)."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def corpus(spark, docs):
    docs.createOrReplaceTempView("documents")
    from perl_html5_dom_spark.queries import CORPUS_SQL

    return spark.sql(CORPUS_SQL).persist()


def test_minhash_is_subset_of_exact_jaccard(spark, corpus):
    from perl_html5_dom_spark.operators.dedup import (
        jaccard_pairs_exact, minhash_near_dups)

    exact = {(r.a, r.b) for r in jaccard_pairs_exact(corpus, 0.5).collect()}
    lsh = {(r.a, r.b) for r in minhash_near_dups(corpus, 0.5).collect()}
    assert lsh <= exact                       # LSH never invents pairs
    assert len(lsh) >= 0.9 * len(exact)       # and recall stays high
    # every planted exact copy (id+100000) must be found by both
    planted = {(r.a, r.a + 100000) for r in
               corpus.filter("doc_id % 5 = 0 and doc_id < 100000")
               .selectExpr("doc_id as a").collect()}
    assert planted <= lsh


def _jobs_of_group(spark, group, fn):
    """Run ``fn()`` in Spark job group ``group``; the ids of the jobs
    it started.  A marker job run afterwards in a group of its own is
    awaited in the status tracker first: the tracker is filled in
    event order, so by then every job of ``group`` is in it."""
    import time

    sc, marker = spark.sparkContext, group + "_marker"
    for name, run in ((group, fn), (marker, spark.range(1).collect)):
        sc.setJobGroup(name, name)
        try:
            run()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
    deadline = time.monotonic() + 60
    while (not sc.statusTracker().getJobIdsForGroup(marker)
           and time.monotonic() < deadline):
        time.sleep(0.05)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_minhash_without_text_fails_before_any_job(spark):
    """The signature kernel reads ``text``, so a frame without it fails
    at analysis, before the kernel output is checkpointed."""
    from pyspark.errors import AnalysisException

    from perl_html5_dom_spark.operators.dedup import minhash_near_dups

    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c d")],
                               "doc_id long, body string")

    def call():
        with pytest.raises(AnalysisException):
            minhash_near_dups(df)

    assert _jobs_of_group(spark, "minhash_no_text", call) == []


def test_simhash_identical_docs_zero_hamming(spark, corpus):
    from perl_html5_dom_spark.operators.dedup import simhash

    sh = {r.doc_id: r.simhash for r in simhash(corpus).collect()}
    for did in range(0, 100, 5):
        assert sh[did] == sh[did + 100000]


def test_lang_id_and_quality(spark, docs):
    from perl_html5_dom_spark.operators.textstats import (
        lang_id, quality_scores, token_counts)

    li = lang_id(docs)
    assert li.filter("lang_pred not in ('en','de','fr','es','zh','und')").count() == 0
    q = quality_scores(docs)
    assert q.filter("quality < 0 or quality > 1").count() == 0
    tc = token_counts(docs)
    assert tc.filter("bpe_ish_tokens < ws_tokens").count() == 0


def test_ann_lsh_recall_against_brute_force(spark):
    from perl_html5_dom_spark.operators.similarity import (
        ann_topk_lsh, brute_force_topk)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = brute_force_topk(emb, [0, 1], k=5).collect()
    approx = ann_topk_lsh(emb, [0, 1], k=5, bits=4, tables=4).collect()
    ex = {(r.query_id, r.vec_id) for r in exact}
    ap = {(r.query_id, r.vec_id) for r in approx}
    # recall need not be perfect, but buckets with 4 tables x 4 bits
    # should recover a good share of the true top-5
    assert len(ex & ap) >= 4


def test_extract_handles_null_and_hostile_html(spark):
    from perl_html5_dom_spark.operators.extract import extract_pages

    rows = [
        ("u1", b"<html><body><p>fine</p></body></html>"),
        ("u2", None),
        ("u3", b""),
        ("u4", b"\x00\xff\xfe garbage <<<"),
        ("u5", b"<div>" * 5000),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r.url: r for r in extract_pages(df).collect()}
    assert len(out) == 5
    assert out["u1"].main_text == "fine"
    assert out["u2"].n_nodes == 0
    assert out["u5"].n_nodes > 5000


def test_giant_document_skew_extraction(spark):
    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.plans.pipeline import salted_repartition

    big = "<p>" + "word " * 200_000 + "</p>"          # ~1.2 MB doc
    rows = [(f"u{i}", f"<html><body><p>doc {i}</p></body></html>".encode())
            for i in range(50)] + [("giant", f"<html><body>{big}</body></html>".encode())]
    df = salted_repartition(
        spark.createDataFrame(rows, "url string, html binary"), 8)
    out = extract_pages(df, None, fields=["url", "main_text"])
    got = {r.url: r.main_text for r in out.collect()}
    assert len(got) == 51
    assert got["u7"] == "doc 7"
    # 200k words -> "word "*200k rtrimmed = 999,999 chars exactly
    assert got["giant"].startswith("word word")
    assert len(got["giant"]) == 200_000 * 5 - 1


def test_connected_components_chain_and_singletons(spark):
    from perl_html5_dom_spark.operators.dedup import (
        connected_components, dedup_keep)

    # chain 1-2-3-4-5 (worst case for plain propagation: pointer
    # jumping must converge in O(log n) rounds), triangle 10-11-12,
    # pair 20-21, singletons 30/31 supplied via the node universe
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
         (20, 21)], "a long, b long")
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 30, 31)],
        "doc_id long")
    comp = {r.node: r.comp for r in
            connected_components(pairs, nodes=nodes).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                    10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 31}

    keep = {r.doc_id: (r.component, r.keep) for r in
            dedup_keep(nodes, pairs).collect()}
    assert keep[1] == (1, True) and keep[5] == (1, False)
    assert keep[30] == (30, True)
    # one keep per cluster: chain, triangle, pair + the two singletons
    assert sum(1 for c, k in keep.values() if k) == 5


def test_connected_components_duplicate_pairs(spark):
    """Round 6 dropped the edges.distinct() shuffle on the grounds that
    min-label propagation is duplicate-tolerant (the partial-agg mins
    collapse repeats map-side).  Lock that: duplicated and reversed
    pair rows must yield exactly the labels of the clean pair list."""
    from perl_html5_dom_spark.operators.dedup import connected_components

    clean = [(1, 2), (2, 3), (3, 4), (10, 11)]
    noisy = clean * 3 + [(b, a) for a, b in clean] + [(2, 1), (3, 2)]
    expect = {r.node: r.comp for r in connected_components(
        spark.createDataFrame(clean, "a long, b long")).collect()}
    got = {r.node: r.comp for r in connected_components(
        spark.createDataFrame(noisy, "a long, b long")).collect()}
    assert got == expect == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_gopher_quality_signals(spark):
    """Hand-computed Gopher/C4 signals on a fixed document."""
    from perl_html5_dom_spark.operators.textstats import gopher_quality

    text = "\n".join([
        "the cat and the dog of a to a the end",   # 11 words, stopwords
        "- bullet one",
        "- bullet one",                            # duplicate line
        "read more...",
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = gopher_quality(df, min_words=5).collect()[0]
    assert r.n_lines == 4
    assert r.n_words == 11 + 3 + 3 + 2
    assert r.dup_line_frac == round(1 - 3 / 4, 6)
    assert r.bullet_frac == 0.5
    assert r.ellipsis_frac == 0.25
    assert r.stop_hits == 8  # the x3 + and + of + to + a x2
    # chars: dup line "- bullet one" (12 chars) dropped once
    total = sum(len(l) for l in text.split("\n"))
    dedup = total - len("- bullet one")
    assert r.dup_line_char_frac == round(1 - dedup / total, 6)
    assert r.mean_word_len == round(58 / 19, 6)
    assert r.keep  # every bound satisfied (mean_word_len 3.05 >= 3)


def test_gopher_keep_varies(spark):
    from perl_html5_dom_spark.operators.textstats import gopher_quality

    good = " ".join(["the quick brown fox jumps over the lazy dog and"] * 8)
    listy = "\n".join(["- item"] * 20)
    df = spark.createDataFrame(
        [(1, good), (2, listy)], "doc_id long, text string")
    rows = {r.doc_id: r for r in gopher_quality(df, min_words=10).collect()}
    assert rows[1].keep
    assert not rows[2].keep and rows[2].bullet_frac == 1.0


def test_normalize_text_nfc(spark):
    from perl_html5_dom_spark.operators.textstats import normalize_text

    df = spark.createDataFrame(
        [(1, "café  \t x "), (2, "Äb")],
        "doc_id long, text string")
    rows = {r.doc_id: r.text_norm for r in normalize_text(df).collect()}
    assert rows[1] == "café x"      # composed + collapsed + trimmed
    assert rows[2] == "Äb"


def test_line_dedup_first_occurrence(spark):
    from perl_html5_dom_spark.operators.dedup import line_dedup

    rows = [
        (1, "header\nalpha\nfooter"),
        (2, "header\nbeta\nfooter"),
        (3, "header\nbeta\ngamma"),   # 'beta' already seen in doc 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text_dedup for r in line_dedup(df).collect()}
    assert out[1] == "header\nalpha\nfooter"   # first occurrences all kept
    assert out[2] == "beta"                    # header+footer seen in doc 1
    assert out[3] == "gamma"
    # a doc whose lines are ALL boilerplate disappears (C4 semantics)
    df2 = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\ny")], "doc_id long, text string")
    out2 = {r.doc_id: r.text_dedup for r in line_dedup(df2).collect()}
    assert out2 == {1: "x\ny"}


def test_host_boilerplate_per_host_rule(spark):
    from perl_html5_dom_spark.operators.dedup import host_boilerplate

    rows = [
        # host a: 'nav' on 3 distinct docs -> template, dropped everywhere
        (1, "https://a.example/p1", "nav\nalpha"),
        (2, "https://a.example/p2", "nav\nbeta\nrare"),
        (3, "https://a.example/p3", "nav\nrare"),   # 'rare' on only 2 docs
        (4, "https://a.example/p4", "nav"),          # all-template doc
        # host b: same 'nav' text but only 1 doc there -> kept (per-host!)
        (5, "https://b.example/p1", "nav\ndelta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {r.doc_id: r for r in host_boilerplate(df, min_docs=3).collect()}
    assert len(out) == 5                      # all docs survive, even empty
    assert out[1].text_clean == "alpha"
    assert out[2].text_clean == "beta\nrare"  # below min_docs -> kept
    assert out[3].text_clean == "rare"
    assert out[4].text_clean == "" and out[4].n_removed == 1
    assert out[5].text_clean == "nav\ndelta"  # host b never hit min_docs
    assert (out[2].n_lines, out[2].n_removed) == (3, 1)


def test_sitemap_xml_through_html_kernel(spark):
    """Sitemap XML parses browser-style: unknown elements nest as
    written, the <?xml?> PI becomes a bogus comment, and css_extract
    pulls <loc> entries in document order."""
    from perl_html5_dom_spark.operators.selector_ops import css_extract

    xml = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<urlset><url><loc>https://a.example/p0</loc>'
           '<lastmod>2025-01-01</lastmod></url>'
           '<url><loc>https://a.example/p1</loc></url></urlset>')
    pages = spark.createDataFrame(
        [("https://a.example/sitemap.xml", xml.encode())],
        "url string, html binary")
    rows = sorted(css_extract(pages, "url > loc", what="text").collect(),
                  key=lambda r: r.ord)
    assert [r.value for r in rows] == [
        "https://a.example/p0", "https://a.example/p1"]
    # lastmod is a sibling, not matched by the child selector
    lm = css_extract(pages, "urlset lastmod", what="text").collect()
    assert [r.value for r in lm] == ["2025-01-01"]


def test_corpus_split_deterministic_and_leak_safe(spark):
    from perl_html5_dom_spark.operators.textstats import corpus_split

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in corpus_split(docs).collect()}
    # identical text -> identical split, regardless of doc_id
    assert out[1].split == out[2].split
    assert out[1].bucket == out[2].bucket
    assert 0 <= out[3].bucket < 100
    # custom weights route through the same buckets
    half = {r.doc_id: r.split for r in corpus_split(
        docs, {"a": 50, "b": 50}).collect()}
    assert set(half.values()) <= {"a", "b"}


def test_distinctive_terms_ranking(spark):
    from perl_html5_dom_spark.operators.textstats import distinctive_terms

    docs = spark.createDataFrame(
        [(1, "x x x common rare"), (2, "common y"), (3, "common z")],
        "doc_id bigint, text string")
    out = {(r.doc_id, r.rk): r for r in
           distinctive_terms(docs, k=2).collect()}
    # doc 1: 'x' wins on tf=3; tie at tf=1 between common(df=3) and
    # rare(df=1) -> rare wins on smaller df
    assert out[(1, 1)].term == "x" and out[(1, 1)].tf == 3
    assert out[(1, 2)].term == "rare" and out[(1, 2)].df == 1
    # doc 2: tf tie between common and y -> y (df=1) beats common (df=3)
    assert out[(2, 1)].term == "y"


def test_pack_offsets_contiguous_streams(spark):
    """Within every bucket: intervals are contiguous from 0 in doc_id
    order, and chunk indexes are the interval ends over max_tokens."""
    from perl_html5_dom_spark.operators.packing import pack_offsets

    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * (i % 7 + 1))) for i in range(1, 40)],
        "doc_id bigint, text string")
    rows = pack_offsets(docs, max_tokens=5, buckets=3).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(by_bucket) == 3
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r.doc_id)
        cursor = 0
        for r in rs:
            assert r.start_tok == cursor          # no gaps, no overlap
            assert r.end_tok - r.start_tok == r.n_tokens
            assert r.first_chunk == r.start_tok // 5
            assert r.last_chunk == (r.end_tok - 1) // 5
            cursor = r.end_tok
    # documents DO span chunk boundaries (the concat-and-chunk layout)
    assert any(r.first_chunk != r.last_chunk for r in rows)


# 1x1 transparent PNG (well-known minimal fixture)
_PNG_1X1 = bytes.fromhex(
    "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c489"
    "0000000d4944415478da63fcffffff3f0300050201edf2977f0000000049454e44"
    "ae426082")


def test_decode_image_kernel_fake_and_real():
    import pytest

    from perl_html5_dom_spark.queries import _decode_image

    fake = b"FAKEIMG1;w=12;h=7;" + b"\x00" * 3
    assert _decode_image(fake) == {
        "width": 12, "height": 7, "n_bytes": len(fake)}

    # real PNG magic: decodes via Pillow when present, otherwise the
    # honest NotImplementedError guard fires
    try:
        import PIL  # noqa: F401
        out = _decode_image(_PNG_1X1)
        assert (out["width"], out["height"]) == (1, 1)
    except ImportError:
        with pytest.raises(NotImplementedError):
            _decode_image(_PNG_1X1)

    # unknown payloads never decode silently
    with pytest.raises(NotImplementedError):
        _decode_image(b"garbage")


def test_duplicated_ngrams(spark):
    from perl_html5_dom_spark.operators.dedup import duplicated_ngrams

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i"),       # 2 positions, corpus-first
         (1, "a b c d e f g h i"),       # same grams -> both duplicated
         (2, "q w e r t y u i o p"),     # 3 unique positions
         (3, "x y")],                    # < k tokens -> no row
        "doc_id long, text string")
    out = {r.doc_id: r for r in duplicated_ngrams(docs, k=8).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0].n_grams, out[0].n_dup) == (2, 0)
    assert (out[1].n_grams, out[1].n_dup) == (2, 2)
    assert out[1].dup_frac == 1.0
    assert (out[2].n_grams, out[2].n_dup) == (3, 0)


def test_corpus_sample(spark):
    from perl_html5_dom_spark.operators.textstats import corpus_sample

    docs = spark.createDataFrame(
        [(i, "t", "drop" if i % 3 == 0 else ("half" if i % 3 == 1 else "keep"))
         for i in range(300)],
        "doc_id long, text string, source string")
    out = corpus_sample(docs, {"drop": 0, "half": 500}).collect()
    by = {}
    for r in out:
        by.setdefault(r.source, []).append(r)
    assert all(not r.keep for r in by["drop"])           # rate 0
    assert all(r.keep for r in by["keep"])               # default 1000
    kept_half = sum(r.keep for r in by["half"])
    assert 20 < kept_half < 80                           # ~50% of 100
    assert all(r.keep == (r.bucket < 500) for r in by["half"])
    # deterministic: same draw on a second invocation
    again = {r.doc_id: r.keep for r in
             corpus_sample(docs, {"drop": 0, "half": 500}).collect()}
    assert all(again[r.doc_id] == r.keep for r in out)


def test_ngram_repetition_hand_computed(spark):
    """Gopher n-gram repetition fractions on fixed documents, checked
    against hand arithmetic (the DuckDB twin re-derives relationally)."""
    from perl_html5_dom_spark.operators.textstats import ngram_repetition

    rows = {r["doc_id"]: r for r in ngram_repetition(spark.createDataFrame(
        [(1, "a b a b a b c d"),
         (2, "one two three one two three one two three one two three"),
         (3, ""), (4, "solo")],
        "doc_id long, text string")).collect()}
    # doc 1: tc=15; "a b" x3 (3 chars) -> 9/15; no repeated 5-grams
    assert rows[1]["top2_frac"] == 0.6
    assert rows[1]["dup5_frac"] == 0.0
    # doc 2: tc=55; 2-gram tie at cnt=4 broken by charlen ("two three",
    # 9 chars) -> 36/55; every 3-gram occurs >= 3 times -> dup5 capped
    assert rows[2]["top2_frac"] == round(36 / 55, 6)
    assert rows[2]["top3_frac"] == round(4 * 13 / 55, 6)
    assert rows[2]["dup5_frac"] == 1.0
    assert not rows[2]["keep_rep"]
    # degenerate docs: zero signal, keep
    for d in (3, 4):
        assert rows[d]["top2_frac"] == 0.0
        assert rows[d]["dup10_frac"] == 0.0
        assert rows[d]["keep_rep"]


def test_ngram_repetition_flags_loops(spark, docs):
    """Over the real corpus: prose documents keep, a synthetic looped
    document is rejected, and fractions are within declared bounds."""
    from perl_html5_dom_spark.operators.textstats import ngram_repetition

    looped = docs.limit(20).selectExpr(
        "doc_id + 1000000 as doc_id",
        "concat_ws(' ', array_repeat('spam ham jam', 30)) as text")
    out = ngram_repetition(docs.select("doc_id", "text").unionAll(looped))
    agg = out.selectExpr(
        "max(cast(doc_id >= 1000000 and keep_rep as int)) as bad_keep",
        "min(cast(doc_id < 1000000 and keep_rep as int)) as some",
        "max(dup5_frac) as mx").collect()[0]
    assert agg.bad_keep == 0          # every looped doc rejected
    assert agg.mx <= 1.0              # dup fractions capped
    n_keep = out.where("doc_id < 1000000 and keep_rep").count()
    assert n_keep > 0                 # prose survives


def test_token_logfreq_hand_computed(spark):
    """CCNet-style corpus-frequency proxy on a fixed corpus, checked
    against hand arithmetic.  Corpus: 'a a a a b b c' across docs ->
    counts a=4, b=2, c=1; buckets floor(log2)=2,1,0."""
    from perl_html5_dom_spark.operators.textstats import token_logfreq

    rows = {r["doc_id"]: r for r in token_logfreq(spark.createDataFrame(
        [(1, "a a b"), (2, "a a b c"), (3, "")],
        "doc_id long, text string")).collect()}
    # doc 1: buckets 2+2+1=5 over 3 tokens -> 5000 div 3 = 1666
    assert (rows[1]["n_tok"], rows[1]["logfreq_permille"]) == (3, 1666)
    # doc 2: 2+2+1+0=5 over 4 -> 1250
    assert (rows[2]["n_tok"], rows[2]["logfreq_permille"]) == (4, 1250)
    # doc 3: split('', ' ') -> [''] one empty token; '' occurs once in
    # the corpus -> bucket 0 -> score 0
    assert (rows[3]["n_tok"], rows[3]["logfreq_permille"]) == (1, 0)


def _rep_fold(n: int) -> str:
    """SQL twin of the ngram_repetition kernel: struct(bc, bl, dup) for
    word n-grams of ``t``.

    Sorted-run scan, all inside whole-stage codegen: sort the n-gram
    array once, then a single ``aggregate`` fold walks the runs and
    keeps (bc, bl) = (count, charlen) of the most frequent n-gram
    (ties broken by charlen, so the output fraction is deterministic)
    and ``dup`` = occurrence-weighted char mass of n-grams appearing
    more than once.  O(w log w) per document, no shuffle, no Python.
    """
    grams = (f"case when size(t) >= {n} then "
             f"transform(sequence(1, size(t) - {n - 1}), "
             f"i -> concat_ws(' ', slice(t, i, {n}))) "
             "else array() end")
    z = "cast(0 as bigint)"
    one = "cast(1 as bigint)"
    close_better = ("(s.prev is not null and (s.run > s.bc or "
                    "(s.run = s.bc and length(s.prev) > s.bl)))")
    close_bc = f"if({close_better}, s.run, s.bc)"
    close_bl = f"if({close_better}, cast(length(s.prev) as bigint), s.bl)"
    close_dup = (f"s.dup + if(s.prev is not null and s.run >= 2, "
                 f"s.run * cast(length(s.prev) as bigint), {z})")
    return (
        f"aggregate(array_sort({grams}), "
        f"named_struct('prev', cast(null as string), 'run', {z}, "
        f"'bc', {z}, 'bl', {z}, 'dup', {z}), "
        "(s, x) -> if(s.prev is not null and x = s.prev, "
        f"named_struct('prev', x, 'run', s.run + {one}, "
        "'bc', s.bc, 'bl', s.bl, 'dup', s.dup), "
        f"named_struct('prev', x, 'run', {one}, "
        f"'bc', {close_bc}, 'bl', {close_bl}, 'dup', {close_dup})), "
        f"s -> named_struct('bc', {close_bc}, 'bl', {close_bl}, "
        f"'dup', {close_dup}))"
    )


def test_ngram_repetition_matches_sql_fold(spark, docs):
    """Round-6: the Arrow Counter kernel must be BIT-identical to the
    whole-stage-codegen sorted-run fold it replaced (``_rep_fold``,
    kept here as the differential twin)."""
    from perl_html5_dom_spark.operators import textstats as ts

    def fold_impl(d, text_col="text"):
        tops = {n: _rep_fold(n) for n in ts.GOPHER_TOP_NGRAM_MAX}
        dups = {n: _rep_fold(n) for n in ts.GOPHER_DUP_NGRAM_MAX}
        top_cols = [
            f"round(if(tc = 0, 0.0, _r{n}.bc * _r{n}.bl / tc), 6) "
            f"as top{n}_frac" for n in sorted(tops)]
        dup_cols = [
            f"round(if(tc = 0, 0.0, least(1.0, _r{n}.dup / tc)), 6) "
            f"as dup{n}_frac" for n in sorted(dups)]
        keep = " and ".join(
            [f"top{n}_frac < {v}"
             for n, v in sorted(ts.GOPHER_TOP_NGRAM_MAX.items())]
            + [f"dup{n}_frac < {v}"
               for n, v in sorted(ts.GOPHER_DUP_NGRAM_MAX.items())])
        return (
            d.selectExpr("doc_id", f"split({text_col}, ' ') as t")
            .selectExpr("doc_id", "t",
                        "cast(length(concat_ws(' ', t)) as bigint) as tc")
            .selectExpr("doc_id", "tc",
                        *[f"{e} as _r{n}" for n, e in sorted(tops.items())],
                        *[f"{e} as _r{n}" for n, e in sorted(dups.items())])
            .selectExpr("doc_id", *top_cols, *dup_cols)
            .selectExpr("*", f"{keep} as keep_rep"))

    edge = spark.createDataFrame(
        [(9000001, ""), (9000002, "solo"), (9000003, None),
         (9000004, "x y x y x y x y"),
         (9000005, "a a a a a a a a a a a a"),
         (9000006, "one two three one two three one two three"),
         (9000007, "  double  spaces  keep  empties  ")],
        "doc_id long, text string")
    sample = docs.select("doc_id", "text").limit(60).unionAll(edge)
    want = {r["doc_id"]: r.asDict() for r in fold_impl(sample).collect()}
    got = {r["doc_id"]: r.asDict()
           for r in ts.ngram_repetition(sample).collect()}
    assert got == want


def test_quality_scores_matches_sql_form(spark, docs):
    """Round-6: the integer-counting Arrow kernel must be BIT-identical
    to the all-SQL projection it replaced (kept here as the twin)."""
    from perl_html5_dom_spark.operators import textstats as ts

    def sql_impl(d):
        toks = ts.tokens_expr()
        stop = ts._marker_hits_expr("en")
        return d.selectExpr(
            "doc_id",
            "cast(length(text) as bigint) as n_chars",
            f"cast(size({toks}) as bigint) as n_tokens",
            f"round((length(text) - size({toks}) + 1) / size({toks}), 6) "
            "as avg_token_len",
            f"round({stop} / size({toks}), 6) as stopword_ratio",
            "round(length(regexp_replace(text, '[^a-zA-Z]', '')) / "
            "length(text), 6) as alpha_ratio",
        ).selectExpr(
            "*",
            "floor((least(n_tokens / 20.0, 1.0) * 0.25 "
            "+ (case when avg_token_len between 2 and 12 then 0.25 "
            "else 0.0 end) "
            "+ least(stopword_ratio * 5.0, 1.0) * 0.25 "
            "+ alpha_ratio * 0.25) * 1000000 + 0.5) / 1000000 as quality",
        )

    # NOTE: no empty-string doc — length(text) = 0 raises
    # DIVIDE_BY_ZERO under ANSI in BOTH forms (the alpha_ratio
    # division), identically; collect cannot compare raised errors
    edge = spark.createDataFrame(
        [(9100002, "the"), (9100003, None),
         (9100004, "the and of to a"), (9100005, "12345 !!! ###"),
         (9100006, "  padded  with  spaces  ")],
        "doc_id long, text string")
    sample = docs.select("doc_id", "text").limit(60).unionAll(edge)
    want = {r["doc_id"]: r.asDict() for r in sql_impl(sample).collect()}
    got = {r["doc_id"]: r.asDict()
           for r in ts.quality_scores(sample).collect()}
    assert got == want


def test_runner_keys_stay_aligned_with_memo(spark):
    """One partition, so all rows share one Arrow batch and one memo:
    a text repeated under other keys is counted once, but every row
    keeps its own key values, and a null text keeps its row."""
    from perl_html5_dom_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [(1, "a b a b a b c d", "x", 10), (2, "a b a b a b c d", "y", 20),
         (3, None, "z", 30), (4, "solo", "w", 40),
         (5, "a b a b a b c d", "v", 50)],
        "doc_id long, text string, tag string, n long").coalesce(1)

    q = {r.doc_id: r for r in ts.quality_scores(
        df, carry=("tag", "n", "text")).collect()}
    assert {d: (r.tag, r.n, r.text) for d, r in q.items()} == {
        1: ("x", 10, "a b a b a b c d"), 2: ("y", 20, "a b a b a b c d"),
        3: ("z", 30, None), 4: ("w", 40, "solo"),
        5: ("v", 50, "a b a b a b c d")}
    assert [q[d].n_tokens for d in (1, 2, 4, 5)] == [8, 8, 1, 8]
    assert q[3].n_chars is None and q[3].quality is None

    rep = ts.ngram_repetition(df).collect()
    assert sorted(r.doc_id for r in rep) == [1, 2, 3, 4, 5]
    rep = {r.doc_id: r for r in rep}
    # "a b" x3 over 15 chars (hand computation in the test above)
    assert [rep[d].top2_frac for d in (1, 2, 5)] == [0.6] * 3
    for d in (3, 4):   # null and single-token text: zero signal
        assert rep[d].top2_frac == 0.0 and rep[d].keep_rep


@pytest.fixture(params=[None, 3], ids=["default_batch", "batch3"])
def arrow_batch(spark, request):
    """Arrow batches of Spark's default size, or of 3 rows, for the
    kernels' per-batch memo; the setting is restored afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    if request.param is not None:
        spark.conf.set(key, str(request.param))
    yield request.param
    spark.conf.set(key, before)


def _edge_frame(spark, texts, first_id):
    """``texts`` as (doc_id, text) rows of ONE partition, in order, so a
    batch of 3 rows holds texts[0:3], the next texts[3:6], ..."""
    return spark.createDataFrame(
        list(enumerate(texts, first_id)),
        "doc_id long, text string").coalesce(1)


def _edge_texts(short, mid, long_):
    """Edge texts in batches of 3: all distinct, a null first (no
    take); one text twice around a null; that text again, across
    batches, plus a pair; all distinct, none null; all null."""
    return [None, "", short,
            mid, None, mid,
            mid, long_, long_,
            short, "p q r s", "",
            None, None, None]


def test_simhash_matches_sql_form(spark, corpus, arrow_batch):
    """Round-6: the zero-shuffle numpy simhash kernel must be
    BIT-identical to the declarative two-groupBy SQL form it replaced
    (kept here as the twin), in one batch and in batches of 3 rows
    (``_edge_texts``)."""
    from pyspark.sql import functions as F

    from perl_html5_dom_spark.operators import dedup as dd

    def sql_impl(docs, bits=32):
        tok = docs.selectExpr(
            "doc_id", f"explode({dd.tokens_expr()}) as tok")
        weighted = tok.groupBy("doc_id", "tok").agg(
            F.count("*").alias("w"))
        hashed = weighted.selectExpr("doc_id", "w", f"{dd.H('tok')} as ht")
        bit_sums = [
            F.sum(F.expr(
                f"case when shiftright(ht, {b}) % 2 = 1 then w else -w end"))
            .alias(f"s{b}")
            for b in range(bits)
        ]
        pieces = " + ".join(
            f"(case when s{b} > 0 then shiftleft(cast(1 as bigint), {b}) "
            f"else cast(0 as bigint) end)"
            for b in range(bits))
        return (hashed.groupBy("doc_id").agg(*bit_sums)
                .selectExpr("doc_id", f"{pieces} as simhash"))

    edge = _edge_frame(
        spark, _edge_texts("one", "a a a b  b", "x " * 50), 9200001)
    sample = corpus.limit(80).unionAll(edge)
    want = {r.doc_id: r.simhash for r in sql_impl(sample).collect()}
    got = {r.doc_id: r.simhash
           for r in dd.simhash(sample).collect()}
    assert got == want


def _minhash_wide(hashed, num_perm=16):
    """SQL twin of the minhash kernel: (doc_id, mh0..mh{n-1}) from the
    (doc_id, hs) shingle-hash table in ONE partial-agg groupBy — the
    num_perm mins ride the same map-side combine."""
    from perl_html5_dom_spark.operators.dedup import P, perm_params

    hashed = hashed.selectExpr("doc_id", f"hs % {P} as hs")
    aggs = []
    for j in range(num_perm):
        a, b = perm_params(j)
        aggs.append(F.min(F.expr(f"({a} * hs + {b}) % {P}")).alias(f"mh{j}"))
    return hashed.groupBy("doc_id").agg(*aggs)


def test_minhash_wide_sets_match_sql(spark, corpus, arrow_batch):
    """Round-6: the per-doc minhash kernel (_doc_minhash_sets) must be
    BIT-identical to the declarative shingle-explode + wide-aggregate
    + collect_set form it replaced (``_minhash_wide`` + collect_set,
    kept here as the twin), in one batch and in batches of 3 rows
    (``_edge_texts``)."""
    from perl_html5_dom_spark.operators import dedup as dd

    edge = _edge_frame(
        spark, _edge_texts("one two", "a b c d e f g", "x y x y x y"),
        9300001)
    sample = corpus.limit(80).unionAll(edge)

    sh = dd._shingles(sample, 3).selectExpr(
        "doc_id", f"{dd.H('shingle')} as hs")
    want_wide = {r["doc_id"]: r.asDict()
                 for r in _minhash_wide(sh, 16).collect()}
    want_sets = {r.doc_id: sorted(r.hset) for r in
                 sh.groupBy("doc_id").agg(
                     F.collect_set("hs").alias("hset")).collect()}

    got = dd._doc_minhash_sets(sample, 16, 3).collect()
    got_wide = {r["doc_id"]: {k: v for k, v in r.asDict().items()
                              if k != "hset"} for r in got}
    got_sets = {r.doc_id: sorted(r.hset) for r in got}

    # SQL form drops the null-text doc only from nothing: its hs row
    # is null -> mins null, collect_set drops null -> empty array;
    # the kernel mirrors exactly
    assert got_wide == want_wide
    assert got_sets == want_sets
