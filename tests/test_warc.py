"""WARC ingestion tests (sources/warc.py): record framing, gzip member
layouts, HTTP envelope split, Spark binaryFile source."""

from __future__ import annotations

import gzip

import pytest

from perl_html5_dom_spark.sources.warc import (
    WarcError, build_record, build_response_record, build_warc,
    iter_warc_records, split_http_response)


def make_records(n=3):
    return [build_response_record(
        f"https://x.org/{i}", f"<h1>t{i}</h1><p>doc {i}</p>".encode(),
        date=f"2025-01-0{i + 1}T00:00:00Z", charset="utf-8")
        for i in range(n)]


def test_roundtrip_per_record_gzip():
    data = build_warc(make_records())
    recs = list(iter_warc_records(data))
    assert recs[0]["warc_type"] == "warcinfo"
    resp = [r for r in recs if r["warc_type"] == "response"]
    assert [r["target_uri"] for r in resp] == [
        "https://x.org/0", "https://x.org/1", "https://x.org/2"]
    assert resp[1]["payload"] == b"<h1>t1</h1><p>doc 1</p>"
    assert resp[1]["date"] == "2025-01-02T00:00:00Z"
    assert resp[1]["http_headers"][":status"] == "200"
    assert resp[1]["http_headers"]["content-type"] == \
        "text/html; charset=utf-8"


def test_roundtrip_plain_and_whole_file_gzip():
    plain = build_warc(make_records(), per_record_gzip=False)
    assert plain.startswith(b"WARC/1.0\r\n")
    assert len([r for r in iter_warc_records(plain)
                if r["warc_type"] == "response"]) == 3
    whole = gzip.compress(plain)
    assert len([r for r in iter_warc_records(whole)
                if r["warc_type"] == "response"]) == 3


def test_deterministic_bytes():
    # mtime=0 members: byte-identical output for identical input
    assert build_warc(make_records()) == build_warc(make_records())


def test_content_length_binary_safe():
    # payload containing CRLFCRLF and WARC/ markers must not confuse
    # framing — Content-Length is authoritative
    evil = b"x\r\n\r\nWARC/1.0\r\n\r\ny"
    rec = build_response_record("https://x.org/e", evil)
    out = [r for r in iter_warc_records(build_warc([rec, *make_records(1)]))
           if r["warc_type"] == "response"]
    assert out[0]["payload"] == evil
    assert out[1]["target_uri"] == "https://x.org/0"


def test_folded_header_continuation():
    rec = build_record(
        "metadata", b"k: v\r\n", uri="https://x.org/m",
        content_type="application/warc-fields")
    rec = rec.replace(b"WARC-Target-URI: https://x.org/m",
                      b"WARC-Target-URI: https://x.org/\r\n m")
    (got,) = iter_warc_records(rec)
    assert got["target_uri"] == "https://x.org/ m"


def test_http_split_edge_cases():
    h, p = split_http_response(b"no http header here")
    assert h == {} and p == b"no http header here"
    h, p = split_http_response(
        b"HTTP/1.1 301 Moved\r\nLocation: /y\r\n\r\nbody")
    assert h[":status"] == "301" and h["location"] == "/y" and p == b"body"


def test_garbage_raises():
    with pytest.raises(WarcError):
        list(iter_warc_records(b"not warc at all"))
    with pytest.raises(WarcError):
        list(iter_warc_records(b"\x1f\x8b\x00broken gzip"))


def test_cdx_entries_range_read():
    """CDX offsets/lengths must be real range-read handles: inflating
    exactly [offset, offset+length) of the .warc.gz reproduces the
    record, and payload digests match the source bytes."""
    import hashlib
    import zlib

    from perl_html5_dom_spark.sources.warc import (
        _records_from_plain, iter_cdx_entries)

    bodies = [f"<h1>t{i}</h1><p>doc {i}</p>".encode() for i in range(3)]
    recs = make_records(3)
    data = build_warc(recs)
    entries = list(iter_cdx_entries(data))
    assert [e["url"] for e in entries] == [f"https://x.org/{i}"
                                           for i in range(3)]
    # warcinfo member precedes the first capture; offsets strictly grow
    assert entries[0]["offset"] > 0
    assert all(a["offset"] + a["length"] == b["offset"]
               for a, b in zip(entries, entries[1:]))
    assert entries[-1]["offset"] + entries[-1]["length"] == len(data)
    for i, e in enumerate(entries):
        member = data[e["offset"]:e["offset"] + e["length"]]
        (rec,) = _records_from_plain(zlib.decompress(member, wbits=31))
        http, payload = split_http_response(rec["body"])
        assert payload == bodies[i]
        assert e["status"] == 200
        assert e["mime"] == "text/html"
        assert e["payload_len"] == len(bodies[i])
        assert e["payload_md5"] == hashlib.md5(bodies[i]).hexdigest()
        assert e["warc_ts"] == f"2025-01-0{i + 1}T00:00:00Z"

    # plain .warc: spans are record byte ranges in the file itself
    plain = build_warc(recs, per_record_gzip=False)
    pe = list(iter_cdx_entries(plain))
    assert len(pe) == 3
    for i, e in enumerate(pe):
        assert plain[e["offset"]:e["offset"] + e["length"]].startswith(
            b"WARC/1.0")
        assert e["payload_md5"] == hashlib.md5(bodies[i]).hexdigest()


def test_gzip_member_walk_is_linear():
    """Splitting a per-record-gzip file into members must not copy the
    rest of the file per member: 4x the records may take at most 6x the
    time (the quadratic walk took ~20x)."""
    import time

    from perl_html5_dom_spark.sources.warc import iter_cdx_entries

    def best(n):
        data = build_warc(make_records(1) * n)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            assert sum(1 for _ in iter_warc_records(data)) == n + 1
            assert sum(1 for _ in iter_cdx_entries(data)) == n
            times.append(time.perf_counter() - t0)
        return min(times)

    assert best(6000) / best(1500) <= 6


def test_gzip_member_larger_than_inflate_chunk():
    import random

    from perl_html5_dom_spark.sources.warc import (
        _GZIP_CHUNK, iter_cdx_entries)

    body = random.Random(0).randbytes(3 * _GZIP_CHUNK)
    recs = [build_response_record("https://x.org/big", body),
            *make_records(1)]
    data = build_warc(recs)
    got = [r["payload"] for r in iter_warc_records(data)
           if r["warc_type"] == "response"]
    assert got == [body, b"<h1>t0</h1><p>doc 0</p>"]
    big, small = iter_cdx_entries(data)
    assert big["length"] > 3 * _GZIP_CHUNK
    assert big["offset"] + big["length"] == small["offset"]
    assert small["offset"] + small["length"] == len(data)


def test_spark_cdx_index(spark, tmp_path):
    """cdx_index_df over a two-file drop: every capture indexed with
    its file, monotonic member spans per file, envelope fields parsed."""
    import hashlib

    from perl_html5_dom_spark.sources.warc import cdx_index_df

    html = {}
    for fi, n in ((0, 4), (1, 3)):
        recs = []
        for i in range(n):
            body = f"<html><p>cdx {fi}{i}</p></html>".encode()
            html[f"https://crawl.example/{fi}/{i}"] = body
            recs.append(build_response_record(
                f"https://crawl.example/{fi}/{i}", body,
                date="2025-02-03T04:05:06Z"))
        (tmp_path / f"part-{fi}.warc.gz").write_bytes(build_warc(recs))

    rows = cdx_index_df(spark, str(tmp_path)).collect()
    assert len(rows) == 7
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r.file, []).append(r)
        assert r.status == 200 and r.mime == "text/html"
        assert r.payload_len == len(html[r.url])
        assert r.payload_md5 == hashlib.md5(html[r.url]).hexdigest()
    assert sorted(by_file) == ["part-0.warc.gz", "part-1.warc.gz"]
    for fname, rs in by_file.items():
        rs.sort(key=lambda r: r.offset)
        size = (tmp_path / fname).stat().st_size
        assert all(a.offset + a.length == b.offset
                   for a, b in zip(rs, rs[1:]))
        assert rs[-1].offset + rs[-1].length == size


def test_spark_warc_source(spark, tmp_path):
    from pyspark.sql import functions as F

    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.sources.warc import warc_pages_df

    # two .warc.gz files of 4 + 3 records
    for fi, n in ((0, 4), (1, 3)):
        recs = [build_response_record(
            f"https://crawl.example/{fi}/{i}",
            f"<html><body><main><article><h1>Doc {fi}{i}</h1>"
            f"<p>body {fi}{i}</p></article></main></body></html>".encode(),
            date="2025-02-03T04:05:06Z")
            for i in range(n)]
        (tmp_path / f"part-{fi}.warc.gz").write_bytes(build_warc(recs))

    pages = warc_pages_df(spark, str(tmp_path))
    rows = {r.url: r for r in pages.collect()}
    assert len(rows) == 7
    r = rows["https://crawl.example/1/2"]
    assert bytes(r.html).startswith(b"<html>")
    assert str(r.warc_ts) == "2025-02-03 04:05:06"

    out = {r.url: r.main_text for r in extract_pages(
        pages, span_selector=None,
        fields=["url", "main_text"]).collect()}
    assert out["https://crawl.example/0/3"] == "body 03"


def test_spark_roundtrip_matches_direct(spark):
    from perl_html5_dom_spark.operators.extract import extract_pages
    from perl_html5_dom_spark.sources.pages import pages_df
    from perl_html5_dom_spark.sources.warc import roundtrip_df

    pages = pages_df(spark, "/root/testdata/sf0.001")
    direct = {r.url: r.main_text for r in extract_pages(
        pages, span_selector=None, fields=["url", "main_text"]).collect()}
    viawarc = {r.url: r.main_text for r in extract_pages(
        roundtrip_df(pages), span_selector=None,
        fields=["url", "main_text"]).collect()}
    assert direct == viawarc


def test_streaming_warc_extraction(spark, tmp_path):
    """Streaming twin parity: the same .warc.gz files produce the same
    extraction rows through readStream as through the batch source, and
    a restart with the same checkpoint is a no-op (exactly-once)."""
    from perl_html5_dom_spark.streaming.ingest import start_warc_extraction

    warc_dir = tmp_path / "drop"
    warc_dir.mkdir()
    for fi, n in ((0, 5), (1, 4)):
        recs = [build_response_record(
            f"https://crawl.example/s/{fi}/{i}",
            f"<html><body><main><article><h1>S{fi}{i}</h1>"
            f"<p>stream {fi}{i}</p></article></main></body></html>".encode(),
            date="2025-02-03T04:05:06Z")
            for i in range(n)]
        (warc_dir / f"seg-{fi}.warc.gz").write_bytes(build_warc(recs))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = start_warc_extraction(spark, str(warc_dir), out, ckpt,
                              max_files_per_trigger=1)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 9
    texts = {r.url: r.main_text for r in
             got.select("url", "main_text").collect()}
    assert texts["https://crawl.example/s/1/3"] == "stream 13"

    # restart against the same checkpoint: no new files -> no new rows
    q2 = start_warc_extraction(spark, str(warc_dir), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 9


def test_near_dup_stream_matches_batch_candidates(spark, tmp_path):
    """Streaming LSH near-dup flags must reproduce the batch
    lsh_candidate_pairs contract: across ordered micro-batches, the
    SECOND arrival of each bucketed pair is flagged.  Both sides bucket
    through the same signature kernel and band keys, so this pins the
    streaming state logic; the kernel itself is checked against the
    SQL form in test_minhash_wide_sets_match_sql."""
    from pyspark.sql import functions as F

    from perl_html5_dom_spark.operators.dedup import lsh_candidate_pairs
    from perl_html5_dom_spark.streaming.ingest import near_dup_stream

    base = "the quick brown fox jumps over the lazy dog number"
    rows = []
    for i in range(30):
        if i % 5 == 0 and i > 0:
            text = f"{base} {i - 1} extra"   # near-copy of doc i-1
        else:
            text = f"{base} {i} with unique tail token t{i} u{i} v{i}"
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    src = str(tmp_path / "nd_in")
    ordered = docs.orderBy("doc_id").collect()
    for chunk in (ordered[:10], ordered[10:20], ordered[20:]):
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "append").parquet(src)

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (near_dup_stream(stream)
         .writeStream.format("memory").queryName("nd_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    flagged = {r.doc_id for r in spark.table("nd_out")
               .where("dup").select("doc_id").distinct().collect()}

    # batch contract: for every bucketed pair (a < b), b must be flagged
    pairs = lsh_candidate_pairs(docs).collect()
    want = {r.b for r in pairs}
    assert want, "corpus must actually produce candidates"
    assert flagged == want


def test_wet_roundtrip(spark, tmp_path):
    """WET (conversion-record) write -> binaryFile read -> text frame;
    the text feeds the curation operators with no HTML parse."""
    from perl_html5_dom_spark.operators.textstats import quality_scores
    from perl_html5_dom_spark.sources.warc import (
        build_conversion_record, build_wet, wet_docs_df)

    recs = [build_conversion_record(f"https://wet.example/{i}",
                                    f"the text of document {i} here")
            for i in range(12)]
    p = tmp_path / "drop"
    p.mkdir()
    (p / "seg0.warc.wet.gz").write_bytes(build_wet(recs[:6]))
    (p / "seg1.warc.wet.gz").write_bytes(build_wet(recs[6:],
                                                   per_record_gzip=False))
    docs = wet_docs_df(spark, str(p))
    rows = {r.url: r.text for r in docs.collect()}
    assert len(rows) == 12
    assert rows["https://wet.example/3"] == "the text of document 3 here"
    # downstream operator runs unchanged on the WET frame
    q = quality_scores(docs.selectExpr(
        "cast(substring_index(url, '/', -1) as bigint) as doc_id", "text"))
    assert q.count() == 12


def test_wet_roundtrip_df_multibyte(spark):
    """In-kernel WET round-trip (the wet_extract oracle path) is
    byte-faithful for multi-byte UTF-8 payloads, where Content-Length
    (bytes) diverges from len(text) (code points)."""
    from perl_html5_dom_spark.sources.warc import wet_roundtrip_df

    texts = ["plain ascii", "café naïve — résumé",
             "日本語のテキスト",
             "emoji \U0001f600 mix", ""]
    df = spark.createDataFrame(
        [(f"https://wet.example/{i}", t) for i, t in enumerate(texts)],
        "url string, text string")
    rows = {r.url: r.text for r in wet_roundtrip_df(df).collect()}
    assert rows == {f"https://wet.example/{i}": t
                    for i, t in enumerate(texts)}
