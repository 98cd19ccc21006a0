"""Chunked parse must equal whole-string parse at EVERY split point
(parseChunk* parity, reference DOM.xs:814-931 + t/0-api.t usage)."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from perl_html5_dom_spark.api import HTML5DOM
from perl_html5_dom_spark.dom.chunked import parse_chunked
from perl_html5_dom_spark.dom.treebuilder import TreeBuilder

from parse_cases import CASES as FAST_CASES
from parse_cases import project


def chunks_of(src: str, cuts: list[int]):
    prev = 0
    for c in sorted(set(cuts)):
        if 0 < c < len(src):
            yield src[prev:c]
            prev = c
    yield src[prev:]


def assert_chunked_equal(src: str, cuts: list[int]):
    whole = TreeBuilder().parse(src)
    chunked = parse_chunked(chunks_of(src, cuts))
    assert project(chunked) == project(whole), (src[:200], cuts)


# every golden fixture, split at every single position
@pytest.mark.parametrize("src", [c for c in FAST_CASES if c])
def test_every_split_point(src):
    for cut in range(1, len(src)):
        assert_chunked_equal(src, [cut])


def test_many_small_chunks():
    src = ("<!DOCTYPE html><html><head><title>t</title></head><body>"
           "<table>f<tr><td>cell</td></tr></table>"
           "<svg><title>x</title><circle/></svg>"
           "<p>a<b>b<i>c</b>d</i></body></html>")
    # one char at a time — the hardest case
    assert_chunked_equal(src, list(range(1, len(src))))


def test_empty_chunk_preserves_crlf_pair():
    # round-2 ADVICE: an empty chunk must not reset the pending-\r flag
    from perl_html5_dom_spark.dom.chunked import ChunkedParser

    src = "<!DOCTYPE html><html><head></head><body><pre>a\r\nb</pre></body></html>"
    i = src.index("\r") + 1
    p = ChunkedParser()
    p.parse_chunk(src[:i]).parse_chunk("").parse_chunk(src[i:])
    assert project(p.end()) == project(TreeBuilder().parse(src))


def test_empty_chunks_everywhere():
    src = FAST_CASES[1]
    chunks = []
    for ch in chunks_of(src, [7, 20, 33]):
        chunks += ["", ch, ""]
    assert project(parse_chunked(chunks)) == project(TreeBuilder().parse(src))


def test_prefix_trim_keeps_absolute_positions():
    # a long feed crosses the 8192-char amortized-trim threshold; source
    # positions must stay absolute into the normalized input
    body = "".join(f"<p id='{i}'>{'x' * 40}</p>" for i in range(400))
    src = ("<!DOCTYPE html><html><head></head><body>"
           + body + "</body></html>")
    assert_chunked_equal(src, list(range(512, len(src), 512)))


def test_crlf_across_boundary():
    src = "<!DOCTYPE html><html><head></head><body><pre>\r\nx\r</pre></body></html>"
    i = src.index("\r\n") + 1  # split between \r and \n
    assert_chunked_equal(src, [i])
    assert_chunked_equal(src, list(range(1, len(src))))


def test_rawtext_split_inside_close_tag():
    src = ("<html><head><script>if(a<b)x()</script>"
           "<style>a{}</style></head><body>t</body></html>")
    for cut in range(1, len(src)):
        assert_chunked_equal(src, [cut])


def test_api_chain():
    t = (HTML5DOM().parseChunkStart()
         .parseChunk("<!DOCTYPE html><html><head><tit")
         .parseChunk("le>Chunked</title></head><bo")
         .parseChunk(b"dy><p>one</p")
         .parseChunk("><p>two</p></body></html>")
         .parseChunkEnd())
    assert t.at("title").text() == "Chunked"
    assert len(t.find("p")) == 2


def test_parse_chunk_tree_in_progress():
    c = HTML5DOM().parseChunkStart().parseChunk(
        "<!DOCTYPE html><html><head></head><body><p>early</p><p>la")
    partial = c.parseChunkTree()
    assert partial.at("p") is not None
    done = c.parseChunkEnd()
    assert len(done.find("p")) == 2


def test_chunked_corpus():
    from perl_html5_dom_spark.sources import pages

    rows = duckdb.sql(
        "with documents as (select * from "
        "'/root/testdata/sf0.001/documents.parquet') "
        + pages.pages_cte() + " limit 40").fetchall()
    for i, (_, _, html_str, _, _) in enumerate(rows):
        cut1 = 1 + (i * 37) % max(1, len(html_str) - 2)
        cut2 = 1 + (i * 131) % max(1, len(html_str) - 2)
        assert_chunked_equal(html_str, [cut1, cut2])


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_chunked_fuzz(data):
    from parse_cases import soup

    src = data.draw(soup())
    if not src:
        return
    n_cuts = data.draw(st.integers(1, 5))
    cuts = [data.draw(st.integers(1, max(1, len(src) - 1)))
            for _ in range(n_cuts)]
    assert_chunked_equal(src, cuts)
