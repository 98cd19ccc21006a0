"""The public parse path: ``HTML5DOM().parse`` builds with the tree
builder through the document-parse entry, gives the recorded tree of
every shared input, and honours the non-default tree options."""

import random

import duckdb
import pytest

from perl_html5_dom_spark.api import HTML5DOM
from perl_html5_dom_spark.dom import fastparse
from perl_html5_dom_spark.dom.treebuilder import TreeBuilder
from perl_html5_dom_spark.sources import pages as pg

from parse_cases import (CASES, DEEP_TABLE_DEPTHS, assert_recorded, deep_table,
                         digest, goldens, project)


def assert_api_equals_full(html: bytes, **opts):
    parser = HTML5DOM(**opts)
    tree = parser.parse(html)
    enc, text = parser._decode(html)
    assert tree.doc.encoding == enc
    full = TreeBuilder(**opts).parse(text)
    assert project(tree.doc) == project(full), html[:400]
    return tree


@pytest.mark.parametrize("src", CASES)
def test_api_parse_equals_full_machine(src):
    # the recorded tree is the insertion-mode machine's
    assert_recorded(src, HTML5DOM().parse(src.encode()).doc)


def _body(html: str) -> str:
    return html.split("<body>", 1)[1].rsplit("</body>", 1)[0]


def library_pages(n_docs: int = 240) -> list:
    """Crawl-shaped pages: runs of ``<div>``-wrapped hostile and hostile2
    bodies from the page generators, over a seeded documents table."""
    rnd = random.Random(7)
    words = "alpha beta gamma delta a&b tail café".split()
    con = duckdb.connect()
    con.execute("create table documents (doc_id bigint, text varchar)")
    con.executemany(
        "insert into documents values (?, ?)",
        [(i, " ".join(rnd.choice(words) for _ in range(rnd.randint(3, 30))))
         for i in range(n_docs)])
    pieces = [_body(h) for (h,) in con.sql(
        f"select case when doc_id % 2 = 0 "
        f"then {pg.hostile_html_expr(pg.DUCK)} "
        f"else {pg.hostile2_html_expr(pg.DUCK)} end "
        f"from documents order by doc_id").fetchall()]
    out = []
    while pieces:
        k = rnd.randint(1, 8)
        chunk, pieces = pieces[:k], pieces[k:]
        out.append("<!DOCTYPE html><html><head></head><body>"
                   + "".join(f"<div>{b}</div>" for b in chunk)
                   + "</body></html>")
    return out


def test_api_parse_library_pages():
    pages = library_pages()
    want = goldens()["library_pages"]
    assert len(pages) == len(want)
    for html, d in zip(pages, want):
        assert digest(assert_api_equals_full(html.encode()).doc) == d


#: inputs each option changes, so building with the default options in
#: its place would show
OPTION_CASES = [
    ({"scripts": False},
     "<!DOCTYPE html><html><head><noscript><link rel=a></noscript></head>"
     "<body><noscript><p>no <b>js</b></p></noscript></body></html>"),
    ({"ignore_whitespace": True},
     "<!DOCTYPE html><html><head> </head><body> <p> a </p>\n<p>\n</p>"
     "</body></html>"),
    ({"ignore_doctype": True},
     "<!DOCTYPE html><html><head></head><body><p>x</p></body></html>"),
]


@pytest.mark.parametrize("opts,src", OPTION_CASES)
def test_api_non_default_options_run_full_machine(opts, src):
    tree = assert_api_equals_full(src.encode(), **opts)
    assert project(tree.doc) != project(fastparse.parse(src))
    for case in CASES[:12]:
        assert_api_equals_full(case.encode(), **opts)


def test_default_parse_loads_one_builder(monkeypatch):
    """Every parse surface builds with TreeBuilder's one token loop."""
    from perl_html5_dom_spark.operators.extract import parse_document

    calls = []
    pump = TreeBuilder.pump

    def counted(self, pull):
        calls.append(self)
        return pump(self, pull)

    monkeypatch.setattr(TreeBuilder, "pump", counted)
    for run in (lambda: HTML5DOM().parse(b"<p>x"),
                lambda: HTML5DOM(scripts=False).parse("<p>x"),
                lambda: HTML5DOM().parseFragment("<td>x", "tr"),
                lambda: HTML5DOM().parseChunkStart().parseChunk("<p>x")
                .parseChunkEnd(),
                lambda: parse_document(b"<p>x"),
                lambda: fastparse.parse("<p>x")):
        calls.clear()
        run()
        assert calls and all(isinstance(tb, TreeBuilder) for tb in calls)


@pytest.mark.parametrize("depth", DEEP_TABLE_DEPTHS)
def test_api_parse_deep_tables(depth):
    # nesting depth is bounded by nothing but memory: the tree builder is
    # iterative
    src = deep_table(depth)
    tree = assert_api_equals_full(src.encode())
    assert len(tree.doc.parent) > 3 * depth
    assert digest(tree.doc) == goldens()["deep_tables"][str(depth)]
