"""The public parse path: ``HTML5DOM().parse`` builds through the fast lane
when the tree options are at their defaults, and must give the tree the
full insertion-mode machine gives on every input; non-default options
must keep running the full machine."""

import random
import subprocess
import sys

import duckdb
import pytest

from perl_html5_dom_spark.api import HTML5DOM
from perl_html5_dom_spark.dom import fastparse
from perl_html5_dom_spark.dom.treebuilder import TreeBuilder
from perl_html5_dom_spark.sources import pages as pg

from test_fastparse import CASES, project


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
    assert_api_equals_full(src.encode())


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
    for html in pages:
        assert_api_equals_full(html.encode())
    # these pages are the fast lane's shape: none may bail
    assert all(fastparse.try_parse(html) is not None for html in pages)


#: inputs each option changes, so running the fast lane (which knows only
#: the defaults) in its place would show
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


def test_default_parse_loads_one_builder():
    code = (
        "import sys\n"
        "from perl_html5_dom_spark.api import HTML5DOM\n"
        "HTML5DOM().parse(b'<p>x')\n"
        "assert 'perl_html5_dom_spark.dom.fastparse' in sys.modules\n"
        "assert 'perl_html5_dom_spark.dom.treebuilder' not in sys.modules\n"
        "HTML5DOM().parseFragment('<td>x', 'tr')\n"
        "assert 'perl_html5_dom_spark.dom.treebuilder' in sys.modules\n")
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60)


@pytest.mark.parametrize("depth", [400, 1000])
def test_api_parse_deep_tables(depth):
    # the fast lane's table sub-parser recurses per nesting level; past
    # the interpreter's limit it bails to the full machine, which parses
    # any depth, instead of raising RecursionError
    src = "<!DOCTYPE html><html><body>" + "<table><tr><td>" * depth + "x"
    tree = assert_api_equals_full(src.encode())
    assert len(tree.doc.parent) > 3 * depth
