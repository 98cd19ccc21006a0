"""Cross-surface invariant fuzzes, distilled from the round-3 hunting
session that found six real bugs (AFE retention across container close
in a since-deleted second tree builder, form-in-template rules, li/dd/dt
special-stop drift, template fragment mode seeding, in-body EOF
template loop, relative :has(), the mutation hierarchy guard).  Each runs a few hundred cases
per CI pass; the session-scale versions ran 10^5+.
"""

import random

import pytest

from perl_html5_dom_spark.dom import fastparse
from perl_html5_dom_spark.dom.chunked import ChunkedParser
from perl_html5_dom_spark.dom.treebuilder import TreeBuilder, parse_fragment
from perl_html5_dom_spark.dom.treedump import tree_format

from parse_cases import digest, goldens

_TAGS = ("template", "marquee", "object", "applet", "b", "i", "a", "nobr",
         "table", "tr", "td", "th", "caption", "colgroup", "col", "select",
         "option", "optgroup", "form", "input", "button", "p", "div", "li",
         "dd", "dt", "pre", "textarea", "svg", "math", "mi", "foreignObject",
         "menuitem", "ruby", "rt", "dialog", "frameset", "xmp", "plaintext")


def _alphabet():
    a = []
    for t in _TAGS:
        a.append(f"<{t}>")
        a.append(f"</{t}>")
    a += ["x", " ", "&amp;", "&notit;", "<!--c-->", "y z", "\r\n",
          # attribute edge cases: duplicates, case folding, bare/empty
          # values, quotes-in-unquoted, stray equals
          '<div a=1 a=2>', "<p a = 'x y'>", '<b A=1 a=2>', '<i a=>',
          '<a a="q>z">', '<span a=b=c>', '<u a/>']
    return a


def mixed_vocabulary_docs() -> list:
    """Random mixed-vocabulary soup in standards, quirks (no doctype) and
    limited-quirks (legacy public id) modes."""
    rnd = random.Random(0xF457)
    alpha = _alphabet()
    prefixes = ("<!DOCTYPE html>", "",
                '<!DOCTYPE html PUBLIC '
                '"-//W3C//DTD HTML 4.01 Transitional//EN">')
    return [prefixes[i % 3] + "<body>" + "".join(
        rnd.choice(alpha) for _ in range(rnd.randint(2, 16)))
        for i in range(700)]


def test_fastparse_full_machine_differential():
    """The document-parse entry builds the recorded tree (built when a
    second, fast-lane builder still existed and agreed with the
    insertion-mode machine) of every mixed-vocabulary soup document."""
    want = goldens()["mixed_vocabulary"]
    docs = mixed_vocabulary_docs()
    assert len(docs) == len(want)
    bad = [src for src, d in zip(docs, want)
           if digest(fastparse.parse(src)) != d]
    assert not bad, bad[:5]


def test_chunked_whole_parse_equivalence():
    """parse_chunk over ANY split points (mid-tag, mid-entity, mid-CRLF,
    empty chunks) equals the whole-string parse."""
    random.seed(0xC41C)
    alpha = _alphabet()
    for _ in range(250):
        src = "".join(random.choice(alpha)
                      for _ in range(random.randint(1, 12)))
        want = tree_format(TreeBuilder().parse(src))
        cuts = sorted(random.randint(0, len(src))
                      for _ in range(random.randint(1, 4)))
        p = ChunkedParser()
        prev = 0
        for c in cuts:
            p.parse_chunk(src[prev:c])
            prev = c
        p.parse_chunk(src[prev:])
        assert tree_format(p.end()) == want, (src, cuts)


def test_fragment_contexts_never_crash():
    """parse_fragment terminates cleanly for random soup across every
    context family (html flow/table/select/template/rawtext + foreign)."""
    from perl_html5_dom_spark.dom.constants import NS_HTML, NS_MATHML, NS_SVG

    ctxs = [(t, NS_HTML) for t in
            ("div", "template", "td", "tr", "table", "caption", "colgroup",
             "select", "html", "title", "script", "plaintext", "frameset")]
    ctxs += [("svg", NS_SVG), ("path", NS_SVG), ("foreignObject", NS_SVG),
             ("mi", NS_MATHML), ("annotation-xml", NS_MATHML)]
    random.seed(0xF7A6)
    alpha = _alphabet()
    for i in range(600):
        tag, ns = ctxs[i % len(ctxs)]
        src = "".join(random.choice(alpha)
                      for _ in range(random.randint(1, 10)))
        parse_fragment(src, tag, ns)


def test_selector_algebra_laws():
    """Complement (:not), :has child/sibling witness, union, :is
    distribution, double negation and nth parity — on random docs."""
    from perl_html5_dom_spark.dom.treebuilder import parse
    from perl_html5_dom_spark.selector import matcher

    random.seed(0x5E1)
    tags = ["div", "p", "a", "span", "li", "b"]
    classes = ["red", "blue", "ref"]
    F = lambda doc, s: set(matcher.find(doc, matcher.compile_selector(s)))
    for _ in range(120):
        parts = []
        for j in range(random.randint(4, 14)):
            t = random.choice(tags)
            cl = (f' class="{random.choice(classes)}"'
                  if random.random() < .6 else "")
            parts.append(f"<{t}{cl}>t{j}</{t}>")
        doc = parse("<body>" + "".join(parts) + "</body>")
        every = F(doc, "*")
        s1, s2 = random.sample(["div", "p", ".red", ".blue", "a", "li"], 2)
        hit = F(doc, s1)
        assert F(doc, f":not({s1})") == every - hit
        assert F(doc, f":not(:not({s1}))") == hit
        assert F(doc, f":is({s1}, {s2})") == hit | F(doc, s2)
        assert F(doc, "li:nth-child(odd)") | F(doc, "li:nth-child(even)") \
            == F(doc, "li")
        child_parents = F(doc, f":has(> {s1})")
        for p in every:
            kids = [c for c in doc.children(p) if doc.node_type[c] == 1]
            assert (p in child_parents) == any(k in hit for k in kids)


def test_node_table_mirrors_dom(spark):
    """The relational node table's parent_id and pre-order intervals
    mirror the DOM exactly (random docs, kernel-side construction)."""
    from perl_html5_dom_spark.operators import nodes
    from perl_html5_dom_spark.operators.extract import parse_document

    random.seed(0x0D0)
    alpha = _alphabet()
    docs = []
    for i in range(20):
        docs.append((f"u{i}", ("<body>" + "".join(
            random.choice(alpha)
            for _ in range(random.randint(2, 14)))).encode()))
    pages = spark.createDataFrame(docs, "url string, html binary")
    by_url = {}
    for r in nodes.nodes_df(pages).collect():
        by_url.setdefault(r.url, {})[r.node_id] = r
    for url, html in docs:
        doc = parse_document(html)
        rows = by_url[url]
        ords = set()
        for nid, r in rows.items():
            want_parent = doc.parent[nid]
            got_parent = r.parent_id if r.parent_id is not None else -1
            assert want_parent == got_parent, (url, nid)
            if r.parent_id in rows:
                p = rows[r.parent_id]
                assert p.ord < r.ord and r.subtree_end <= p.subtree_end
            assert r.ord not in ords
            ords.add(r.ord)
