"""Serializer inputs and the outputs recorded for them.

For every input, ``outputs`` records ``serialize(doc, n)`` and
``serialize(doc, n, inner=True)`` for the document node, the body, the
first ``<template>``, ``<table>``, ``<svg>`` and ``<pre>`` element, the
doctype and the first comment and text node, plus ``text_content`` of
the body and of the document node.  ``serialize_goldens.json`` keeps
them in full for the hand-written shapes below and as one digest per
input for the generated ones:

* every ``parse_cases`` input: the hand-written trees, the recorded
  sample of each soup generator, the deep tables, the sf0.01 corpus
  pages, the crawl-shaped library pages and the mixed vocabulary;
* seeded pages of each ``html_distinct`` family (``extract_cases``);
* the 400 crawl-sized pages of the benchmark's ``library_large``
  workload (``perfbench/inputs.py``, seed 1).

The hand-written shapes probe the serializer's special cases: void and
foreign self-closing elements, ``<pre>``/``<textarea>``/``<listing>``
with a leading newline, children of raw-text elements, ``<noscript>``
parsed with scripting on and off, comments, doctypes with public and
system ids, ``&``, ``"`` and NBSP in text and attribute values, and
``parseFragment`` fragments.

The recording was made with the tuple-stack serializer that the
enter/exit walk replaced; ``record`` rebuilds the file with the
serializer on the import path:

    PYTHONPATH=<checkout to record with> python3 tests/serialize_cases.py
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "serialize_goldens.json")
LIBRARY_SEED = 1

_P = "<!DOCTYPE html><html><head><title>t</title></head><body>"

#: hand-written documents, recorded in full (parsed as the library does)
SHAPES = [
    # void and foreign self-closing elements
    _P + "<br><hr/><img src=\"a.png\" alt=x><input type=text><wbr>"
    "<area><embed><source><track><col><param><base><link><meta>",
    _P + "<svg><circle r=\"1\"/><path d=\"M0 0\"></path><g/></svg>"
    "<math><mi/><mspace/></math>",
    _P + "<svg><foreignObject><br/><p>html in svg</p></foreignObject>"
    "<desc/></svg><div/>after",
    _P + "<p>a<br/>b</p><svg viewBox=\"0 0 1 1\"><use xlink:href=\"#x\"/>"
    "</svg>",
    # pre/textarea/listing and their leading newline
    _P + "<pre>\nkept newline</pre><pre>\n\ntwo newlines</pre>"
    "<pre>no newline</pre><pre></pre>",
    _P + "<textarea>\nta text</textarea><listing>\nlisting</listing>"
    "<textarea>\n\n</textarea>",
    _P + "<pre><b>\nbold first</b></pre><pre>\r\ncrlf</pre>",
    _P + "<svg><pre>\nforeign pre</pre></svg>",
    # children of raw-text elements
    _P + "<style>a > b { content: \"&amp; <\" }</style>"
    "<script>if (a < b && c > d) x = \"&nbsp;\";</script>",
    _P + "<xmp>a < b & c</xmp><iframe><p>&amp;</iframe>"
    "<noembed>x < y</noembed><noframes><i>&</i></noframes>",
    _P + "<plaintext>rest < & > \xa0 of doc",
    _P + "<title>t &amp; <b></title><textarea><p>&lt;</textarea>",
    "<html><head><script>x<y</script><style>p&q</style></head>"
    "<body><svg><style>a&lt;b</style><script>1<2</script></svg></body>",
    # noscript (these are also parsed with scripting off)
    _P + "<noscript><p>no <b>script</b> & more</p></noscript>",
    "<html><head><noscript><link rel=a><style>s&t</style></noscript>"
    "</head><body><noscript>x&amp;y<i>z</i></noscript></body></html>",
    # comments and doctypes
    "<!-- lead --><!DOCTYPE html><!-- after dt --><html><!--in html-->"
    "<body><!----><!-- a -- b --><p>x<!--y-->z</p></body></html><!--tail-->",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD XHTML 1.0 Strict//EN\" "
    "\"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd\"><p>x",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01//EN\"><p>x",
    "<!DOCTYPE html SYSTEM \"about:legacy-compat\"><p>x",
    "<!DOCTYPE svg PUBLIC \"\" \"sys.dtd\"><p>x",
    "<!DOCTYPE><p>x",
    "<!doctype HTML><p>x",
    # &, " and NBSP in text and attribute values
    _P + "<p title=\"a &amp; b &quot;q&quot; \xa0nb\" data-x='it\"s'>"
    "a &amp; b \"q\" \xa0 &lt;tag&gt; &nbsp;</p>",
    _P + "<a href=\"/x?a=1&b=2&amp;c=3\">&copy; &notit; &#xa0;</a>"
    "<div class=\"&lt;&gt;\">&#60;&#62;</div>",
    _P + "<img alt=\"\xa0\" title=\"\"><span id=''>\xa0\xa0</span>",
    # templates, tables and attributes in order
    _P + "<template><p>tpl</p><td>cell</td></template>"
    "<table><caption>c</caption><tr><td>1</td><td>&amp;</td></tr></table>",
    _P + "<div b=2 a=1 B=3 c>attrs</div><DIV CLASS=Up>upper</DIV>",
    # no body, frameset, empty, text only
    "",
    "plain & text",
    "<html><head></head><frameset><frame src=a></frameset></html>",
    "<table><tr><td>quirks <pre>\nx</pre></td></tr></table>",
]

#: (fragment source, context tag) pairs for ``parse_fragment``
FRAGMENTS = [
    ("<p>a &amp; b</p><br>text", "div"),
    ("<td>cell</td><td>two</td>", "tr"),
    ("<tr><td>x</td></tr>", "tbody"),
    ("x < y & z", "title"),
    ("a<b>c</b>", "textarea"),
    ("if (a < b) {}", "script"),
    ("<circle r=1/><b>out</b>", "svg"),
    ("<option>o</option><optgroup>g</optgroup>", "select"),
    ("\nlead", "pre"),
    ("<!-- c --><!DOCTYPE html>tail", "body"),
]

_FIRST_TAGS = ("template", "table", "svg", "pre")


def _first(doc, test) -> int:
    for nid in doc.preorder()[0]:
        if test(nid):
            return nid
    return -1


def outputs(doc, top: int | None = None) -> dict:
    """What the serializer makes of ``doc``, as JSON values.  ``top`` is
    the node that stands for the body (a fragment's node)."""
    from perl_html5_dom_spark.dom.constants import (
        COMMENT_NODE, ELEMENT_NODE, TEXT_NODE)
    from perl_html5_dom_spark.dom.serializer import serialize, text_content

    if top is None:
        top = doc.body_node if doc.body_node != -1 else doc.root
    nodes = {"root": doc.root, "body": top, "doctype": doc.doctype_node}
    for tag in _FIRST_TAGS:
        nodes[tag] = _first(doc, lambda n, t=tag: (
            doc.node_type[n] == ELEMENT_NODE and doc.tag[n] == t))
    nodes["comment"] = _first(doc, lambda n: doc.node_type[n] == COMMENT_NODE)
    nodes["text"] = _first(doc, lambda n: doc.node_type[n] == TEXT_NODE)
    out = {}
    for name, nid in nodes.items():
        if nid != -1:
            out[name] = serialize(doc, nid)
            out[name + "_inner"] = serialize(doc, nid, inner=True)
    out["text_content"] = text_content(doc, top)
    out["text_content_root"] = text_content(doc, doc.root)
    return out


def parse(src):
    from perl_html5_dom_spark.dom.fastparse import parse_document

    return parse_document(src)


def shape_outputs() -> dict:
    """Key -> outputs for every hand-written shape: each document parsed
    as the library does (``doc:``) and with scripting off
    (``noscript-off:``), and each fragment (``fragment/<context>:``)."""
    from perl_html5_dom_spark.dom.treebuilder import TreeBuilder

    out = {}
    for src in dict.fromkeys(SHAPES):
        out["doc:" + src] = outputs(parse(src))
        out["noscript-off:" + src] = outputs(
            TreeBuilder(scripts=False).parse(src))
    for src, ctx in FRAGMENTS:
        doc, frag = TreeBuilder().parse_fragment(src, ctx)
        out[f"fragment/{ctx}:{src}"] = outputs(doc, frag)
    return out


def library_large_pages() -> list:
    """The benchmark's ``library_large`` pages, decoded."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "perfbench"))
    try:
        import inputs
    finally:
        sys.path.pop(0)
    return [html.decode() for _url, html in
            inputs.library_large(LIBRARY_SEED).rows]


def generated_inputs() -> dict:
    """Sample name -> the list of inputs recorded as digests."""
    import extract_cases
    import parse_cases
    import test_api_parse
    import test_fastparse
    import test_invariants

    out = {"parse_cases": list(dict.fromkeys(parse_cases.HAND_WRITTEN))}
    for name, sample in parse_cases.goldens()["samples"].items():
        out[f"soup/{name}"] = [src for src, _d in sample]
    out["deep_tables"] = [parse_cases.deep_table(d)
                          for d in parse_cases.DEEP_TABLE_DEPTHS]
    out["corpus"] = test_fastparse.corpus_pages()
    out["library_pages"] = test_api_parse.library_pages()
    out["mixed_vocabulary"] = test_invariants.mixed_vocabulary_docs()
    for f in extract_cases.FAMILIES:
        out[f"family/{f}"] = extract_cases.family_pages(f)
    out["library_large"] = library_large_pages()
    return out


def digest(src) -> str:
    return hashlib.sha1(json.dumps(
        outputs(parse(src)), sort_keys=True, ensure_ascii=True).encode()
    ).hexdigest()[:16]


@functools.lru_cache(maxsize=None)
def goldens() -> dict:
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


def record() -> dict:
    """The golden file's content, made with the serializer on the path."""
    return {
        "shapes": shape_outputs(),
        "samples": {name: [digest(src) for src in inputs]
                    for name, inputs in generated_inputs().items()},
    }


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.setrecursionlimit(10000)
    data = record()
    with open(GOLDENS, "w", encoding="utf-8") as f:
        json.dump(data, f, ensure_ascii=False, indent=0, sort_keys=True)
        f.write("\n")
    print({k: len(v) for k, v in data.items()})
