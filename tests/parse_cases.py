"""Shared parse-test inputs and the recorded trees they must produce.

``project`` is the order-stable projection of every node field that
matters (tag, namespace, type, text, attributes, self-closing flag,
source positions) plus the document's frame pointers and its
``quirks``/``fostered``/``misnested`` flags; ``digest`` hashes it.

The hand-written input families and the soup generators were written to
probe the common subset a second, optimistic tree builder once handled
(and the shapes where it had to defer to the insertion-mode machine).
That builder is gone; ``parse_goldens.json`` keeps, for every one of
these inputs and for fixed samples of each generator, the tree the
insertion-mode machine built when both builders still existed and
agreed on all of them.  ``record`` rebuilds that file from a given
builder:

    PYTHONPATH=<checkout to record with> python3 tests/parse_cases.py

(the corpus digests need the sf0.01 ``documents`` table that
``test_fastparse.corpus_pages`` reads, and DuckDB).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os

from hypothesis import strategies as st

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "parse_goldens.json")
#: inputs drawn per soup generator into the recorded samples
SAMPLE_SIZE = 300


def project(doc):
    """Order-stable projection of every node field that matters."""
    order = doc.order
    pos = {nid: i for i, nid in enumerate(order)}

    def ref(nid):
        return pos.get(nid, -1) if nid is not None and nid != -1 else -1

    rows = []
    for nid in order:
        rows.append((
            doc.tag[nid], doc.ns[nid], doc.node_type[nid], doc.text[nid],
            dict(doc.attrs[nid]) if doc.attrs[nid] is not None else None,
            bool(doc.self_closed[nid]),
            doc.raw_begin[nid], doc.raw_length[nid],
            doc.elem_begin[nid], doc.elem_length[nid],
        ))
    meta = (doc.quirks, ref(doc.html_node), ref(doc.head_node),
            ref(doc.body_node), ref(doc.doctype_node),
            doc.fostered, doc.misnested)
    return rows, meta


def digest(doc) -> str:
    return hashlib.sha1(repr(project(doc)).encode()).hexdigest()[:16]


@functools.lru_cache(maxsize=None)
def goldens() -> dict:
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


def assert_recorded(src: str, doc) -> None:
    """``doc`` is the recorded tree of the hand-written input ``src``;
    on a mismatch the dumps are compared first, for a readable diff."""
    from perl_html5_dom_spark.dom.treedump import tree_format

    want = goldens()["trees"][src]
    if digest(doc) != want["digest"]:
        assert tree_format(doc) == want["dump"], src[:400]
        assert [doc.quirks, doc.fostered, doc.misnested] == want["flags"], \
            src[:400]
        raise AssertionError(
            f"source positions or attributes differ: {src[:400]!r}")


def assert_sample(name: str, build) -> None:
    """Every input of the recorded sample ``name`` builds to its tree."""
    bad = [src for src, want in goldens()["samples"][name]
           if digest(build(src)) != want]
    assert not bad, (len(bad), bad[:5])


CASES = [
    "",
    "<!DOCTYPE html><html><head><title>t</title></head><body><p>x</p></body></html>",
    "<html><body><p>implied doctype",
    "<!DOCTYPE html><html><head></head><body><div><p>a<p>b</div></body></html>",
    "<!DOCTYPE html><html><head></head><body><ul><li>a<li>b<li><ul><li>n</ul></ul></body></html>",
    "<!DOCTYPE html><html><head></head><body><h1>a<h2>b</h2></body></html>",
    "<!DOCTYPE html><html><head></head><body><b>x</b><i>y</i></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x</b></p></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x<div>y</div></b></body></html>",
    "<!DOCTYPE html><html><head></head><body><a href='1'>x</a><a href='2'>y</a></body></html>",
    "<!DOCTYPE html><html><head></head><body><a>x<a>y</a></body></html>",
    "<!DOCTYPE html><html><head></head><body><nobr>x<nobr>y</body></html>",
    "<!DOCTYPE html><html><head></head><body><nobr>a</nobr><nobr>b</nobr></body></html>",
    "<!DOCTYPE html><html><head></head><body><b><b><b><b>deep</b></body></html>",
    "<!DOCTYPE html><html><head></head><body><tt>a<u>b<s>c</s></u></tt></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><svg><circle/></svg></body></html>",
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><style>a{}</style>"
    "<script>if(a<b)x();</script></head><body>t</body></html>",
    "<!-- c --><!DOCTYPE html><html><!-- d --><head></head><body>x</body><!-- e --></html><!-- f -->",
    "<!DOCTYPE html><html><head></head><body><span>x</span></div></body></html>",
    "<!DOCTYPE html><html><head></head><body><div><span></div>t</body></html>",
    "<!DOCTYPE html><html><head></head><body><dl><dd>a<dt>b</dl></body></html>",
    "<!DOCTYPE html><html><head></head><body>a<br>b<hr><img src=x>c</body></html>",
    "<!DOCTYPE html><html><head></head><body><p>x</p></body></html>\n",
    "<!DOCTYPE html><html><head></head><body><blockquote><p>q</blockquote></body></html>",
    "<!doctype HTML><HTML><HEAD></HEAD><BODY><P>upper</P></BODY></HTML>",
    "<!DOCTYPE html><html><head></head><body></p>x</body></html>",
    "<!DOCTYPE html><html><head></head><body><h3>only open",
    "<!DOCTYPE html><html><head></head><body><footer><p>a</footer></body></html>",
    "<!DOCTYPE html><html lang=\"en\" data-x=\"1\"><head></head><body>x</body></html>",
    "plain text only",
    "<div>no frame</div>",
    "<!DOCTYPE html><html><head><title>a&amp;b</title></head><body>&lt;x&gt;</body></html>",
    "<!DOCTYPE html><html><head></head><body><p>\xa0 nbsp \xa0</p></body></html>",
]

#: repeated <nobr> runs the adoption agency (WHATWG "in body", nobr rule)
NOBR = "<!DOCTYPE html><html><head></head><body><nobr>x<nobr>y</body></html>"

#: well-formed tables
TABLE_FAST = [
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tbody><tr><td>a</td><td>b</td></tr></tbody></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>a<td>b<tr><td>c</table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table> <tr><td>x</td></tr> </table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><thead><tr><th>h</th></tr><tbody><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><p>para<div>blk</div></td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><b>bold</td><td>plain</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><p>before<table><tr><td>x</td></tr></table>after</body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><table><tr><td>inner</td></tr></table></td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tbody><tr><td>x</td></tr></tbody><tfoot><tr><td>f</td></tr></tfoot></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><ul><li>a<li>b</ul></td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</td></tr><!-- c --></table></body></html>",
]

#: fostered text and other table shapes off the well-formed path
TABLE_BAIL = [
    "<!DOCTYPE html><html><head></head><body><table>fost<tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><caption>c</caption><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><colgroup><col></colgroup><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</th></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x",
    "<!DOCTYPE html><html><head></head><body><b><table><tr><td>x</td></tr></table>y</b></body></html>",
]

#: scope boundaries: walks from inside a cell must not cross td/th/table
SCOPE_CASES = [
    "<!DOCTYPE html><html><head></head><body><div><table><tr><td></div>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><table><tr><td></p>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><h1><table><tr><td></h2>x</td></tr></table></h1></body></html>",
    "<!DOCTYPE html><html><head></head><body><ul><li><table><tr><td><li>in</td></tr></table></li></ul></body></html>",
]

#: implied closes crossing open formatting elements reopen them at the
#: next text/phrasing insertion ("reconstruct the active formatting
#: elements")
RECONSTRUCT_FAST = [
    "<!DOCTYPE html><html><head></head><body><p><b>x<p>y</p></body></html>",
    "<!DOCTYPE html><html><head></head><body><div><b>x</div>y</body></html>",
    "<!DOCTYPE html><html><head></head><body><p><i>a<em>b<p>c</body></html>",
    "<!DOCTYPE html><html><head></head><body><ul><li><b>x<li>y</ul></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b class='k'>x<p><img src='i'></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x<p><span>y</span></body></html>",
    "<!DOCTYPE html><html><head></head><body><dl><dd><b>x<dd>y</dl></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><p><b>x<p>y</td><td>z</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><b>out<table><tr><td>in</td></tr></table>after</b></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x<p>y<b>z</body></html>",
]

#: end-tag-driven adoption agency
RECONSTRUCT_BAIL = [
    "<!DOCTYPE html><html><head></head><body><p><b>x<div>y</div></b>z</body></html>",
    "<!DOCTYPE html><html><head></head><body><b><i>x</b>y</i></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x<table><tr><td>c</td></tr></table>y</b></body></html>",
]

#: a formatting end tag acts on the LAST active-formatting entry, not
#: the stack top, and </br> reconstructs like a <br> start tag
ADVICE_REGRESSIONS = [
    "<!DOCTYPE html><html><head></head><body><b>a<div><b>c</div></b>d</body></html>",
    "<!DOCTYPE html><html><head></head><body><i>a<p><i>c<div>e</div></i>d</body></html>",
    "<!DOCTYPE html><html><head></head><body><b>a<div><b>c</div></b>d</b>e</body></html>",
    "<!DOCTYPE html><html><head></head><body><em>a<blockquote><em>c</blockquote></em>d</body></html>",
    "<div><b>x</div></br>y",
    "<!DOCTYPE html><html><head></head><body><div><b>x</div></br>y</body></html>",
    "<!DOCTYPE html><html><head></head><body><p><i>x<p></br>y</body></html>",
]

#: adoption-agency outer-loop shapes without a furthest block
AAA_FAST = [
    "<!DOCTYPE html><html><head></head><body><p><b>x<p>y</b>z</body></html>",
    "<!DOCTYPE html><html><head></head><body><b>x</b>y</b>z</body></html>",
    "<!DOCTYPE html><html><head></head><body><p><a href='1'>x<p><a href='2'>y</a></body></html>",
]

#: form inside template, dd/dt closes stopping at special elements, and
#: dialog NOT being a li/dd/dt stop
FORM_AND_LI_STOP = [
    "<!DOCTYPE html><body><form><template><form>x",
    "<!DOCTYPE html><body><template><form><form>x",
    "<!DOCTYPE html><body><template><form><b>x</form>y</template>z",
    "<!DOCTYPE html><body><dt><button><dt>x",
    "<!DOCTYPE html><body><li><dialog><li>x",
    "<!DOCTYPE html><body><template><marquee><marquee><marquee><b>"
    "<marquee></template><marquee>",
]

#: in-template <noscript> switches the template mode to "in body"
NOSCRIPT_TEMPLATE = [
    "<!DOCTYPE html><body><template><noscript></noscript></br>",
    "<!DOCTYPE html><body><template><style>a{}</style></br>x",
    "<!DOCTYPE html><body><template><noscript><b></b></noscript>y",
]

#: </body>/</html> ignored while a marker container boxes body out of scope
BODY_END_NOT_IN_SCOPE = [
    "<body><applet></body><!--c-->",
    "<body><marquee></body>x",
    "<!DOCTYPE html><body><object></html>t",
]

#: container end tags right after <pre>/<listing>
PRE_LOOKAHEAD = [
    "<template><pre></template><span>x",
    "<template><listing></template><span>x",
    "<table><caption><pre></caption>x</table>",
    "<table><tr><td><pre></td><td>x</table>",
]

#: in-select forwards <html> to the in-body attribute merge
SELECT_HTML_ATTR = [
    "<select><html a>",
    "<select><option>x<html lang=en>y",
    "<table><select><html a=b>z",
]

#: every hand-written input with a recorded tree
HAND_WRITTEN = (CASES + [NOBR] + TABLE_FAST + TABLE_BAIL + SCOPE_CASES
                + RECONSTRUCT_FAST + RECONSTRUCT_BAIL + ADVICE_REGRESSIONS
                + AAA_FAST + FORM_AND_LI_STOP + NOSCRIPT_TEMPLATE
                + BODY_END_NOT_IN_SCOPE + PRE_LOOKAHEAD + SELECT_HTML_ATTR)

#: nested-table depths with a recorded tree
DEEP_TABLE_DEPTHS = (400, 1000)


def deep_table(depth: int) -> str:
    return ("<!DOCTYPE html><html><body>"
            + "<table><tr><td>" * depth + "x")


# ---------------------------------------------------------------------------
# soup generators (hypothesis strategies)
# ---------------------------------------------------------------------------
_tags = st.sampled_from(
    "div p span ul li b i a h1 h2 br table td form pre em strong section "
    "dd dt dl hr img footer blockquote select option optgroup input "
    "template menuitem button textarea marquee object applet "
    "nobr small big tt u s strike font code "
    "tr th tbody thead tfoot caption colgroup".split())

_HEADS = [
    "<!DOCTYPE html><html><head></head><body>",
    "<!DOCTYPE html><html><head><title>t</title></head><body>",
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><style>a{color:x}"
    "</style><script>1<2&&x()</script></head><body>",
    "<html><head></head><body>",
    "<!-- lead --><!DOCTYPE html><html><head></head><body>",
    "",
    "<!DOCTYPE html>",
    "<body>",
    "<head><title>t</title></head> \n",
    "<!DOCTYPE html><html><head></head>\n  <body>",
    "</div><!-- stray -->",
]


@st.composite
def soup(draw):
    """Mixed tag soup behind a choice of document heads."""
    parts = [draw(st.sampled_from(_HEADS))]
    for _ in range(draw(st.integers(0, 12))):
        kind = draw(st.integers(0, 4))
        t = draw(_tags)
        if kind == 0:
            parts.append(f"<{t}>")
        elif kind == 1:
            parts.append(f"</{t}>")
        elif kind == 2:
            parts.append(draw(st.text(
                alphabet="ab <>&;x\n\t\xa0", min_size=0, max_size=12)))
        elif kind == 3:
            parts.append(draw(st.sampled_from(
                ["<!-- c -->", "<script>x<y</script>", "<style>.c{}</style>"])))
        else:
            parts.append(f'<{t} class="c d" id=\'{draw(st.integers(0, 9))}\'>')
    parts.append(draw(st.sampled_from(["", "</body></html>", "</body>", "</html>"])))
    return "".join(parts)


_BODY = "<!DOCTYPE html><html><head></head><body>"


def _body_soup(tags: str, pieces, n_max: int):
    """Generator: ``_BODY`` then up to ``n_max`` pieces, each made from
    one of ``tags`` by ``pieces`` (a list of ``str.format`` patterns)."""
    names = st.sampled_from(tags.split())

    @st.composite
    def gen(draw):
        parts = [_BODY]
        for _ in range(draw(st.integers(1, n_max))):
            t = draw(names)
            parts.append(draw(st.sampled_from([p.format(t=t)
                                               for p in pieces])))
        return "".join(parts)
    return gen


_OPEN_CLOSE = ["<{t}>", "</{t}>", "x", " "]

#: formatting-heavy soup (adoption agency)
formatting_soup = _body_soup(
    "a nobr b i small big tt u s strike font code em strong div p",
    _OPEN_CLOSE, 10)
#: table-heavy soup (fostered text, stray ends, nesting)
table_soup = _body_soup(
    "table tr td th tbody thead tfoot caption col colgroup div p b ul li",
    _OPEN_CLOSE + ["<!-- c -->"], 14)
#: forms/pre soup (form pointer, button closes, textarea, pre newline)
forms_soup = _body_soup(
    "form input button textarea select option pre listing p div b li ul",
    _OPEN_CLOSE + ["\n"], 14)
#: select-heavy soup (in-select, select-in-table)
select_soup = _body_soup(
    "select option optgroup input p div b table td tr caption template",
    _OPEN_CLOSE, 14)
#: marker containers (marquee/object/applet/template) with formatting
marker_soup = _body_soup(
    "marquee object applet b i p div a nobr em li template select",
    _OPEN_CLOSE, 12)
#: foreign content (breakout tags, integration points, CDATA)
foreign_soup = _body_soup(
    "svg math circle rect g path title desc foreignObject mi mo ms mtext "
    "annotation-xml textpath lineargradient p div span b script use text",
    ["<{t}>", "</{t}>", "<{t}/>", "x", " ", "<!-- c -->",
     "<![CDATA[d<e]]>", '<{t} encoding="text/html">',
     '<{t} viewBox="0 0 1 1" stroke-width="2">'], 14)

_dup_fmt = st.sampled_from("b i em strong u s code small".split())
_dup_blk = st.sampled_from("div p blockquote section li".split())


@st.composite
def dup_formatting_soup(draw):
    """Unclosed duplicate formatting inside a block."""
    f = draw(_dup_fmt)
    blk = draw(_dup_blk)
    parts = [_BODY, f"<{f}>", "a"]
    parts.append(draw(st.sampled_from(
        [f"<{blk}>", f"<{blk}><{f}>c", f"<{blk}>b<{f}>c", f"<{f}>c<{blk}>"])))
    parts.append(draw(st.sampled_from([f"</{blk}>", ""])))
    parts.append(draw(st.sampled_from([f"</{f}>", "</br>", "<br>", ""])))
    parts.append("d")
    parts.append(draw(st.sampled_from([f"</{f}>e", "</br>e", ""])))
    return "".join(parts)


#: recorded sample name -> generator
GENERATORS = {
    "soup": soup, "formatting": formatting_soup, "tables": table_soup,
    "forms": forms_soup, "select": select_soup, "markers": marker_soup,
    "foreign": foreign_soup, "dup_formatting": dup_formatting_soup,
}


def draw_sample(strategy, n: int = SAMPLE_SIZE) -> list:
    """``n`` distinct inputs from ``strategy``, the same on every run
    (hypothesis derandomized, no example database)."""
    from hypothesis import given, settings

    out: dict = {}

    @settings(max_examples=n * 4, derandomize=True, database=None,
              deadline=None)
    @given(strategy())
    def collect(src):
        if len(out) < n:
            out.setdefault(src, None)

    collect()
    assert len(out) == n, (strategy, len(out))
    return list(out)


def record(build) -> dict:
    """The golden file's content, built with ``build(src) -> Document``."""
    from perl_html5_dom_spark.dom.treedump import tree_format

    import test_api_parse
    import test_fastparse
    import test_invariants

    def tree(src):
        doc = build(src)
        return {"digest": digest(doc), "dump": tree_format(doc),
                "flags": [doc.quirks, doc.fostered, doc.misnested]}

    def digests(inputs):
        return [digest(build(src)) for src in inputs]

    return {
        "trees": {src: tree(src) for src in dict.fromkeys(HAND_WRITTEN)},
        "samples": {name: [[src, digest(build(src))]
                           for src in draw_sample(gen)]
                    for name, gen in GENERATORS.items()},
        "deep_tables": {str(d): digest(build(deep_table(d)))
                        for d in DEEP_TABLE_DEPTHS},
        "corpus": digests(test_fastparse.corpus_pages()),
        "library_pages": digests(test_api_parse.library_pages()),
        "mixed_vocabulary": digests(test_invariants.mixed_vocabulary_docs()),
    }


if __name__ == "__main__":
    import sys

    from perl_html5_dom_spark.dom.treebuilder import TreeBuilder

    sys.setrecursionlimit(10000)
    data = record(lambda src: TreeBuilder().parse(src))
    with open(GOLDENS, "w", encoding="utf-8") as f:
        json.dump(data, f, ensure_ascii=False, indent=0, sort_keys=True)
        f.write("\n")
    print({k: len(v) for k, v in data.items()})
