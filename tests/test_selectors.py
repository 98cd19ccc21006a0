"""Selector goldens re-expressing /root/reference/t/0-api.t:157-253 and
1666-1726 (finders, comparators, selector text/AST/specificity/validity)."""

import pytest

from perl_html5_dom_spark import CSS, HTML5DOM
from perl_html5_dom_spark.selector.parser import parse_selector

FIXTURE = """
\t<!DOCTYPE html>
\t<div id="test0" some-attr="ololo trololo" class="red blue">
\t\t<div class="yellow" id="test1"></div>
\t</div>
\t<div id="test2" some-attr="ololo" class="blue">
\t\t<div class="yellow" id="test3"></div>
\t</div>
\t
\t<span test-attr-eq="test"></span>
\t<span test-attr-eq="testt"></span>
\t
\t<span test-attr-space="wefwef   test   wefewfew"></span>
\t<span test-attr-space="wefewwef testt wewe"></span>
\t
\t<span test-attr-dash="test-fwefwewfe"></span>
\t<span test-attr-dash="testt-"></span>
\t
\t<span test-attr-substr="wefwefweftestfweewfwe"></span>
\t
\t<span test-attr-prefix="testewfwefewwf"></span>
\t
\t<span test-attr-suffix="ewfwefwefweftest"></span>
"""


@pytest.fixture(scope="module")
def tree():
    return HTML5DOM().parse(FIXTURE)


def test_at(tree):
    for method in ("at", "querySelector"):
        assert getattr(tree, method)("div").attr("id") == "test0"
        assert getattr(tree, method)("xuj") is None


def test_find_id(tree):
    for method in ("findId", "getElementById"):
        assert getattr(tree, method)("test2").attr("id") == "test2"
        assert getattr(tree, method)("xuj") is None


def test_find(tree):
    for method in ("find", "querySelectorAll"):
        assert getattr(tree, method)(".blue").length() == 2
        assert getattr(tree, method)(".bluE").length() == 0
        assert getattr(tree, method)(".ewfwefwefwefwef").length() == 0
        assert getattr(tree, method)(".blue").item(1).attr("id") == "test2"


def test_find_tag(tree):
    for method in ("findTag", "getElementsByTagName"):
        assert getattr(tree, method)("div").length() == 4
        assert getattr(tree, method)("dIv").length() == 4
        assert getattr(tree, method)("nope").length() == 0
        assert getattr(tree, method)("div").item(0).attr("id") == "test0"


def test_find_class(tree):
    for method in ("findClass", "getElementsByClassName"):
        assert getattr(tree, method)("blue").length() == 2
        assert getattr(tree, method)("red").length() == 1
        assert getattr(tree, method)("bluE").length() == 0
        assert getattr(tree, method)("yellow").item(0).attr("id") == "test1"


@pytest.mark.parametrize("sep,splits", [
    ("\t", True), ("\n", True), ("\x0c", True),
    ("\x0b", False), ("\xa0", False), ("\x1c", False)])
def test_class_tokens_split_on_ascii_whitespace_only(sep, splits):
    """``class`` and ``~=`` split on ASCII whitespace (tab, LF, FF, CR,
    space), never on VT, NBSP or the information separators."""
    tree = HTML5DOM().parse(f'<div class="a{sep}widget"></div>')
    assert (tree.find(".widget").length() == 1) is splits
    assert (tree.find("[class~=widget]").length() == 1) is splits
    assert tree.at("div").classList().has("widget") is splits


# all six comparators x icase (t/0-api.t:227-253)
ATTRS = {"=": "test-attr-eq", "~": "test-attr-space", "|": "test-attr-dash",
         "*": "test-attr-substr", "^": "test-attr-prefix",
         "$": "test-attr-suffix"}


@pytest.mark.parametrize("cmp_", list(ATTRS))
@pytest.mark.parametrize("icase", [0, 1])
def test_find_attr(tree, cmp_, icase):
    values = [["test", "tesT"], ["tEsT", "test2"]]
    found = tree.findAttr(ATTRS[cmp_], values[icase][0], icase, cmp_)
    assert found.length() == 1, (cmp_, icase)
    notfound = tree.findAttr(ATTRS[cmp_], values[icase][1], icase, cmp_)
    assert notfound.length() == 0, (cmp_, icase)


def test_css_attr_selectors(tree):
    """CSS-analog table DOM.pod:1900-1921."""
    assert tree.find('[test-attr-eq="test"]').length() == 1
    assert tree.find('[test-attr-space~="test"]').length() == 1
    assert tree.find('[test-attr-dash|="test"]').length() == 1
    assert tree.find('[test-attr-substr*="test"]').length() == 1
    assert tree.find('[test-attr-prefix^="test"]').length() == 1
    assert tree.find('[test-attr-suffix$="test"]').length() == 1
    assert tree.find('[test-attr-eq="tEsT" i]').length() == 1
    assert tree.find("[some-attr]").length() == 2


def test_structural():
    t = HTML5DOM().parse(
        "<ul><li id=a>1</li><li id=b>2</li><li id=c>3</li></ul>"
        "<div><p id=p1><b>x</b></p></div>")

    def ids(coll):
        return [n.attr("id") for n in coll]

    assert ids(t.find("li:nth-child(2n+1)")) == ["a", "c"]
    assert ids(t.find("li:nth-child(odd)")) == ["a", "c"]
    assert ids(t.find("li:nth-child(even)")) == ["b"]
    assert ids(t.find("li:nth-last-child(1)")) == ["c"]
    assert ids(t.find("li:first-child")) == ["a"]
    assert ids(t.find("li:last-child")) == ["c"]
    assert ids(t.find("p:has(b)")) == ["p1"]
    assert ids(t.find("li:not(#b)")) == ["a", "c"]
    assert ids(t.find('li:contains("2")')) == ["b"]
    assert ids(t.find("li#a + li")) == ["b"]
    assert ids(t.find("li#a ~ li")) == ["b", "c"]
    assert ids(t.find("ul > li#a")) == ["a"]
    assert t.find("b:only-child").length() == 1
    assert ids(t.find("li:nth-child(1 of .x)")) == []


def test_root_combinator():
    t = HTML5DOM().parse(
        '<div class="red">red</div><div class="blue">blue</div>')
    node = t.body().at("body > div.red")
    assert node.html() == '<div class="red">red</div>'
    # explicit child combinator from scope
    assert t.body().find("div", ">").length() == 2
    assert t.body().find("div.red", ">").length() == 1


def test_selector_meta():
    sel = CSS().parseSelector(
        "div:last-child > span.red[attr=value], div, img:nth-child(2n+1), "
        "table ~ tr, div + div")
    assert len(sel) == 5
    assert sel.to_text() == (
        "div:last-child > span.red[attr = value], div, "
        "img:nth-child(2n+1), table ~ tr, div + div")
    assert sel.entries[0].to_text() == "div:last-child > span.red[attr = value]"
    assert sel.entries[4].to_text() == "div + div"
    assert isinstance(sel.to_ast(), list)


@pytest.mark.parametrize("selector,expected", [
    ("*", (0, 0, 0)),
    ("a", (0, 0, 1)),
    ("#id", (1, 0, 0)),
    (".class", (0, 1, 0)),
    ("[a=b]", (0, 1, 0)),
    (":after", (0, 0, 1)),
    ("::after", (0, 0, 1)),
    (":first-child", (0, 1, 0)),
])
def test_specificity(selector, expected):
    assert parse_selector(selector).entries[0].specificity() == expected


def test_validity():
    assert parse_selector("").valid is False
    assert parse_selector("(*&*^&**%%*(").valid is False
    assert parse_selector("div[attr]").valid is True


def test_pseudo_element():
    assert parse_selector("div:after").entries[0].pseudo_element() == "after"
    assert parse_selector("div").entries[0].pseudo_element() is None
    # pseudo-elements parse but match nothing (reference parity)
    t = HTML5DOM().parse("<div>x</div>")
    assert t.find("div::after").length() == 0


def test_ast_shapes():
    """AST dict shape per /root/reference/DOM.xs:453-679."""
    ast = parse_selector("div.red#x[a=b i]:first-child").to_ast()
    chain = ast[0]
    assert {"type": "tag", "value": "div"} in chain
    assert {"type": "class", "value": "red"} in chain
    assert {"type": "id", "value": "x"} in chain
    assert {"type": "attribute", "name": "a", "value": "b",
            "match": "equal", "ignoreCase": 1} in chain
    assert {"type": "pseudo-class", "value": "first-child"} in chain
    ast2 = parse_selector("a > b ~ c + d").to_ast()[0]
    combs = [d["value"] for d in ast2 if d.get("type") == "combinator"]
    assert combs == ["child", "adjacent", "sibling"]
    nth = parse_selector("li:nth-of-type(2n+1)").to_ast()[0][-1]
    assert nth["type"] == "function" and nth["name"] == "nth-child"
    assert nth["a"] == 2 and nth["b"] == 1
    fn = parse_selector("p:not(.x, #y)").to_ast()[0][-1]
    assert fn["type"] == "function" and fn["name"] == "not"
    assert isinstance(fn["value"], list) and len(fn["value"]) == 2


# ---------------------------------------------------------------------------
# '||' column combinator — Selectors L4 semantics over the WHATWG table
# grid (colspan/rowspan occupancy).  Reference wires Modest's column
# walker (utils.c:306-310); expected sets derived from the spec.
# ---------------------------------------------------------------------------
_COL_TABLE = """
<table>
  <colgroup><col id="c1"><col id="c2" span="2"></colgroup>
  <tr><td id="a">1</td><td id="b">2</td><td id="c">3</td></tr>
  <tr><td id="d" colspan="2">45</td><td id="e">6</td></tr>
  <tr><td id="f" rowspan="2">x</td><td id="g" colspan="2">y</td></tr>
  <tr><td id="h">z</td></tr>
</table>"""


def _ids(col):
    return sorted(n.attr("id") for n in col)


def test_column_combinator_basic():
    t = HTML5DOM().parse(_COL_TABLE)
    # col c1 covers column 0: a, d (spans 0-1), f
    assert _ids(t.find("#c1 || td")) == ["a", "d", "f"]
    # col c2 spans columns 1-2: b, c, d (overlap at col 1), e, g, h
    # (h lands in column 1 because f's rowspan occupies column 0)
    assert _ids(t.find("#c2 || td")) == ["b", "c", "d", "e", "g", "h"]


def test_column_combinator_colgroup_without_cols():
    t = HTML5DOM().parse(
        '<table><colgroup id="g" span="2"></colgroup>'
        '<tr><td id="a">1</td><td id="b">2</td><td id="c">3</td></tr></table>')
    assert _ids(t.find("#g || td")) == ["a", "b"]


def test_column_root_combinator_override():
    # find(sel, '||') applies the column combinator to the scope node
    t = HTML5DOM().parse(_COL_TABLE)
    col = t.at("#c1")
    assert _ids(col.find("td", "||")) == ["a", "d", "f"]


def test_column_combinator_requires_same_table():
    t = HTML5DOM().parse(
        '<table><colgroup><col id="c1"></colgroup>'
        '<tr><td id="a">1</td></tr></table>'
        '<table><tr><td id="z">2</td></tr></table>')
    assert _ids(t.find("#c1 || td")) == ["a"]


def test_drop_parses_and_matches_nothing():
    """:drop() parses and is exposed in the AST (reference
    DOM.xs:565-666) but matches nothing in a static DOM — there is no
    live drag-and-drop state."""
    sel = parse_selector("input:drop(active valid)")
    assert sel.valid is True
    fn = sel.to_ast()[0][-1]
    assert fn["type"] == "function" and fn["name"] == "drop"
    t = HTML5DOM().parse('<form><input type="text"></form>')
    assert t.find("input:drop()").length() == 0
    assert t.find("input:drop(active)").length() == 0
    assert t.find("input").length() == 1


def test_has_relative_selectors():
    """Selectors L4 relative forms in :has(): leading child/sibling
    combinators anchor at the element under test (found non-matching
    by the round-3 algebra fuzz, previously parsed as invalid)."""
    from perl_html5_dom_spark.dom.treebuilder import parse
    from perl_html5_dom_spark.selector import matcher

    doc = parse('<body><div><li>a</li></div><ul><li>b</li></ul>'
                '<section></section></body>')

    def hits(sel):
        return sorted(doc.tag[n] for n in
                      matcher.find(doc, matcher.compile_selector(sel)))

    assert hits(":has(> li)") == ["div", "ul"]
    assert hits("div:has(+ ul)") == ["div"]
    assert hits("div:has(~ section)") == ["div"]
    assert hits("ul:has(~ section)") == ["ul"]
    assert hits("section:has(~ ul)") == []
    assert hits(":has(> li, > section)") == ["body", "div", "ul"]
    # absolute form still means descendant-anywhere
    assert hits(":has(li)") == ["body", "div", "html", "ul"]
