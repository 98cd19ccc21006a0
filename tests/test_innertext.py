"""innerText torture goldens (semantics /root/reference/utils.c:439-576,
display table /root/reference/gen/tags_ua_style.c)."""

import pytest

from perl_html5_dom_spark import HTML5DOM


def it(html: str) -> str:
    tree = HTML5DOM().parse(html)
    return tree.body().innerText()


@pytest.mark.parametrize("html,expected", [
    # whitespace collapse
    ("<b>   a   b   </b>", "a b"),
    ("a\n\n\t b", "a b"),
    # NBSP preserved
    ("a&nbsp;&nbsp;b", "a\xa0\xa0b"),
    # br always emits newline (even doubled)
    ("a<br>b", "a\nb"),
    ("a<br><br>b", "a\n\nb"),
    # block boundary collapse via last_br
    ("<div>a</div><div>b</div>", "a\nb\n"),
    ("<div><div><div>a</div></div></div>b", "a\nb"),
    # p doubles the trailing newline
    ("<p>a</p><p>b</p>", "a\n\nb\n\n"),
    ("<p>a</p>b", "a\n\nb"),
    # display:none subtrees skipped
    ("a<script>x=1;</script>b", "ab"),
    ("a<style>p{}</style>b", "ab"),
    ("a<template><b>x</b></template>b", "ab"),
    ("<head><title>t</title></head><body>a</body>", "a"),
    # replaced/skipped elements
    ("a<textarea>zzz</textarea>b", "ab"),
    ("a<input value=x>b", "ab"),
    ("a<audio>x</audio>b<video>y</video>c", "abc"),
    # table: \t between cells, \n between rows (within the same row group
    # only — the reference checks last-row within the parent, utils.c:545-560)
    ("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>",
     "a\tb\nc\td\n"),
    ("<table><thead><tr><th>h1</th><th>h2</th></tr></thead>"
     "<tbody><tr><td>a</td><td>b</td></tr></tbody></table>",
     "h1\th2a\tb\n"),
    # caption is a boundary
    ("<table><caption>cap</caption><tr><td>x</td></tr></table>", "cap\nx\n"),
    # list items do NOT emit newlines (li is display:list-item)
    ("<ul><li>a</li><li>b</li></ul>", "ab\n"),
    # inline elements add nothing
    ("a<b>b</b><i>c</i>", "abc"),
    # leading/trailing space trimmed, CR dropped
    ("   a   ", "a"),
    ("a\rb", "a b"),  # CR normalized to LF by input preprocessing, then collapsed
    # spaces rtrimmed before boundary
    ("a   <div>b</div>", "a\nb\n"),
])
def test_innertext(html, expected):
    assert it(html) == expected


def test_innertext_nested_mix():
    html = ("<div>  one  <span> two </span><p> three </p>"
            "<table><tr><td> c1 </td><td>c2</td></tr></table> tail  </div>")
    assert it(html) == "one two\nthree\n\nc1\tc2\ntail\n"


def test_innertext_on_subtree():
    tree = HTML5DOM().parse("<div id=x>a<p>b</p></div>")
    assert tree.at("#x").innerText() == "a\nb\n\n"
    # getter on a text node returns None (reference: undef)
    txt = tree.at("#x").firstChild()
    assert txt.innerText() is None


def test_innertext_cr_in_api_set_text():
    """\r reaching a text node via the API is dropped (utils.c:448-450)."""
    tree = HTML5DOM().parse("<div id=x></div>")
    tree.at("#x").text("a\rb")
    assert tree.at("#x").innerText() == "ab"


def test_whitespace_collapse_matches_the_character_loop():
    """The collapse runs only on text holding a run to collapse; on
    random text of whitespace, NBSP, ``\\r`` and letters the result is
    the reference's character loop (utils.c:451-463): ``\\r`` dropped,
    each run of ASCII whitespace one space, none at the start, trailing
    spaces rtrimmed."""
    import random

    def collapse(s):
        out = []
        for c in s:
            if c == "\r":
                continue
            if c in " \t\n\x0b\x0c":
                if out and out[-1] != " ":
                    out.append(" ")
            else:
                out.append(c)
        return "".join(out).rstrip(" ")

    rnd = random.Random(12)
    alphabet = " \t\n\x0b\x0c\r\xa0ab"
    tree = HTML5DOM().parse("<div id=x></div>")
    div = tree.at("#x")
    for _ in range(20000):
        s = "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 10)))
        div.text(s)
        assert div.innerText() == collapse(s), repr(s)
