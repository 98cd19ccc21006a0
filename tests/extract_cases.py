"""Extraction inputs and the outputs recorded for them.

For every input, ``outputs`` takes the document that ``extract_one``
parses and records four things: ``main_text(doc)``, the body's and the
document node's ``inner_text``, and ``extract_one`` with every field and
the ``a[href]`` span selector.  ``extract_goldens.json`` keeps them in
full for the hand-written shapes below and as one digest per input for
the generated families:

* seeded pages of each ``html_distinct`` family (pages, messy, hostile,
  hostile2) over a documents table whose words include entities, ``<``,
  NBSP and ``&#13;``;
* the crawl-shaped library pages of ``test_api_parse``;
* the tag soups of ``parse_cases`` (every hand-written input and the
  recorded sample of each generator) and ``test_invariants``' mixed
  vocabulary.

The hand-written shapes probe where a paragraph's text can depend on the
render around it: ``<p>`` under display-none, skipped and blocked
subtrees, table cells and captions, foreign content inside ``<p>``,
``<br>`` at a paragraph's edges, main nodes other than ``<body>``,
documents without ``<body>``, and ``\\r``/NBSP in text.

The recording was made with the extraction kernel that rendered every
paragraph apart from the body; ``record`` rebuilds the file with the
kernel on the import path:

    PYTHONPATH=<checkout to record with> python3 tests/extract_cases.py
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "extract_goldens.json")
#: seeded pages per html_distinct family
FAMILY_PAGES = 300
SPAN_SELECTOR = "a[href]"

_P = "<!DOCTYPE html><html><head><title>t</title></head><body>"

#: hand-written shapes, recorded in full
SHAPES = [
    # <p> the body render skips: display-none and skipped containers
    _P + "<datalist><p>hidden list para</p></datalist><div><p>shown</p></div>",
    _P + "<div><datalist><p>only hidden paragraph text here</p></datalist>"
    "body text outside</div>",
    _P + "<video><p>video fallback para</p></video><p>after video</p>",
    _P + "<audio><p>audio fallback</p><p>two</p></audio>",
    _P + "<p>a<textarea>ta <p>not a tag</p></textarea>b</p>",
    _P + "<textarea><p>rcdata</p></textarea><p>real</p>",
    _P + "<p>in<input value=x>put</p>",
    _P + "<template><p>template para</p></template><p>live</p>",
    _P + "<div><noscript><p>ns</p></noscript><p>after</p></div>",
    _P + "<select><option><p>opt para</p></option></select><p>x</p>",
    # blocked subtrees: blocked tags and class/id tokens
    _P + "<div class=\"sidebar\"><p>side text</p></div>"
    "<article><p>main article text that is long enough</p></article>",
    _P + "<nav><div><p>navigation paragraph with plenty of words in it to "
    "win the score</p></div></nav><p>short</p>",
    _P + "<div id=\"comments\"><p>comment one</p><p>comment two</p></div>"
    "<div><p>content</p><form><p>form para</p></form></div>",
    _P + "<main class=\"menu\"><p>blocked main</p></main>",
    _P + "<div><p>x</p><aside><p>aside para</p></aside><p>y</p></div>",
    # table cells, rows and captions
    _P + "<table><caption><p>cap para</p></caption><tr><td><p>a</p></td>"
    "<td>b<p>c</p>d</td></tr><tr><th><p>h</p></th></tr></table>",
    _P + "<table><tr><td><br></td><td><p>after a br cell</p></td></tr>"
    "</table>",
    _P + "<table><tr><td>one</td><td>  <p>  spaced  </p>  </td></tr></table>",
    _P + "<div><table><tr><td><p>p1</p></td></tr><tr><td><p>p2</p></td>"
    "</tr></table></div>",
    "<html><body><p>quirks<table><tr><td>cell in p</td><td>c2</td></tr>"
    "</table>tail</p>",
    "<html><body><p><table><caption>c</caption></table></p>",
    # foreign content inside <p>
    _P + "<p>x<svg><foreignObject><p>inner</p><div>d</div></foreignObject>"
    "</svg>y</p>",
    _P + "<p>m<math><mi><p>mi para</p></mi></math>n</p>",
    _P + "<p><svg><title>svg title</title><text>svg text</text></svg></p>",
    # <br> at a paragraph's edges
    _P + "<p><br>starts with br</p><p>ends with br<br></p>",
    _P + "<p><br></p><p>a<br><br>b</p><p> <br> </p>",
    _P + "<div>lead <p><br>x</p></div>",
    _P + "<div>tail<br><p>after br</p></div>",
    # whitespace at paragraph edges
    _P + "<div>  </div><p>   lead   and trail spaces   </p>",
    _P + "<p> </p><p>x</p><p>\t\n</p>",
    _P + "<span>inline </span><p>para</p><span> inline</span>",
    _P + "<p><span> </span></p><p><b> a </b> <i> b </i></p>",
    _P + "<a href=\"/x\"><p>link para</p></a><p>plain para text</p>",
    # main nodes other than <body>, with and without paragraphs
    _P + "<div><article>article text without any paragraph but long "
    "enough to be picked</article><nav>nav</nav></div>",
    _P + "<section><div>text <b>only</b> here</div></section><footer>f</footer>",
    _P + "<table><tr><td>cell text is the main content of this page</td>"
    "</tr></table>",
    _P + "<div><div><div>deep text node</div></div></div>",
    _P + "<main><p>one</p><div><p>two</p></div><p>three</p></main>",
    _P + "<article><h1>head</h1><p>para</p><ul><li>item</li></ul></article>",
    # documents without <body> or without content
    "",
    "<!DOCTYPE html><html><head><title>only head</title></head></html>",
    "<!DOCTYPE html><html><frameset><frame src=\"a\"></frameset></html>",
    "<html><head></head><frameset><noframes><p>nf</p></noframes></frameset>",
    "plain text only",
    "<p>no frame para</p>",
    # \r and NBSP in text
    _P + "<p>a&#13;b \xa0 c&#13; d</p><p>\xa0</p>",
    _P + "<p>x&#13;</p><div>&#13; y\xa0\xa0z</div>",
    _P + "<p>\xa0lead nbsp</p><p>trail nbsp\xa0 </p>",
    _P + "<pre>  pre\n  text  </pre><p>p</p>",
    # lists, headings and nested blocks around paragraphs
    _P + "<ul><li><p>li para</p></li><li>plain li</li></ul>",
    _P + "<div>before<p>para</p>after</div>",
    _P + "<blockquote><p>quoted</p></blockquote><p>outside</p>",
    _P + "<p>a</p><hr><p>b</p>",
    _P + "<div><p>x</p></div><p></p><p>y</p>",
]


def _doc_table(n: int, seed: str):
    """A seeded ``documents`` table (doc_id, text, lang) in DuckDB."""
    import duckdb

    rnd = random.Random(f"extract-cases/{seed}")
    words = ("alpha beta gamma delta the row scan a&amp;b x<y &lt;z&gt; "
             "caf\xe9 \xa0 nbsp\xa0run &#13; tab\tend  two  ").split(" ")
    con = duckdb.connect()
    con.execute(
        "create table documents (doc_id bigint, text varchar, lang varchar)")
    con.executemany("insert into documents values (?, ?, ?)", [
        (i, " ".join(rnd.choice(words) for _ in range(rnd.randint(1, 60))),
         rnd.choice(("en", "fr", "de")))
        for i in range(n)])
    return con


def family_pages(family: str, n: int = FAMILY_PAGES) -> list:
    """``n`` seeded pages of one ``html_distinct`` family."""
    from perl_html5_dom_spark.sources import pages as pg

    select = {"pages": pg.pages_select_sql, "messy": pg.messy_select_sql,
              "hostile": pg.hostile_select_sql,
              "hostile2": pg.hostile2_select_sql}[family]
    con = _doc_table(n, family)
    return [h for (h,) in con.sql(
        f"select html_str from ({select(pg.DUCK, 'documents')}) "
        f"order by url").fetchall()]


FAMILIES = ("pages", "messy", "hostile", "hostile2")


def generated_inputs() -> dict:
    """Sample name -> the list of inputs recorded as digests."""
    import parse_cases
    import test_api_parse
    import test_invariants

    out = {f"family/{f}": family_pages(f) for f in FAMILIES}
    out["library_pages"] = test_api_parse.library_pages()
    out["parse_cases"] = list(dict.fromkeys(parse_cases.HAND_WRITTEN))
    for name, sample in parse_cases.goldens()["samples"].items():
        out[f"soup/{name}"] = [src for src, _d in sample]
    out["mixed_vocabulary"] = test_invariants.mixed_vocabulary_docs()
    return out


def outputs(src) -> dict:
    """What the extraction kernel makes of ``src``, as JSON values."""
    from perl_html5_dom_spark.dom import innertext
    from perl_html5_dom_spark.dom.fastparse import parse_document
    from perl_html5_dom_spark.operators import extract
    from perl_html5_dom_spark.selector import matcher

    doc = parse_document(src)
    body = doc.body_node if doc.body_node != -1 else doc.root
    row = extract.extract_one(src, matcher.compile_selector(SPAN_SELECTOR))
    row["spans"] = [list(s) for s in row["spans"]]
    return {
        "main_text": extract.main_text(doc),
        "inner_body": innertext.inner_text(doc, body),
        "inner_root": innertext.inner_text(doc, doc.root),
        "extract": row,
    }


def digest(src) -> str:
    return hashlib.sha1(json.dumps(
        outputs(src), sort_keys=True, ensure_ascii=True).encode()
    ).hexdigest()[:16]


@functools.lru_cache(maxsize=None)
def goldens() -> dict:
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


def record() -> dict:
    """The golden file's content, made with the kernel on the path."""
    return {
        "shapes": {src: outputs(src) for src in dict.fromkeys(SHAPES)},
        "samples": {name: [digest(src) for src in inputs]
                    for name, inputs in generated_inputs().items()},
    }


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    data = record()
    with open(GOLDENS, "w", encoding="utf-8") as f:
        json.dump(data, f, ensure_ascii=False, indent=0, sort_keys=True)
        f.write("\n")
    print({k: len(v) for k, v in data.items()})
