"""CSS selector queries as Spark operators.

Every selector, simple or structural, is evaluated by the full CSS L4
matcher as the body of the shared document runner
(``util.map_documents``) over ``(url, html)``, compiled once on the
driver and shipped in the closure (reference precompiled selectors,
DOM.pod:2544-2551).  One match kernel, :func:`_matches`, serves
``css_find``/``css_at`` and ``css_extract_multi``: it returns one list
per column, of one value per match, which the runner flattens onto one
row per match.

``css_find`` returns ``(url, node_id, ord, tag, begin, length)`` —
matched node handles + open-tag source spans, document order via
``ord`` (the pre-order index, reference collection order utils.c:297-300).
"""

from __future__ import annotations

from ..dom import innertext, serializer
from ..selector import matcher
from ..util import map_documents
from .extract import parse_document

#: css_find's per-match handle columns: (Spark type, (doc, node) → value)
_HANDLES = {
    "tag": ("string", lambda doc, n: doc.tag[n]),
    "begin": ("bigint", lambda doc, n: doc.elem_begin[n]),
    "length": ("bigint", lambda doc, n: doc.elem_length[n]),
}


def _matches(df, selector: str, columns: dict, first: bool = False):
    """DataFrame(url, html) → (url, node_id, ord, *columns): one row per
    node the full CSS L4 matcher matches, in document order, from one
    parse per document.  ``columns`` maps each further column to
    ``(Spark type, (doc, node) → value)``."""
    compiled = matcher.compile_selector(selector)

    def body(html):
        doc = parse_document(html)
        nids = matcher.find(doc, compiled, first=first)
        pos = doc.preorder()[1]
        return {"node_id": nids, "ord": [pos[n] for n in nids],
                **{c: [value(doc, n) for n in nids]
                   for c, (_, value) in columns.items()}}

    return map_documents(df, ("url",), "html", body, {
        "node_id": "bigint", "ord": "bigint",
        **{c: t for c, (t, _) in columns.items()}})


def css_find(df, selector: str, first: bool = False):
    """DataFrame(url, html) → matches via the full CSS L4 matcher.

    ``first=True`` is ``at()`` — early exit per document inside the
    kernel (reference utils.c:248-254)."""
    return _matches(df, selector, _HANDLES, first)


def css_at(df, selector: str):
    return css_find(df, selector, first=True)


#: per-match sinks of css_extract_multi: (doc, node) → string
_SINKS = {
    "text": serializer.text_content,
    "html": serializer.serialize,
    "inner_html": lambda doc, n: serializer.serialize(doc, n, inner=True),
    "inner_text": innertext.inner_text,
}


def _attr_sink(name: str):
    def sink(doc, n):
        a = doc.attrs[n]
        return a.get(name) if a else None

    return sink


def css_extract_multi(df, selector: str, whats: tuple = ("text",)):
    """Per-match extraction of SEVERAL sinks in ONE parse — at crawl
    scale the parse dominates, so one parse per sink would double/triple
    the kernel cost.  Sinks: text | html | inner_html | inner_text |
    attr:<name> (None when the attribute is absent), the Collection
    sinks of the reference (Collection.pm:117-131).  Returns (url,
    node_id, ord, <one column per sink>); ``attr:name`` sinks become
    ``attr_name`` columns."""
    sinks = {}
    for w in whats:
        if w.startswith("attr:"):
            sinks["attr_" + w[5:].replace(":", "_")] = (
                "string", _attr_sink(w[5:]))
        elif w in _SINKS:
            sinks[w] = ("string", _SINKS[w])
        else:
            raise ValueError(w)
    return _matches(df, selector, sinks)


def css_extract(df, selector: str, what: str = "text"):
    """:func:`css_extract_multi` with one sink, named ``value``:
    (url, node_id, ord, value)."""
    return css_extract_multi(df, selector, (what,)).toDF(
        "url", "node_id", "ord", "value")
