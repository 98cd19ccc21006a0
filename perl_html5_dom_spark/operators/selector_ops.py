"""CSS selector queries as Spark operators.

Two physical strategies (our analog of the reference's fast paths
``findTag/findClass/findId/findAttr`` that bypass the CSS engine,
reference DOM.xs:286-359).  Nothing picks between them: the
caller does.  ``css_find_nodes`` runs the lowered one over a node table
and raises ``ValueError`` on a selector it cannot lower (``try_lower``
says which can); ``css_find``/``css_at`` run the kernel on any
selector:

1. **Lowered** — a selector that is a single compound of simple
   predicates (tag / #id / .class / [attr op value]) compiles to plain
   Spark Column predicates over the node table.  Catalyst then gets the
   whole plan: predicate pushdown, whole-stage codegen, no Python in the
   match loop.
2. **Kernel** — anything structural (combinators, :nth-*, :not/:has,
   comma lists) is evaluated by the full matcher as the body of the
   shared document runner (``util.map_documents``) over ``(url,
   html)``, compiled once on the driver and shipped in the closure
   (reference precompiled selectors, DOM.pod:2544-2551).  One match
   kernel, :func:`_matches`, serves ``css_find``/``css_at`` and
   ``css_extract_multi``: it returns one list per column, of one value
   per match, which the runner flattens onto one row per match.

Both return the same shape: ``(url, node_id, ord, tag, begin, length)``
— matched node handles + open-tag source spans, document order via
``ord`` (the pre-order index, reference collection order utils.c:297-300).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..dom import innertext, serializer
from ..selector import matcher
from ..selector.parser import parse_selector
from ..util import map_documents
from .extract import parse_document

#: css_find's per-match handle columns: (Spark type, (doc, node) → value)
_HANDLES = {
    "tag": ("string", lambda doc, n: doc.tag[n]),
    "begin": ("bigint", lambda doc, n: doc.elem_begin[n]),
    "length": ("bigint", lambda doc, n: doc.elem_length[n]),
}


# ---------------------------------------------------------------------------
# Strategy 1: lowering simple selectors to Column predicates
# ---------------------------------------------------------------------------

def lower_simple(simple, nodes_df):
    """One simple selector → Column predicate over NODES_SCHEMA, or None
    if it needs the kernel."""
    kind = simple[0]
    c = nodes_df
    if kind == "star":
        return F.lit(True)
    if kind == "tag":
        return c["tag"] == simple[1].lower()
    if kind == "id":
        return c["attrs"]["id"] == simple[1]
    if kind == "class":
        # [class~=v] semantics (reference findClass, DOM.xs:302-305)
        return F.array_contains(
            F.split(F.coalesce(c["attrs"]["class"], F.lit("")), r"\s+"),
            simple[1],
        )
    if kind == "attr":
        _, name, match, value, icase = simple
        v = c["attrs"][name]
        if match is None or value is None:
            return v.isNotNull()
        val = F.lit(value)
        if icase:
            v, val = F.lower(v), F.lower(val)
        if match == "equal":
            return v == val
        if match == "include":
            return F.array_contains(F.split(v, r"\s+"), value if not icase else value.lower())
        if match == "dash":
            return (v == val) | v.startswith(value + "-" if not icase else value.lower() + "-")
        if match == "prefix":
            return v.startswith(value if not icase else value.lower())
        if match == "suffix":
            return v.endswith(value if not icase else value.lower())
        if match == "substring":
            return v.contains(value if not icase else value.lower())
    return None


def try_lower(selector: str, nodes_df):
    """Whole-selector lowering: single entry, single step, all simples
    lowerable → Column predicate; else None."""
    sel = parse_selector(selector)
    if not sel.valid or len(sel.entries) != 1:
        return None
    steps = sel.entries[0].steps
    if len(steps) != 1:
        return None
    pred = nodes_df["node_type"] == 1
    for s in steps[0][1]:
        p = lower_simple(s, nodes_df)
        if p is None:
            return None
        pred = pred & p
    return pred


def css_find_nodes(nodes_df, selector: str):
    """Lowered strategy over an existing node table; raises if the
    selector needs the kernel (caller falls back to css_find)."""
    pred = try_lower(selector, nodes_df)
    if pred is None:
        raise ValueError(f"selector {selector!r} is not lowerable; use css_find")
    return (
        nodes_df.filter(pred)
        .select(
            "url", "node_id", "ord", "tag",
            F.col("elem_begin").alias("begin"),
            F.col("elem_length").alias("length"),
        )
    )


# ---------------------------------------------------------------------------
# Strategy 2: full matcher kernel
# ---------------------------------------------------------------------------

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
