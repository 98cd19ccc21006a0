"""Spark SQL function registration — the css_* family.

Registers the engine's scalar surface as SQL-callable functions so the
query face is usable from plain ``spark.sql``.  All are Arrow UDFs made
by ``util.scalar_udf`` (never per-row Python): each parses a distinct
``(html, arguments)`` tuple once per Arrow batch, and compiles its
selector once per executor via an LRU cache — the executor-side analog
of the reference's precompiled selectors (DOM.pod:2544-2551).  Any
NULL argument (``html``, selector or attribute name) gives SQL NULL.

    SELECT css_text(html, 'article h1')       -- first match's text
    SELECT css_count(html, 'a[href]')         -- number of matches
    SELECT css_inner_text(html)               -- body innerText
    SELECT css_main_text(html)                -- boilerplate-stripped text
    SELECT css_html(html, 'p')                -- first match outerHTML

The raw callables stay plain functions of one row's Python values; the
UDF wrapping happens inside ``register_all`` on the driver.
"""

from __future__ import annotations

from functools import lru_cache

from ..dom import innertext, serializer
from ..dom.fastparse import parse_document
from ..operators.extract import main_text
from ..selector import matcher
from ..util import scalar_udf


@lru_cache(maxsize=256)
def _compiled(selector: str):
    return matcher.compile_selector(selector)


def _parsed(fn):
    """(html, *args) → ``fn(parsed html, *args)``."""
    return lambda html, *args: fn(parse_document(html), *args)


def _at(render):
    """(html, selector, *args) → ``render(doc, first match, *args)``,
    None if nothing matches."""
    def fn(doc, sel, *args):
        nid = matcher.at(doc, _compiled(sel))
        return render(doc, nid, *args) if nid != -1 else None

    return _parsed(fn)


css_text_fn = _at(serializer.text_content)
css_html_fn = _at(serializer.serialize)
css_attr_fn = _at(lambda doc, nid, name: (doc.attrs[nid] or {}).get(name))
css_main_text_fn = _parsed(main_text)


@_parsed
def css_count_fn(doc, sel):
    return len(matcher.find(doc, _compiled(sel)))


@_parsed
def css_inner_text_fn(doc):
    return innertext.inner_text(
        doc, doc.body_node if doc.body_node != -1 else doc.root)


def register_all(spark) -> None:
    for name, fn, t in (("css_text", css_text_fn, "string"),
                        ("css_count", css_count_fn, "bigint"),
                        ("css_html", css_html_fn, "string"),
                        ("css_inner_text", css_inner_text_fn, "string"),
                        ("css_main_text", css_main_text_fn, "string"),
                        ("css_attr", css_attr_fn, "string")):
        spark.udf.register(name, scalar_udf(fn, t))
