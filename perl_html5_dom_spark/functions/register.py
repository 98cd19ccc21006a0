"""Spark SQL function registration — the css_* family.

Registers the engine's scalar surface as SQL-callable functions so the
query face is usable from plain ``spark.sql``.  All are Arrow-batched
pandas UDFs (never per-row Python); each compiles its selector once per
executor via an LRU cache — the executor-side analog of the reference's
precompiled selectors (DOM.pod:2544-2551).  A NULL ``html`` gives
SQL NULL.

    SELECT css_text(html, 'article h1')       -- first match's text
    SELECT css_count(html, 'a[href]')         -- number of matches
    SELECT css_inner_text(html)               -- body innerText
    SELECT css_main_text(html)                -- boilerplate-stripped text
    SELECT css_html(html, 'p')                -- first match outerHTML

The raw callables stay plain functions; ``pandas_udf`` wrapping happens
inside ``register_all`` on the driver — a module-level decorator would
re-evaluate on executor import, where no SparkSession exists.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd

from ..dom import innertext, serializer
from ..dom.fastparse import parse_document
from ..operators.extract import main_text
from ..selector import matcher
from ..util import _task_setup


@lru_cache(maxsize=256)
def _compiled(selector: str):
    return matcher.compile_selector(selector)


def _per_doc(fn, html: pd.Series, *args: pd.Series,
             dtype=object) -> pd.Series:
    """``fn(doc, *row_args)`` per row over the parsed ``html``; a NULL
    ``html`` gives SQL NULL.  Like ``util.map_in_arrow`` tasks, each
    batch first runs ``util._task_setup``: it drops Spark's own cached
    zip importers, so the next task's ``importlib.invalidate_caches()``
    re-reads none of them, and freezes the worker's heap, so the full
    collection after the task walks only the objects made since."""
    _task_setup()
    return pd.Series(
        [None if h is None else fn(parse_document(h), *a)
         for h, *a in zip(html, *args)], dtype=dtype)


def _at(render):
    """(doc, selector) → ``render(doc, first match)``, None if none."""
    def fn(doc, sel):
        nid = matcher.at(doc, _compiled(sel))
        return render(doc, nid) if nid != -1 else None

    return fn


def _first_attr(doc, sel, name):
    nid = matcher.at(doc, _compiled(sel))
    a = doc.attrs[nid] if nid != -1 else None
    return a.get(name) if a else None


def css_text_fn(html: pd.Series, selector: pd.Series) -> pd.Series:
    return _per_doc(_at(serializer.text_content), html, selector)


def css_count_fn(html: pd.Series, selector: pd.Series) -> pd.Series:
    return _per_doc(lambda doc, sel: len(matcher.find(doc, _compiled(sel))),
                    html, selector, dtype="Int64")


def css_html_fn(html: pd.Series, selector: pd.Series) -> pd.Series:
    return _per_doc(_at(serializer.serialize), html, selector)


def css_inner_text_fn(html: pd.Series) -> pd.Series:
    return _per_doc(lambda doc: innertext.inner_text(
        doc, doc.body_node if doc.body_node != -1 else doc.root), html)


def css_main_text_fn(html: pd.Series) -> pd.Series:
    return _per_doc(main_text, html)


def css_attr_fn(html: pd.Series, selector: pd.Series,
                name: pd.Series) -> pd.Series:
    return _per_doc(_first_attr, html, selector, name)


def register_all(spark) -> None:
    from pyspark.sql.functions import pandas_udf

    spark.udf.register("css_text", pandas_udf(css_text_fn, "string"))
    spark.udf.register("css_count", pandas_udf(css_count_fn, "long"))
    spark.udf.register("css_html", pandas_udf(css_html_fn, "string"))
    spark.udf.register("css_inner_text", pandas_udf(css_inner_text_fn, "string"))
    spark.udf.register("css_main_text", pandas_udf(css_main_text_fn, "string"))
    spark.udf.register("css_attr", pandas_udf(css_attr_fn, "string"))
