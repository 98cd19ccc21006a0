"""perl_html5_dom_spark — PySpark-native HTML5 parsing / CSS-selector
query / main-content extraction engine.

A from-scratch re-expression of the capabilities of Azq2/perl-html5-dom
(HTML5 parse → DOM → CSS Selectors L4 → serialization/innerText) as an
idiomatic Spark pipeline: the parse/match/extract kernel runs once per
distinct page of each Arrow batch (``util``: ``mapInArrow`` and Arrow
UDFs) over DataFrames of Common-Crawl-style pages,
with explicit partitioning/skew/lineage handling for 10^12-document scale.

Layout:
    dom/        core engine: tokenizer, tree constructor, serializer,
                innerText kernel, encoding sniffing, DOM facade
    selector/   CSS selector parser (compiled, broadcastable) + matcher
    operators/  Spark operators: extraction, node table, dedup,
                similarity, text analysis
    sources/    synthetic page corpus generator + readers
    functions/  registered Spark SQL functions (css_* family)
    plans/      pipeline planning: salted repartition, lineage, resume
    streaming/  Structured Streaming ingestion
"""

from .api import CSS, HTML5DOM, parse

__version__ = "0.1.0"
__all__ = ["HTML5DOM", "CSS", "parse", "__version__"]
