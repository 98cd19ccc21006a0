"""Document-parse entry: sniff and decode, then build with the one tree
builder (``treebuilder.TreeBuilder``).

``parse_document`` is the one document parse of the Spark kernels
(``operators.extract``, which re-exports it) and of the public API
(``api.HTML5DOM.parse``, hence ``api.parse``).  The module keeps its
name and the chain ``parse_document`` → ``parse`` → ``try_parse``,
each step called through a module attribute, because the benchmark's
layer spans patch and count these functions by name
(``perfbench/spans.py``).  ``try_parse`` never declines a document, so
the benchmark's ``fastparse.bail_ratio`` reads 0.
"""

from __future__ import annotations

from . import encoding as _enc
from . import treebuilder
from .document import Document


def try_parse(src: str) -> Document:
    """Build ``src`` with the tree builder at its default options."""
    return treebuilder.TreeBuilder().parse(src)


def parse(src: str) -> Document:
    """Parse a full document string (WHATWG tree construction)."""
    return try_parse(src)


def parse_document(html, build=None, **sniff) -> Document:
    """bytes|str → Document: ``encoding.sniff_and_decode(html, **sniff)``
    (reference utils.c:620-649 semantics), then ``build(text)`` —
    :func:`parse` unless given — with the sniffed encoding recorded on
    the document.  Both calls go through module attributes, so a tracer
    that patches ``encoding.sniff_and_decode`` or ``fastparse.parse``
    sees them."""
    name, text = _enc.sniff_and_decode(html, **sniff)
    doc = (build or parse)(text)
    doc.encoding = name
    return doc
