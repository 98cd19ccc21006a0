"""Top-level parser API (HTML5::DOM analog).

The reference's entry point is ``HTML5::DOM->new(\\%opts)->parse($html)``
(/root/reference/DOM.xs:934-971). Here: ``HTML5DOM(**opts).parse(html)``.
Accepts str or bytes; bytes go through the encoding sniffing pipeline
(meta prescan → BOM → heuristic → default, utils.c:620-649).

Every document, fragment and chunked parse builds with the one tree
builder, the insertion-mode machine ``dom.treebuilder.TreeBuilder``.
``parse`` runs ``dom.fastparse.parse_document`` — the same sniff-then-
build sequence the Spark extraction kernel runs.
"""

from __future__ import annotations

from .dom import encoding as _enc
from .dom import fastparse
from .dom.node import Collection, Element, Fragment, Node, TokenList, Tree, _wrap
from .dom.treebuilder import TreeBuilder
from .selector.parser import SelectorList, parse_selector


class HTML5DOM:
    def __init__(
        self,
        encoding: str | None = None,
        default_encoding: str = "UTF-8",
        encoding_use_meta: bool = True,
        encoding_use_bom: bool = True,
        encoding_prescan_limit: int = _enc.PRESCAN_LIMIT,
        scripts: bool = True,
        ignore_whitespace: bool = False,
        ignore_doctype: bool = False,
    ) -> None:
        self.encoding = encoding
        self.default_encoding = default_encoding
        self.encoding_use_meta = encoding_use_meta
        self.encoding_use_bom = encoding_use_bom
        self.encoding_prescan_limit = encoding_prescan_limit
        #: parser options (reference DOM.pod:3234-3244): scripts=1 means
        #: <noscript> contents become one text node; ignore_whitespace
        #: drops whitespace-only text tokens; ignore_doctype drops the
        #: doctype token (document stays quirks, no doctype node).  Only
        #: the ones that differ from TreeBuilder's defaults are kept.
        self._tb_opts: dict = {}
        if not scripts:
            self._tb_opts["scripts"] = False
        if ignore_whitespace:
            self._tb_opts["ignore_whitespace"] = True
        if ignore_doctype:
            self._tb_opts["ignore_doctype"] = True

    def _sniff(self, encoding: str | None) -> dict:
        """Keyword arguments of ``encoding.sniff_and_decode``."""
        return dict(
            encoding=encoding or self.encoding,
            default_encoding=self.default_encoding,
            use_meta=self.encoding_use_meta,
            use_bom=self.encoding_use_bom,
            prescan_limit=self.encoding_prescan_limit,
        )

    def _decode(self, html, encoding: str | None = None) -> tuple[str, str]:
        return _enc.sniff_and_decode(html, **self._sniff(encoding))

    def parse(self, html, encoding: str | None = None) -> Tree:
        """Decode ``html`` and build its tree (``fastparse.parse_document``).
        With the default tree options the build is ``fastparse.parse``,
        the call the Spark kernels make; other options get a
        ``TreeBuilder`` of their own."""
        build = TreeBuilder(**self._tb_opts).parse if self._tb_opts else None
        return Tree(fastparse.parse_document(
            html, build, **self._sniff(encoding)))

    def parseFragment(self, html, tag: str = "div",
                      encoding: str | None = None) -> Fragment:
        enc, text = self._decode(html, encoding)
        doc, frag = TreeBuilder(**self._tb_opts).parse_fragment(text, tag)
        doc.encoding = enc
        return _wrap(Tree(doc), frag)

    def parseChunkStart(self) -> "ChunkedParse":
        """Begin a chunked parse (reference DOM.xs:814-931). Chunks are
        decoded with the parser's explicit/default encoding (no sniffing
        across chunk boundaries)."""
        return ChunkedParse(self)


class ChunkedParse:
    """parseChunk / parseChunkTree / parseChunkEnd chain."""

    def __init__(self, parser: "HTML5DOM") -> None:
        from .dom.chunked import ChunkedParser

        self._parser = parser
        self._cp = ChunkedParser()
        name = parser.encoding or parser.default_encoding
        self._codec = _enc.python_codec(name) or "utf-8"
        self._name = name

    def parseChunk(self, chunk) -> "ChunkedParse":
        if isinstance(chunk, bytes):
            chunk = chunk.decode(self._codec, "replace")
        self._cp.parse_chunk(chunk)
        return self

    def parseChunkTree(self) -> Tree:
        doc = self._cp.tree()
        doc.encoding = self._name
        return Tree(doc)

    def parseChunkEnd(self) -> Tree:
        doc = self._cp.end()
        doc.encoding = self._name
        return Tree(doc)


def parse(html, **opts) -> Tree:
    return HTML5DOM(**opts).parse(html)


class CSS:
    """HTML5::DOM::CSS analog — selector compiler handle."""

    def parseSelector(self, text: str) -> SelectorList:
        return parse_selector(text)

    @staticmethod
    def new() -> "CSS":
        return CSS()


__all__ = [
    "HTML5DOM", "parse", "CSS", "Tree", "Node", "Element", "Collection",
    "TokenList", "SelectorList", "parse_selector",
]
