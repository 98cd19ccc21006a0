"""In-memory span tracer and the per-layer timing of single documents.

Spans are recorded from the benchmark's side only: for the duration of a
traced call, the public functions of each layer module are replaced by
thin wrappers that open a span, call the original and close the span
(``patched``); the program's files are untouched.  A span is
``(name, start_ns, end_ns, parent)``, where ``parent`` is the index of
the enclosing span or -1.
"""

from __future__ import annotations

import contextlib
import time

_clock = time.perf_counter_ns


class Tracer:
    def __init__(self) -> None:
        self.spans: list = []   # [name, start, end, parent]
        self._stack: list = []
        self.counts: dict = {}

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [name, _clock(), 0, parent]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[2] = _clock()
            self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, name: str, fn):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def totals(self) -> dict:
        """name -> (count, total ns, self ns)."""
        total, child, count = {}, {}, {}
        for name, s, e, parent in self.spans:
            d = e - s
            total[name] = total.get(name, 0) + d
            count[name] = count.get(name, 0) + 1
            if parent >= 0:
                pname = self.spans[parent][0]
                child[pname] = child.get(pname, 0) + d
            else:
                child.setdefault(name, 0)
        return {n: (count[n], total[n], total[n] - child.get(n, 0))
                for n in total}


def empty_span_ns(n: int = 20000) -> float:
    """Mean cost of opening and closing one span around nothing."""
    tr = Tracer()
    t0 = _clock()
    for _ in range(n):
        with tr.span("empty"):
            pass
    return (_clock() - t0) / n


@contextlib.contextmanager
def patched(targets):
    """Temporarily set ``setattr(obj, attr, value)`` for each triple."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _v in targets]
    try:
        for obj, attr, value in targets:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in reversed(saved):
            setattr(obj, attr, value)


def _html_targets(tr: Tracer):
    """Wrappers around the HTML layers' public functions, as reached from
    ``extract_one`` and from the ``api`` library path."""
    from perl_html5_dom_spark.dom import encoding, fastparse, innertext
    from perl_html5_dom_spark.dom import serializer
    from perl_html5_dom_spark.dom.treebuilder import TreeBuilder
    from perl_html5_dom_spark.operators import extract
    from perl_html5_dom_spark.selector import matcher

    try_parse = fastparse.try_parse

    def counted_try_parse(src):
        doc = try_parse(src)
        tr.count("fastparse.try_parse")
        if doc is None:
            tr.count("fastparse.bail")
        return doc

    return [
        (encoding, "sniff_and_decode",
         tr.wrap("encoding.sniff", encoding.sniff_and_decode)),
        (fastparse, "try_parse", counted_try_parse),
        (fastparse, "parse", tr.wrap("fastparse.parse", fastparse.parse)),
        (TreeBuilder, "parse",
         tr.wrap("treebuilder.parse", TreeBuilder.parse)),
        (matcher, "find", tr.wrap("selector.find", matcher.find)),
        (extract, "main_text",
         tr.wrap("extract.main_text", extract.main_text)),
        (innertext, "inner_text",
         tr.wrap("innertext.inner_text", innertext.inner_text)),
        (serializer, "serialize",
         tr.wrap("serializer.serialize", serializer.serialize)),
    ]


HTML_FIELDS = ("main_text", "inner_text", "spans")


def _pdf_targets(tr: Tracer):
    from perl_html5_dom_spark.dom import pdf

    cls = pdf.PdfParser
    return [
        (pdf, "PdfParser", tr.wrap("pdf.open", cls)),
        (cls, "pages", tr.wrap("pdf.pages", cls.pages)),
        (cls, "page_content", tr.wrap("pdf.content", cls.page_content)),
    ]


def primary_loop(kind: str, docs: list, tr: Tracer | None = None) -> list:
    """Run one workload kind's per-document call over ``docs``, with the
    layer wrappers installed when ``tr`` is given; returns the outputs.

    * ``html``: ``extract.extract_one`` — its span splits into sniff,
      fast-lane parse, find, main_text, inner_text and glue;
    * ``library``: ``HTML5DOM().parse`` → ``find("a[href]")`` →
      ``body().innerText()`` → ``body().html()`` on (url, html) pairs;
    * ``pdf``: ``extract_pdf_text`` — open (``PdfParser(data)``), page
      tree (``.pages()``), content streams (``.page_content``); the
      remainder is layout assembly."""
    from perl_html5_dom_spark.api import HTML5DOM
    from perl_html5_dom_spark.dom import pdf
    from perl_html5_dom_spark.operators import extract
    from perl_html5_dom_spark.selector import matcher

    name = {"html": "extract.extract_one", "library": "library.call",
            "pdf": "pdf.extract"}[kind]
    if tr is None:
        targets = []

        def span(_name):
            return contextlib.nullcontext()
    else:
        targets = _pdf_targets(tr) if kind == "pdf" else _html_targets(tr)
        span = tr.span
    sel = matcher.compile_selector("a[href]")
    out = []
    with patched(targets):
        for doc in docs:
            with span(name):
                if kind == "html":
                    out.append(extract.extract_one(doc, sel, HTML_FIELDS))
                elif kind == "pdf":
                    out.append(pdf.extract_pdf_text(doc))
                else:
                    url, html = doc
                    body_html, n_links = library_call(HTML5DOM, html)
                    out.append({"url": url, "body_html": body_html,
                                "n_links": n_links})
    return out


def library_call(parser_cls, html: bytes):
    tree = parser_cls().parse(html)
    links = tree.find("a[href]")
    body = tree.body()
    body.innerText()
    return body.html(), len(links)


def standalone_html(tr: Tracer, docs: list) -> None:
    """The HTML layers ``extract_one`` does not reach — tokenizer drain,
    the full tree builder, the serializer — run alone on ``docs``."""
    from perl_html5_dom_spark.dom import encoding
    from perl_html5_dom_spark.dom.tokenizer import Tokenizer
    from perl_html5_dom_spark.dom.treebuilder import TreeBuilder
    from perl_html5_dom_spark.dom import serializer

    texts = [encoding.sniff_and_decode(h)[1] for h in docs]
    with patched(_html_targets(tr)):
        for text in texts:
            with tr.span("tokenizer.tokenize"):
                tok = Tokenizer(text)
                while tok.next_token()[0] != "eof":
                    pass
            doc = TreeBuilder().parse(text)
            serializer.serialize(doc, doc.root)
