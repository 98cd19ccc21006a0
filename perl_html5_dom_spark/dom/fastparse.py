"""Optimistic fast-lane tree builder.

The full insertion-mode state machine (treebuilder.py) spends most of
its time dispatching per-token through mode handlers that exist for
cases the common crawl page never hits (tables, templates, framesets,
foreign content, adoption agency).  This module parses the common shape
directly with a plain element stack and **bails out** — raising
``_Bail`` — the moment anything appears whose semantics could diverge
from the spec machine:

  * any tag outside the simple vocabulary (forms, template, select,
    pre, textarea, frames, ...),
  * the adoption agency's inner loop (a furthest block below the
    formatting element), repeated <a>/<nobr>, Noah's-ark duplicates —
    the no-furthest-block AAA shortcut IS handled,
  * foreign-content breakout tags and island-crossing end tags
    (SVG/MathML islands with integration points ARE handled),
  * reconstruction at a foster position (plain fostered table text,
    caption and colgroup ARE handled),
  * anything unusual around the document frame (quirky doctype,
    re-entering head after </head>, text after </body>) — implied
    html/head/body and whitespace between </head> and <body> ARE
    handled.

  Implicit closes crossing open formatting elements are handled
  spec-faithfully: the active-formatting list keeps the entry and the
  element is RECONSTRUCTED at the next text/phrasing insertion (WHATWG
  "reconstruct the active formatting elements"), with markers at table
  cells; well-formed tables parse via a dedicated sub-parser.

``parse`` falls back to the full TreeBuilder on bail, so the result is
ALWAYS spec-identical; the differential test (tests/test_fastparse.py)
asserts tree equality between the two lanes on every input it can
generate, the ``fostered``/``misnested`` document flags included.
Tokenization is shared — positions, entities and raw-text handling are
byte-identical by construction.

Callers: ``parse_document`` (sniff and decode, then build) is the one
document parse of the Spark kernels (``operators.extract``, which
re-exports it) and of the public API (``api.HTML5DOM.parse``, hence
``api.parse``).  It builds through ``parse`` unless the API passes a
``TreeBuilder`` for non-default tree options; fragments and chunked
parsing go to the full machine directly.  This module does not import
``treebuilder`` until a document bails.
"""

from __future__ import annotations

from . import encoding as _enc
from .constants import (
    BLOCK_START,
    FOREIGN_BREAKOUT,
    FORMATTING_TAGS,
    HEADING_TAGS,
    IMPLIED_END_TAGS_THOROUGH,
    MATHML_TEXT_INTEGRATION,
    NS_HTML,
    NS_MATHML,
    NS_SVG,
    SPECIAL_HTML,
    SVG_TAG_ADJUSTMENTS,
    VOID_TAGS,
    adjust_foreign_attrs,
)
from .document import NULL, Document
from .tokenizer import Tokenizer

_WS = "\t\n\x0c\r "


class _Bail(Exception):
    pass


#: head-only elements handled in the fast lane
_HEAD_VOID = frozenset(("base", "basefont", "bgsound", "link", "meta"))
_RAWTEXT_MODES = {
    "title": "rcdata",
    "style": "rawtext",
    "noframes": "rawtext",
    "noscript": "rawtext",
    "script": "script",
}

#: body start tags the fast lane accepts, by treatment
_PHRASING = frozenset(
    """span abbr cite dfn kbd mark q sub sup time var bdi bdo data del
    ins samp output label wbr menuitem""".split()
)
_BODY_VOID = frozenset(
    ("br", "img", "wbr", "area", "embed", "keygen", "hr", "input"))
_LIST_ITEM = frozenset(("li",))
_DD_DT = frozenset(("dd", "dt"))
_IMPLIED = frozenset(("dd", "dt", "li", "p"))

_OK_BODY_START = (
    BLOCK_START | HEADING_TAGS | FORMATTING_TAGS | _PHRASING | _BODY_VOID
    | _LIST_ITEM | _DD_DT | _HEAD_VOID | frozenset(_RAWTEXT_MODES)
)

# elements that terminate the li / dd-dt backward search: the spec's
# SPECIAL set minus its address/div/p exception.  Derived from the full
# machine's constant so the two lanes cannot drift (a hand-rolled copy
# previously missed button/select/textarea and wrongly held dialog —
# caught by the mixed-alphabet differential fuzz)
_LI_STOP = frozenset(SPECIAL_HTML) - {"address", "div", "p"}

#: "has an element in scope" boundaries present in the fast vocabulary
#: (WHATWG scope list: html, table, td, th, + others we bail on) — walks
#: for p/heading/block end tags must not cross these
_SCOPE_STOP = frozenset(("html", "table", "td", "th", "template",
                         "marquee", "object", "applet"))
#: "button scope" adds button (the </p> / close-a-p boundary set)
_P_SCOPE_STOP = _SCOPE_STOP | frozenset(("button",))
_TABLE_SECTIONS = frozenset(("thead", "tbody", "tfoot"))
#: start tags that close an open cell ("in cell" spec list; table is NOT
#: among them — a nested <table> stays inside the cell)
_CELL_CLOSERS = frozenset(
    ("td", "th", "tr", "caption", "col", "colgroup")) | _TABLE_SECTIONS

#: "special" elements (any-other-end-tag rule; also the AAA
#: furthest-block test) — the full machine's spec set verbatim, so the
#: two lanes cannot drift
_SPECIAL = frozenset(SPECIAL_HTML)


#: HTML start tags accepted inside island integration points (simple,
#: AFE-free subset: no formatting/rawtext/table/list-implied machinery)
_ISLAND_HTML_OK = BLOCK_START | HEADING_TAGS | _PHRASING | _BODY_VOID

#: active-formatting-list marker (cell boundaries), like the full machine
_MARKER = ("MARKER",)


class _Fast:
    __slots__ = ("doc", "tok", "stack", "tags", "open_fmt", "phase", "_L",
                 "form")

    def __init__(self, src: str) -> None:
        self.doc = Document()
        self.tok = Tokenizer(src)
        self.stack: list[int] = []     # node ids
        self.tags: list[str] = []      # parallel tag names
        #: active formatting list: [tag, token_attrs, on_stack] entries
        #: (insertion order) plus _MARKER sentinels at cell boundaries —
        #: the fast-lane twin of the full machine's afe
        self.open_fmt: list = []
        self.form: int | None = None   # the form element pointer
        d = self.doc
        # cached struct-of-array refs: node allocation is the fast lane's
        # hottest call — append inline, no Document method hops
        self._L = (
            d.parent, d.first_child, d.last_child, d.next_sib, d.prev_sib,
            d.tag, d.ns, d.node_type, d.text, d.attrs, d.self_closed,
            d.raw_begin, d.raw_length, d.elem_begin, d.elem_length,
        )

    # -- tree helpers ---------------------------------------------------

    def _el(self, token, tag=None) -> int:
        (parent, first, last, nxt, prv, tags, nss, types, texts, attrss,
         sc, rb, rl, eb, el) = self._L
        nid = len(tags)
        parent.append(NULL)
        first.append(NULL)
        last.append(NULL)
        nxt.append(NULL)
        prv.append(NULL)
        nss.append(NS_HTML)
        types.append(1)                # ELEMENT_NODE
        texts.append(None)
        if token is not None:
            tags.append(tag or token[1])
            attrss.append(dict(token[2]) if token[2] else None)
            sc.append(bool(token[3]))
            if len(token) >= 8:
                rb.append(token[4])
                rl.append(token[5])
                eb.append(token[6])
                el.append(token[7])
            else:
                rb.append(0)
                rl.append(0)
                eb.append(0)
                el.append(0)
        else:
            tags.append(tag)
            attrss.append(None)
            sc.append(False)
            rb.append(0)
            rl.append(0)
            eb.append(0)
            el.append(0)
        self.doc._dirty = True
        return nid

    def _append(self, nid: int) -> None:
        self.doc.append_child(self.stack[-1], nid)

    def _push(self, token, tag=None) -> int:
        nid = self._el(token, tag)
        self._append(nid)
        self.stack.append(nid)
        self.tags.append(tag or token[1])
        return nid

    def _text(self, text: str, parent: int | None = None) -> None:
        if not text:
            return
        doc = self.doc
        p = self.stack[-1] if parent is None else parent
        prev = doc.last_child[p]
        if prev != NULL and doc.node_type[prev] == 3:
            doc.text[prev] = (doc.text[prev] or "") + text
            return
        (par, first, last, nxt, prv, tags, nss, types, texts, attrss,
         sc, rb, rl, eb, el) = self._L
        nid = len(tags)
        par.append(NULL)
        first.append(NULL)
        last.append(NULL)
        nxt.append(NULL)
        prv.append(NULL)
        tags.append("-text")
        nss.append(NS_HTML)
        types.append(3)                # TEXT_NODE
        texts.append(text)
        attrss.append(None)
        sc.append(False)
        rb.append(0)
        rl.append(0)
        eb.append(0)
        el.append(0)
        doc._dirty = True
        doc.append_child(p, nid)

    def _comment(self, token, parent: int | None = None) -> None:
        doc = self.doc
        nid = doc.new_comment(token[1])
        if len(token) >= 6:
            doc.raw_begin[nid] = token[2]
            doc.raw_length[nid] = token[3]
            doc.elem_begin[nid] = token[4]
            doc.elem_length[nid] = token[5]
        doc.append_child(self.stack[-1] if parent is None else parent, nid)

    def _pop(self) -> str:
        """Pop + REMOVE a formatting element from the AFE (the spec's
        matched-close / clear-to-marker removal)."""
        self.stack.pop()
        t = self.tags.pop()
        if t in FORMATTING_TAGS:
            for i in range(len(self.open_fmt) - 1, -1, -1):
                e = self.open_fmt[i]
                if e is not _MARKER and e[0] == t and e[2]:
                    del self.open_fmt[i]
                    return t
            raise _Bail            # AFE out of sync: slow lane
        return t

    def _pop_implicit(self) -> str:
        """Pop during implied-end handling.  A formatting element popped
        this way STAYS in the active formatting list (the spec machine
        reconstructs it at the next text/phrasing insertion) — mark its
        entry off-stack instead of removing it."""
        t = self.tags[-1]
        if t in FORMATTING_TAGS:
            for i in range(len(self.open_fmt) - 1, -1, -1):
                e = self.open_fmt[i]
                if e is not _MARKER and e[0] == t and e[2]:
                    e[2] = False
                    self.stack.pop()
                    self.tags.pop()
                    return t
            raise _Bail            # AFE out of sync: slow lane
        return self._pop()

    def _afe_tail(self):
        """AFE entries after the last marker (spec scope of the Noah's
        ark / <a>-duplicate checks and of reconstruction)."""
        out = []
        for e in reversed(self.open_fmt):
            if e is _MARKER:
                break
            out.append(e)
        return out

    def _reconstruct(self) -> None:
        """Re-open off-stack AFE entries in order (WHATWG 'reconstruct
        the active formatting elements'; full machine treebuilder.py
        _reconstruct_afe) — new position-less elements with the original
        token's attributes, exactly like the spec machine."""
        fmt = self.open_fmt
        if not fmt:
            return
        last = fmt[-1]
        if last is _MARKER or last[2]:
            return
        i = len(fmt) - 1
        while i > 0:
            i -= 1
            e = fmt[i]
            if e is _MARKER or e[2]:
                i += 1
                break
        doc = self.doc
        doc.misnested = True
        while i < len(fmt):
            e = fmt[i]
            nid = doc.new_element(e[0], NS_HTML,
                                  dict(e[1]) if e[1] else None)
            self._append(nid)
            self.stack.append(nid)
            self.tags.append(e[0])
            e[2] = True
            i += 1

    def _pop_until(self, tag: str) -> None:
        while True:
            if self.tags[-1] == tag:
                self._pop()
                return
            self._pop_implicit()

    def _close_p(self) -> None:
        # "close a p element in BUTTON scope": the walk stops at scope
        # boundaries (a p outside an enclosing table cell or button
        # stays open)
        for t in reversed(self.tags):
            if t == "p":
                self._pop_until("p")
                return
            if t in _P_SCOPE_STOP:
                return

    def _rawtext(self, token) -> None:
        tag = token[1]
        self._push(token)
        self.tok.set_rawtext(tag, _RAWTEXT_MODES[tag])
        t = self.tok.next_token()
        if t[0] == "char":
            self._text(t[1])
            t = self.tok.next_token()
        # eof or the matching end tag both just close the element
        if t[0] not in ("end", "eof"):
            raise _Bail
        self.stack.pop()
        self.tags.pop()

    # -- main -----------------------------------------------------------

    def run(self) -> Document:
        doc = self.doc
        tok = self.tok
        next_token = tok.next_token

        # ---- initial / before html ----
        token = next_token()
        while token[0] == "comment":
            self._comment(token, parent=doc.root)
            token = next_token()
        if token[0] == "doctype":
            name, public, system, fq = token[1], token[2], token[3], token[4]
            if fq or name != "html" or public is not None or system is not None:
                raise _Bail
            nid = doc.new_doctype(name, public, system)
            doc.append_child(doc.root, nid)
            doc.doctype_node = nid
            token = next_token()
        else:
            doc.quirks = True
        # "before html": comments -> document, whitespace ignored,
        # stray end tags (other than head/body/html/br) ignored; any
        # other token implies <html> and is reprocessed in "before head"
        while True:
            if token[0] == "comment":
                self._comment(token, parent=doc.root)
            elif token[0] == "char":
                stripped = token[1].lstrip(_WS)
                if stripped:
                    token = ("char", stripped)   # ws before <html> dropped
                    break
            elif token[0] == "end" and token[1] not in (
                    "head", "body", "html", "br"):
                pass                  # parse error: ignore
            else:
                break
            token = next_token()
        if token[0] == "start" and token[1] == "html":
            html = self._el(token)
            token = next_token()
        else:
            html = self._el(None, "html")   # implied, position-less
            # token reprocessed below in "before head"
        doc.append_child(doc.root, html)
        doc.html_node = html
        self.stack.append(html)
        self.tags.append("html")

        # ---- before head ----
        # comments -> html, whitespace ignored (NOT inserted), stray end
        # tags ignored; anything else implies/opens <head>
        while True:
            if token[0] == "comment":
                self._comment(token)
            elif token[0] == "char":
                stripped = token[1].lstrip(_WS)
                if stripped:
                    token = ("char", stripped)   # before-head ws dropped
                    break
            elif token[0] == "end" and token[1] not in (
                    "head", "body", "html", "br"):
                pass                  # parse error: ignore
            else:
                break
            token = next_token()
        if token[0] == "start" and token[1] == "head":
            head = self._push(token)
        else:
            head = self._push(None, "head")
            # token reprocessed below in head
        doc.head_node = head

        # ---- in head ----
        if not (token[0] == "start" and token[1] == "head"):
            pending: tuple | None = token
        else:
            pending = None
        while True:
            token = pending if pending is not None else next_token()
            pending = None
            tt = token[0]
            if tt == "char":
                ws = token[1]
                stripped = ws.lstrip(_WS)
                if stripped:
                    lead = ws[: len(ws) - len(stripped)]
                    if lead:
                        self._text(lead)   # ws stays in head
                    self._pop()            # implied </head>
                    pending = ("char", stripped)
                    break
                self._text(ws)
                continue
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "start":
                tag = token[1]
                if tag == "head":
                    continue          # parse error: ignore
                if tag == "template":
                    self._template(token)
                    continue
                if tag in _HEAD_VOID:
                    nid = self._el(token)
                    self._append(nid)
                    continue
                if tag in _RAWTEXT_MODES:
                    self._rawtext(token)
                    continue
                # implied </head>
                self._pop()           # head
                pending = token
                break
            if tt == "end":
                if token[1] == "head":
                    self._pop()
                    break
                if token[1] in ("body", "html", "br"):
                    self._pop()
                    pending = token
                    break
                continue              # ignored end tag
            if tt == "eof":
                self._pop()           # head-only document: implied body
                pending = token
                break
            raise _Bail

        # ---- after head ----
        while True:
            token = pending if pending is not None else next_token()
            pending = None
            tt = token[0]
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "char":
                ws = token[1]
                stripped = ws.lstrip(_WS)
                lead = ws[: len(ws) - len(stripped)]
                if lead:
                    self._text(lead)  # after-head ws: text child of html
                if stripped:          # non-ws implies <body>
                    body = self._push(None, "body")
                    pending = ("char", stripped)
                    break
                continue
            if tt == "start" and token[1] == "body":
                body = self._push(token)
                break
            if tt == "start" and token[1] in (
                    _HEAD_VOID | set(_RAWTEXT_MODES) | {"template"}):
                raise _Bail           # re-enter head / html-child template
            if tt == "end" and token[1] not in ("body", "html", "br"):
                continue              # parse error: ignore
            # implied <body>
            body = self._push(None, "body")
            pending = token
            break
        doc.body_node = body

        # ---- in body ----
        while True:
            token = pending if pending is not None else next_token()
            pending = None
            tt = token[0]
            if tt == "char":
                if self.open_fmt:     # in-body char tokens reconstruct
                    self._reconstruct()
                self._text(token[1])
                continue
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "start":
                self._body_start(token)
                continue
            if tt == "end":
                tag = token[1]
                if tag == "body" or tag == "html":
                    # spec: ignore </body>/</html> when body is NOT in
                    # scope (an open marker container — applet/marquee/
                    # object/template — or table part boxes it out)
                    in_scope = False
                    for t in reversed(self.tags):
                        if t == "body":
                            in_scope = True
                            break
                        if t in _SCOPE_STOP:
                            break
                    if not in_scope:
                        continue
                    # spec </body> leaves the tree untouched (unclosed
                    # elements stay open); _after_body bails on ANY char
                    # token, so open/pending formatting can never
                    # reconstruct after this point
                    self._after_body(next_token, saw_html_end=(tag == "html"))
                    return doc
                self._body_end(tag)
                continue
            if tt == "eof":
                return doc
            raise _Bail

    # -- body handlers ----------------------------------------------------

    def _body_start(self, token) -> None:
        tag = token[1]
        if tag == "table":
            self._table(token)
            return
        if tag in ("svg", "math"):
            self._island(token)
            return
        if tag == "select":
            self._select(token)
            return
        if tag == "template":
            self._template(token)
            return
        if tag in ("marquee", "object", "applet"):
            # in-body: reconstruct, insert, push an AFE marker — the
            # marker makes the element an AAA/reconstruction boundary
            if self.open_fmt:
                self._reconstruct()
            self._push(token)
            self.open_fmt.append(_MARKER)
            return
        if tag == "form":
            # spec: ignore only when the pointer is set AND no template
            # is on the stack; with a template open the form is always
            # inserted and the pointer is NOT set
            if "template" in self.tags:
                self._close_p()
                self._push(token)
                return
            if self.form is not None:
                return
            self._close_p()
            self.form = self._push(token)
            return
        if tag == "button":
            # close an open button in scope, then reconstruct + insert
            for t in reversed(self.tags):
                if t == "button":
                    while self.tags[-1] in _IMPLIED:
                        self._pop_implicit()
                    self._pop_until("button")
                    break
                if t in _SCOPE_STOP:
                    break
            if self.open_fmt:
                self._reconstruct()
            self._push(token)
            return
        if tag == "textarea":
            # rcdata content, single leading U+000A skipped
            self._push(token)
            self.tok.set_rawtext("textarea", "rcdata")
            t = self.tok.next_token()
            if t[0] == "char":
                txt = t[1][1:] if t[1].startswith("\n") else t[1]
                self._text(txt)
                t = self.tok.next_token()
            if t[0] not in ("end", "eof"):
                raise _Bail
            self.stack.pop()
            self.tags.pop()
            return
        if tag in ("pre", "listing"):
            self._close_p()
            self._push(token)
            # spec: skip a single U+000A right after <pre>/<listing>
            t = self.tok.next_token()
            if t[0] == "char":
                txt = t[1]
                if txt.startswith("\n"):
                    txt = txt[1:]
                if txt:
                    if self.open_fmt:
                        self._reconstruct()
                    self._text(txt)
                return
            if t[0] == "comment":
                self._comment(t)
                return
            if t[0] == "start":
                self._body_start(t)
                return
            if t[0] == "end" and t[1] not in (
                # container-closing end tags belong to the ENCLOSING
                # loop (template/cell/caption), which this lookahead
                # bypasses — bail to the slow lane (round-4 fuzz find:
                # <template><pre></template> kept the template open)
                "body", "html", "template", "caption", "table",
                "td", "th", "tr", "tbody", "thead", "tfoot", "colgroup",
            ):
                self._body_end(t[1])
                return
            raise _Bail               # eof / </body> / container close
        if tag not in _OK_BODY_START:
            raise _Bail
        if tag in BLOCK_START:
            self._close_p()
            self._push(token)
            return
        if tag in HEADING_TAGS:
            self._close_p()
            if self.tags[-1] in HEADING_TAGS:
                self._pop()
            self._push(token)
            return
        if tag == "li" or tag in _DD_DT:
            group = ("li",) if tag == "li" else ("dd", "dt")
            for t in reversed(self.tags):
                if t in group:
                    self._pop_until(t)
                    break
                if t in _LI_STOP:
                    break
            self._close_p()
            self._push(token)
            return
        if tag in FORMATTING_TAGS:
            tail = self._afe_tail()
            if tag == "a" and any(e[0] == "a" for e in tail):
                # spec: run the adoption agency for "a" BEFORE inserting.
                # AAA fast case: the old <a> is in the AFE but no longer
                # on the stack -> just remove its entry; anything else
                # (old <a> still open) is real adoption agency
                for e in reversed(tail):
                    if e[0] == "a":
                        if e[2]:
                            raise _Bail   # adoption agency
                        self.open_fmt.remove(e)
                        self.doc.misnested = True
                        break
            elif tag == "nobr" and any(e[0] == "nobr" for e in tail):
                # spec reconstructs FIRST (re-opening a pending nobr),
                # then runs AAA when nobr is in scope — either way the
                # full machine must handle it
                raise _Bail           # adoption agency
            if sum(1 for e in tail if e[0] == tag) >= 3:
                raise _Bail           # Noah's ark
            self._reconstruct()
            self._push(token)
            self.open_fmt.append([tag, token[2], True])
            return
        if tag == "hr":
            self._close_p()
            nid = self._el(token)
            self._append(nid)
            return
        if tag in _BODY_VOID:
            # br/img/wbr/area/embed/keygen reconstruct (WHATWG in body)
            if self.open_fmt:
                self._reconstruct()
            nid = self._el(token)
            self._append(nid)
            return
        if tag in _HEAD_VOID:
            nid = self._el(token)   # in-head rules: no reconstruction
            self._append(nid)
            return
        if tag in _RAWTEXT_MODES:
            self._rawtext(token)    # in-head rules: no reconstruction
            return
        # phrasing ("any other start tag": reconstruct, insert)
        if self.open_fmt:
            self._reconstruct()
        self._push(token)

    # -- tables (the well-formed subset; anything else bails) -----------
    #
    # Handled: implied <tbody> before <tr>, implied <tbody><tr> before a
    # cell, unclosed cells/rows/sections, whitespace text between table
    # parts, comments, nested tables inside cells, quirks-mode <p> kept
    # open around the table.  Bails on: non-whitespace table text
    # (foster parenting), caption/col/colgroup/form/script/style inside
    # table context, mismatched cell end tags, EOF inside the table.
    # Cell content runs the normal body handlers — their p/heading/
    # block/li walks stop at the td/th/table scope boundaries above, and
    # closing a cell plain-pops its leftovers (the spec clears the
    # active-formatting list to the cell's marker, which a plain stack
    # pop reproduces).

    def _foster_text(self, text: str, table_nid: int) -> None:
        """WHATWG foster parenting for table character tokens: insert
        BEFORE the table element in its parent, merging with an existing
        previous-sibling text node.  Only reached with an empty active
        formatting list (reconstruction into a foster position bails)."""
        doc = self.doc
        doc.fostered = True
        prev = doc.prev_sib[table_nid]
        if prev != NULL and doc.node_type[prev] == 3:
            doc.text[prev] = (doc.text[prev] or "") + text
            return
        nid = doc.new_text(text)
        doc.insert_before(table_nid, nid)

    def _table(self, token) -> None:
        if not self.doc.quirks:
            self._close_p()           # spec skips the close in quirks mode
        table_nid = self._push(token)  # table
        next_token = self.tok.next_token
        pending: tuple | None = None
        while True:
            token = pending if pending is not None else next_token()
            pending = None
            tt = token[0]
            cur = self.tags[-1]
            if tt == "char":
                # spec "in table text": buffer the whole character-token
                # run; whitespace-only stays in the table, otherwise the
                # ENTIRE run (whitespace included) is foster-parented
                buf = [token[1]]
                token = next_token()
                while token[0] == "char":
                    buf.append(token[1])
                    token = next_token()
                s = "".join(buf)
                if s.lstrip(_WS):
                    if self.open_fmt or cur not in (
                            "table", "tr") and cur not in _TABLE_SECTIONS:
                        raise _Bail   # reconstruction at foster position /
                        # text inside colgroup: slow lane
                    self._foster_text(s, table_nid)
                else:
                    self._text(s)
                pending = token       # reprocess the run terminator
                continue
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "start":
                tag = token[1]
                if tag in _TABLE_SECTIONS:
                    if cur != "table":
                        while self.tags[-1] != "table":
                            self._pop()   # implied close of tr/section
                    self._push(token)
                    continue
                if tag == "tr":
                    if cur == "table":
                        self._push(None, "tbody")
                    elif cur == "tr":
                        self._pop()
                    elif cur not in _TABLE_SECTIONS:
                        raise _Bail
                    self._push(token)
                    continue
                if tag in ("td", "th"):
                    if cur == "table":
                        self._push(None, "tbody")
                        self._push(None, "tr")
                    elif cur in _TABLE_SECTIONS:
                        self._push(None, "tr")
                    elif cur != "tr":
                        raise _Bail
                    self._push(token)
                    pending = self._cell(next_token)
                    continue
                if tag == "caption":
                    # spec "in table" caption: clear the stack back to a
                    # table context, push an AFE marker, insert caption,
                    # switch to "in caption"
                    while self.tags[-1] != "table":
                        self._pop()
                    self.open_fmt.append(_MARKER)
                    self._push(token)
                    pending = self._caption(next_token)
                    continue
                if tag == "select":
                    # in-table anything-else: in-body rules with foster
                    # parenting -> select lands before the table, mode
                    # "in select in table"
                    if self.open_fmt:
                        raise _Bail   # reconstruction at foster position
                    pending = self._select(token,
                                           foster_table_nid=table_nid)
                    continue
                if tag in ("col", "colgroup"):
                    if cur != "table":
                        raise _Bail   # col after tbody/tr: rare reshuffle
                    if tag == "colgroup":
                        self._push(token)
                    else:             # bare <col>: synthesize the group
                        self._push(None, "colgroup")
                        nid = self._el(token)
                        self._append(nid)
                    pending = self._colgroup(next_token)
                    continue
                raise _Bail           # form/script/style/template/...
            if tt == "end":
                tag = token[1]
                if tag == "table":
                    while self.tags[-1] != "table":
                        self._pop()   # implied close of tr/section
                    self._pop()       # table
                    return
                if tag in _TABLE_SECTIONS:
                    if cur == "tr":
                        self._pop()
                        cur = self.tags[-1]
                    if cur == tag:
                        self._pop()
                        continue
                    raise _Bail       # stray section end
                if tag == "tr":
                    if cur == "tr":
                        self._pop()
                        continue
                    if cur == "table" or cur in _TABLE_SECTIONS:
                        continue      # no tr in scope: ignore
                    raise _Bail
                raise _Bail           # any other end tag in table context
            raise _Bail               # eof inside the table

    def _cell(self, next_token):
        """Consume the content of the just-pushed td/th; returns a token
        to reprocess at table level, or None."""
        cell_idx = len(self.stack) - 1
        cell_tag = self.tags[-1]
        # the cell pushes an AFE marker (spec "in row" td/th handling):
        # formatting opened outside the table must not reconstruct inside
        self.open_fmt.append(_MARKER)
        while True:
            token = next_token()
            tt = token[0]
            if tt == "char":
                if self.open_fmt:     # in-body rules inside the cell
                    self._reconstruct()
                self._text(token[1])
                continue
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "start":
                tag = token[1]
                if tag in _CELL_CLOSERS:
                    self._close_cell(cell_idx)
                    return token      # reprocess at table level
                self._body_start(token)   # includes nested <table>
                continue
            if tt == "end":
                tag = token[1]
                if tag in ("td", "th"):
                    if tag != cell_tag:
                        raise _Bail   # mismatched cell end: slow lane
                    self._close_cell(cell_idx)
                    return None
                if tag == "table" or tag == "tr" or tag in _TABLE_SECTIONS:
                    self._close_cell(cell_idx)
                    return token
                if tag in ("body", "html"):
                    raise _Bail
                if tag == "template" and "template" in self.tags:
                    raise _Bail       # _end_template pops the cell too
                self._body_end(tag)
                continue
            raise _Bail               # eof inside a cell

    def _caption(self, next_token):
        """Consume "in caption" content (in-body rules plus the caption
        closer set); returns a token to reprocess at table level, or
        None.  Closing mirrors _close_cell: pop to the caption, clear the
        AFE to the marker pushed at entry."""
        cap_idx = len(self.stack) - 1
        while True:
            token = next_token()
            tt = token[0]
            if tt == "char":
                if self.open_fmt:
                    self._reconstruct()
                self._text(token[1])
                continue
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "start":
                tag = token[1]
                if tag in _CELL_CLOSERS:   # td/th/tr/sections/caption/col(group)
                    self._close_cell(cap_idx)
                    return token      # reprocess at table level
                self._body_start(token)
                continue
            if tt == "end":
                tag = token[1]
                if tag == "caption":
                    self._close_cell(cap_idx)
                    return None
                if tag == "table":
                    self._close_cell(cap_idx)
                    return token
                if tag in _CELL_CLOSERS:
                    continue          # parse error: ignore
                if tag in ("body", "html"):
                    raise _Bail
                if tag == "template" and "template" in self.tags:
                    raise _Bail       # _end_template pops the caption too
                self._body_end(tag)
                continue
            raise _Bail               # eof inside a caption

    def _template(self, token) -> None:
        """Restricted "in template" content: an AFE-markered mini-body
        (the arena stores template children directly, like MyHTML — the
        html5lib "content" line is synthesized by treedump).  Table-part
        tokens at template top level and anything outside the body
        vocabulary bail via the shared handlers; </template> and EOF
        close with the cell/caption truncation (thorough implied end
        tags + pop to template + clear the AFE to the marker)."""
        next_token = self.tok.next_token
        self._push(token)
        self.open_fmt.append(_MARKER)
        tpl_idx = len(self.stack) - 1
        # mode tracking: the "in template" mode IGNORES end tags; it
        # flips to in-body on the first ordinary start tag (head-ish
        # tags — meta/link/rawtext/nested template — use in-head rules
        # and leave the mode alone, as do character tokens)
        in_body = False
        while True:
            t = next_token()
            tt = t[0]
            if tt == "char":
                if self.open_fmt:
                    self._reconstruct()
                self._text(t[1])
                continue
            if tt == "comment":
                self._comment(t)
                continue
            if tt == "start":
                tag = t[1]
                # the spec's in-template head-ish list (base/basefont/
                # bgsound/link/meta/noframes/script/style/template/
                # title) leaves the mode alone; noscript is NOT in it —
                # it flips the template to in-body even though its
                # content tokenizes as rawtext
                if tag not in _HEAD_VOID and tag != "template" and (
                        tag not in _RAWTEXT_MODES or tag == "noscript"):
                    in_body = True
                self._body_start(t)   # includes nested <template>
                continue
            if tt == "end":
                if t[1] == "template":
                    self._close_template(tpl_idx)
                    return
                if in_body:
                    self._body_end(t[1])
                continue              # in-template end tags are ignored
            # eof: spec closes the template and reprocesses eof
            self._close_template(tpl_idx)
            return

    def _close_template(self, tpl_idx: int) -> None:
        # the full machine flags a template close that force-pops an
        # element the thorough implied end tags do not cover
        if any(t not in IMPLIED_END_TAGS_THOROUGH
               for t in self.tags[tpl_idx + 1:]):
            self.doc.misnested = True
        self._close_cell(tpl_idx)

    def _colgroup(self, next_token):
        """Consume "in column group" content; returns a token to
        reprocess at table level, or None (saw </colgroup>)."""
        while True:
            token = next_token()
            tt = token[0]
            if tt == "start" and token[1] == "col":
                nid = self._el(token)
                self._append(nid)
                continue
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "char":
                s = token[1]
                stripped = s.lstrip(_WS)
                lead = s[: len(s) - len(stripped)]
                if lead:
                    self._text(lead)  # whitespace stays in the colgroup
                if stripped:
                    # anything-else: pop the colgroup, reprocess the rest
                    # at table level (where it foster-parents)
                    self._pop()
                    return ("char", stripped)
                continue
            if tt == "end":
                if token[1] == "colgroup":
                    self._pop()
                    return None
                if token[1] == "col":
                    continue          # parse error: ignore
            # anything else (start tag, other end tag, eof): pop the
            # colgroup and reprocess at table level
            self._pop()
            return token

    def _close_cell(self, cell_idx: int) -> None:
        # spec "close the cell" / </template>: implied end tags, pop
        # until the container, clear the AFE up to the LAST marker.
        # The pops must NOT remove formatting entries (spec stack pops
        # leave them as off-stack, reconstructable entries — e.g. an
        # unclosed <b> under an unclosed inner <marquee> marker inside
        # a template survives </template> and wraps the next phrasing
        # content); only the clear-to-marker truncation removes entries,
        # and only from the topmost marker upward.
        while len(self.stack) - 1 > cell_idx:
            self._pop_implicit()
        self._pop()                  # the container itself (non-fmt)
        for i in range(len(self.open_fmt) - 1, -1, -1):
            if self.open_fmt[i] is _MARKER:
                del self.open_fmt[i:]
                break

    def _body_end(self, tag: str) -> None:
        tags = self.tags
        if tag == "form":
            if "template" in tags:
                # template branch: scope check, implied end tags, pop
                # until the form is popped (pointer uninvolved)
                for t in reversed(tags):
                    if t == "form":
                        while tags[-1] in _IMPLIED:
                            self._pop_implicit()
                        self._pop_until("form")
                        return
                    if t in _SCOPE_STOP:
                        return
                return
            # spec: take the form pointer, null it; ignore if unset or
            # not in scope; implied end tags, then REMOVE that node from
            # the stack wherever it is (the tree keeps its children)
            node = self.form
            self.form = None
            if node is None or node not in self.stack:
                return
            i = self.stack.index(node)
            for t in tags[i + 1:]:
                if t in _SCOPE_STOP:
                    return            # form not in scope: ignore
            while tags[-1] in _IMPLIED:
                self._pop_implicit()
            if self.stack[-1] != node:
                self.doc.misnested = True   # as the full machine flags it
            del self.stack[i]
            del tags[i]
            return
        if tag in ("marquee", "object", "applet"):
            # in scope? implied end tags, pop until it, clear the AFE
            # to ITS marker (the newest one by construction)
            for t in reversed(tags):
                if t == tag:
                    while tags[-1] in _IMPLIED:
                        self._pop_implicit()
                    self._pop_until(tag)
                    for i in range(len(self.open_fmt) - 1, -1, -1):
                        if self.open_fmt[i] is _MARKER:
                            del self.open_fmt[i:]
                            break
                    return
                if t in _SCOPE_STOP:
                    return            # not in scope: ignore
            return
        if tag == "br":
            # spec: </br> acts as a <br> START tag (position-less
            # synthetic token), which reconstructs active formatting
            # first — mirror the _BODY_VOID start-tag path
            if self.open_fmt:
                self._reconstruct()
            nid = self.doc.new_element("br", NS_HTML, None)
            self._append(nid)
            return
        if tag == "p":
            for t in tags[::-1]:
                if t == "p":
                    self._pop_until("p")
                    return
                if t in _P_SCOPE_STOP:
                    break             # p not in button scope
            # spec: parse error; insert an empty p element, close it
            nid = self._el(None, "p")
            self._append(nid)
            return
        if tag == "li" or tag in _DD_DT:
            for t in reversed(tags):
                if t == tag:
                    self._pop_until(tag)
                    return
                if (tag == "li" and t in ("ul", "ol")) or t in _SCOPE_STOP:
                    return            # not in (list-item) scope: ignore
            return
        if tag in HEADING_TAGS:
            for t in reversed(tags):
                if t in HEADING_TAGS:
                    while self.tags[-1] not in HEADING_TAGS:
                        self._pop_implicit()
                    self._pop()
                    return
                if t in _SCOPE_STOP:
                    return            # no heading in scope: ignore
            return
        if tag in FORMATTING_TAGS:
            # every formatting element on the fast lane's stack has an
            # AFE entry, so the full machine's AAA never takes its
            # "current node, not in the AFE" shortcut: flag as it does
            self.doc.misnested = True
            # adoption agency outer-loop fast cases (treebuilder.py
            # _adoption_agency steps 3-5).  The spec acts on the LAST
            # AFE-tail entry with this tag name — iterate newest-first
            # (_afe_tail is already newest-first); the fast pop is only
            # valid when that entry is the on-stack current node.
            for e in self._afe_tail():
                if e[0] != tag:
                    continue
                if not e[2]:
                    # in the AFE but not on the stack: parse error,
                    # remove the entry, no tree change
                    self.open_fmt.remove(e)
                    return
                if tags[-1] == tag:
                    # the entry IS the current node: plain close
                    # (_pop removes the newest on-stack entry == e)
                    self._pop()
                    return
                # On stack, not top.  AAA step 7: if there is NO furthest
                # block (no special element above the formatting element
                # on the stack), pop everything up to and including it
                # and remove its AFE entry; formatting elements popped on
                # the way stay in the AFE off-stack (reconstructed at the
                # next insertion) — the <b>x<i>y</b>z</i> shape.  e is the
                # newest same-tag AFE entry, hence the TOPMOST same-tag
                # stack occurrence.
                idx = len(tags) - 1 - tags[::-1].index(tag)
                for t in tags[idx + 1:]:
                    if t in _SPECIAL or t in _CELL_CLOSERS or t == "table":
                        raise _Bail   # furthest block exists: real AAA
                while len(tags) - 1 > idx:
                    self._pop_implicit()
                self.stack.pop()
                self.tags.pop()
                self.open_fmt.remove(e)
                return
            # not in the AFE tail at all: "any other end tag" rules —
            # fall through to the generic walk below
        # blocks and any-other end tags share the walk-down rule; the
        # spec's block-closing end-tag list also includes button/pre/
        # listing (not in BLOCK_START), which close across non-special
        # content like blocks do
        block_close = tag in BLOCK_START or tag in (
            "button", "pre", "listing")
        for t in reversed(tags):
            if t == tag:
                # generate implied end tags, then pop until target
                while self.tags[-1] in _IMPLIED and self.tags[-1] != tag:
                    self._pop_implicit()
                self._pop_until(tag)
                return
            if t in _SCOPE_STOP:
                return                # scope boundary (also special)
            if not block_close and t in _SPECIAL:
                return                # ignore token
        return                        # not found: ignore

    # -- select (WHATWG "in select" / "in select in table") -------------

    _TABLE_PARTS = frozenset(
        ("caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th"))

    def _close_select(self, sel_idx: int) -> None:
        # select/option/optgroup are never formatting elements, so a
        # plain truncation reproduces "pop until select popped"
        del self.stack[sel_idx:]
        del self.tags[sel_idx:]

    def _select(self, token, foster_table_nid: int | None = None):
        """Consume an "in select" subtree; returns a token to reprocess
        at table level (fostered case) or None.  In-body select start
        reconstructs formatting first; inside, only option/optgroup
        nest, unknown tags are ignored, input/keygen/textarea close the
        select and reprocess.  When the select was foster-parented out
        of a table (in-select-in-table), table-part tags close it and
        are handed back to the table loop; a select inside a CELL still
        bails on those (no reprocess channel through _body_start)."""
        if self.open_fmt:
            self._reconstruct()
        sel_idx = len(self.stack)
        if foster_table_nid is not None:
            # foster parenting: the element lands before the table but
            # still goes on the open-elements stack
            nid = self._el(token)
            self.doc.insert_before(foster_table_nid, nid)
            self.doc.fostered = True
            self.stack.append(nid)
            self.tags.append("select")
        else:
            self._push(token)         # select
        in_table = "table" in self.tags
        next_token = self.tok.next_token
        tags = self.tags
        while True:
            token = next_token()
            tt = token[0]
            if tt == "char":
                self._text(token[1].replace("\x00", ""))
                continue
            if tt == "comment":
                self._comment(token)
                continue
            if tt == "start":
                tag = token[1]
                if tag == "option":
                    if tags[-1] == "option":
                        self.stack.pop()
                        tags.pop()
                    self._push(token)
                    continue
                if tag == "optgroup":
                    if tags[-1] == "option":
                        self.stack.pop()
                        tags.pop()
                    if tags[-1] == "optgroup":
                        self.stack.pop()
                        tags.pop()
                    self._push(token)
                    continue
                if tag == "hr":
                    # current spec (hr-in-select, 2023): pop an open
                    # option/optgroup, insert the hr as a void child
                    if tags[-1] == "option":
                        self.stack.pop()
                        tags.pop()
                    if tags[-1] == "optgroup":
                        self.stack.pop()
                        tags.pop()
                    self._append(self._el(token))
                    continue
                if tag == "select":   # parse error: acts as </select>
                    self._close_select(sel_idx)
                    return None
                if tag in ("input", "keygen", "textarea"):
                    self._close_select(sel_idx)
                    if foster_table_nid is not None:
                        raise _Bail   # fostered reprocess: slow lane
                    self._body_start(token)   # reprocess
                    return None
                if tag in ("script", "template"):
                    raise _Bail       # head rules inside select
                if tag == "html":
                    # in-select forwards <html> to the in-body rules
                    # (attribute merge onto the existing html element) —
                    # the fast lane has no merge path, so slow-lane it
                    # (round-5 fuzz find: <select><html a> dropped a="")
                    raise _Bail
                if in_table and tag in self._TABLE_PARTS:
                    if foster_table_nid is not None:
                        self._close_select(sel_idx)
                        return token  # reprocess at table level
                    raise _Bail       # select inside a cell: slow lane
                continue              # any other start tag: ignore
            if tt == "end":
                tag = token[1]
                if tag == "optgroup":
                    if tags[-1] == "option" and len(tags) >= 2 \
                            and tags[-2] == "optgroup":
                        self.stack.pop()
                        tags.pop()
                    if tags[-1] == "optgroup":
                        self.stack.pop()
                        tags.pop()
                    continue
                if tag == "option":
                    if tags[-1] == "option":
                        self.stack.pop()
                        tags.pop()
                    continue
                if tag == "select":
                    self._close_select(sel_idx)
                    return None
                if in_table and tag in self._TABLE_PARTS:
                    if foster_table_nid is not None:
                        self._close_select(sel_idx)
                        return token
                    raise _Bail
                if tag == "template" and "template" in self.tags:
                    raise _Bail       # closes select AND template
                continue              # any other end tag: ignore
            if tt == "eof":
                return None           # leave open; caller sees eof next
            raise _Bail               # doctype inside select

    # -- foreign-content islands (WHATWG 13.2.6.5, the common subset) ----
    #
    # Handled: SVG tag/attribute case adjustment, self-closing foreign
    # elements, text/comments, matched end tags, CDATA sections (the
    # tokenizer's allow_cdata mirrors the full machine's adjusted-current-
    # node rule), HTML integration points (svg foreignObject/desc/title,
    # annotation-xml with an HTML encoding) and MathML text integration
    # points holding SIMPLE well-nested HTML (phrasing/blocks/voids, a
    # lone implied-closed <p>).  Bails on: breakout start tags, rawtext/
    # formatting/table elements inside integration points, end tags that
    # would cross out of the island, EOF inside the island.

    def _island_html_integration(self, ns: int, tag: str, attrs) -> bool:
        if ns == NS_SVG and tag in ("foreignObject", "desc", "title"):
            return True
        if ns == NS_MATHML and tag == "annotation-xml":
            enc = (attrs or {}).get("encoding", "").lower()
            return enc in ("text/html", "application/xhtml+xml")
        return False

    def _island(self, token) -> None:
        doc = self.doc
        tok = self.tok
        next_token = tok.next_token
        if self.open_fmt:
            self._reconstruct()       # in-body svg/math start reconstructs
        root_ns = NS_SVG if token[1] == "svg" else NS_MATHML
        nid = self._el(token)
        doc.ns[nid] = root_ns
        doc.attrs[nid] = adjust_foreign_attrs(
            token[2] or (), svg=root_ns == NS_SVG,
            mathml=root_ns == NS_MATHML) or None
        self._append(nid)
        if token[3]:
            return                    # self-closing root: no island
        # island stack: (nid, ns, tag) — never touches self.stack/tags
        ist = [(nid, root_ns, token[1])]
        try:
            while ist:
                top_nid, top_ns, top_tag = ist[-1]
                tok.allow_cdata = top_ns != NS_HTML
                token = next_token()
                tt = token[0]
                # --- dispatch (full machine _dispatch, island-local) ---
                html_rules = top_ns == NS_HTML
                svg_in_axml = False
                if not html_rules and top_ns == NS_MATHML:
                    if top_tag in MATHML_TEXT_INTEGRATION:
                        if tt == "char" or (
                                tt == "start"
                                and token[1] not in ("mglyph", "malignmark")):
                            html_rules = True
                    elif (top_tag == "annotation-xml" and tt == "start"
                          and token[1] == "svg"):
                        svg_in_axml = True
                if not html_rules and not svg_in_axml and tt in (
                        "char", "start") and self._island_html_integration(
                        top_ns, top_tag, doc.attrs[top_nid]):
                    html_rules = True

                if html_rules:
                    self._island_html(token, ist)
                    continue
                # --- foreign content rules ---
                if tt == "char":
                    self._text(token[1].replace("\x00", "�"),
                               parent=top_nid)
                    continue
                if tt == "comment":
                    self._comment(token, parent=top_nid)
                    continue
                if tt == "start":
                    tag = token[1]
                    if tag in FOREIGN_BREAKOUT or (tag == "font" and any(
                            k in ("color", "face", "size")
                            for k, _ in token[2])):
                        raise _Bail   # breakout: pops + body reprocess
                    ns = NS_SVG if svg_in_axml else top_ns
                    if ns == NS_SVG:
                        tag = SVG_TAG_ADJUSTMENTS.get(tag, tag)
                        attrs = adjust_foreign_attrs(token[2] or (), svg=True)
                    else:
                        attrs = adjust_foreign_attrs(token[2] or (),
                                                     mathml=True)
                    nid = self._el(token, tag=tag)
                    doc.ns[nid] = ns
                    doc.attrs[nid] = attrs or None
                    doc.append_child(top_nid, nid)
                    if not token[3]:
                        ist.append((nid, ns, tag))
                    continue
                if tt == "end":
                    tag = token[1]
                    i = len(ist) - 1
                    while True:
                        if ist[i][2].lower() == tag:
                            del ist[i:]
                            break
                        i -= 1
                        if i < 0 or ist[i][1] == NS_HTML:
                            raise _Bail   # would re-enter HTML rules
                    continue
                raise _Bail           # eof / doctype inside the island
        finally:
            tok.allow_cdata = False

    def _island_html(self, token, ist) -> None:
        """HTML-rules tokens at an integration point: the simple
        well-nested subset (full machine: _process via in-body)."""
        doc = self.doc
        top_nid, top_ns, top_tag = ist[-1]
        tt = token[0]
        if tt == "char":
            self._text(token[1].replace("\x00", ""), parent=top_nid)
            return
        if tt == "comment":
            self._comment(token, parent=top_nid)
            return
        if tt == "start":
            tag = token[1]
            if tag in ("svg", "math"):
                nid = self._el(token)
                ns = NS_SVG if tag == "svg" else NS_MATHML
                doc.ns[nid] = ns
                doc.attrs[nid] = adjust_foreign_attrs(
                    token[2] or (), svg=ns == NS_SVG,
                    mathml=ns == NS_MATHML) or None
                doc.append_child(top_nid, nid)
                if not token[3]:
                    ist.append((nid, ns, tag))
                return
            if tag not in _ISLAND_HTML_OK:
                raise _Bail           # formatting/table/rawtext/...
            if tag in BLOCK_START or tag in HEADING_TAGS:
                # close an open <p> at the integration point (in-body
                # close-p; only the directly-open case stays fast)
                if top_ns == NS_HTML and top_tag == "p":
                    ist.pop()
                    top_nid, top_ns, top_tag = ist[-1]
                elif any(e[1] == NS_HTML and e[2] == "p" for e in ist):
                    raise _Bail
            if tag in HEADING_TAGS and top_ns == NS_HTML \
                    and top_tag in HEADING_TAGS:
                ist.pop()             # in-body: heading closes heading
                top_nid = ist[-1][0]
            nid = self._el(token)
            doc.append_child(top_nid, nid)
            if tag not in VOID_TAGS:
                # (a stray self-closing flag on a non-void HTML tag is a
                # parse error the spec ignores: the element stays open)
                ist.append((nid, NS_HTML, tag))
            return
        if tt == "end":
            tag = token[1]
            if top_ns == NS_HTML and top_tag == tag:
                ist.pop()
                return
            # implied </p> before a block end tag
            if (top_ns == NS_HTML and top_tag == "p"
                    and len(ist) >= 2 and ist[-2][1] == NS_HTML
                    and ist[-2][2] == tag):
                del ist[-2:]
                return
            raise _Bail               # any-other-end-tag walk: slow lane
        raise _Bail

    def _after_body(self, next_token, saw_html_end: bool) -> None:
        doc = self.doc
        phase_after_after = saw_html_end
        while True:
            token = next_token()
            tt = token[0]
            if tt == "eof":
                return
            if tt == "comment":
                self._comment(
                    token,
                    parent=doc.root if phase_after_after else doc.html_node)
                continue
            if tt == "char" and not token[1].lstrip(_WS):
                raise _Bail           # ws after body re-enters body mode
            if tt == "end" and token[1] == "html" and not phase_after_after:
                phase_after_after = True
                continue
            raise _Bail


def try_parse(src: str) -> Document | None:
    """Fast-lane parse; None if the document needs the full machine."""
    if "\x00" in src:
        # NUL semantics are mode-dependent (ignored in body/table-text/
        # select, U+FFFD in foreign content — WHATWG 13.2.6): the slow
        # lane routes it per insertion mode.  One C-level memchr scan up
        # front; real pages essentially never contain NUL.
        return None
    try:
        return _Fast(src).run()
    except (_Bail, IndexError, RecursionError):
        # RecursionError: nesting deeper than the recursive table
        # sub-parser reaches; the full machine is iterative
        return None


def parse(src: str) -> Document:
    """Parse a full document: the fast lane, or the full machine when it
    bails.  The full machine is imported only on a bail, so a process
    whose documents all take the fast lane never loads it."""
    doc = try_parse(src)
    if doc is not None:
        return doc
    from .treebuilder import TreeBuilder

    return TreeBuilder().parse(src)


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
