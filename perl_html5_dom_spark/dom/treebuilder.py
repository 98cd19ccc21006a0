"""HTML5 tree constructor (WHATWG §13.2.6), pure Python, from scratch.

Re-implements the behavior the reference obtains from MyHTML's tree
constructor (invoked via ``myhtml_parse`` at /root/reference/DOM.xs:963):
insertion-mode state machine, implied end tags, active formatting elements
with the adoption agency algorithm, table foster parenting, and foreign
(SVG/MathML) content. Output is a flat-array :class:`~.document.Document`.

Scripting defaults to enabled — ``<noscript>`` contents become a single
text node — matching the reference's ``scripts`` option default
(/root/reference/lib/HTML5/DOM.pod:3240-3244).  ``scripts=False`` parses
``<noscript>`` contents as child nodes via the spec's "in head noscript"
insertion mode; ``ignore_whitespace`` / ``ignore_doctype`` mirror the
reference's remaining parser flags (DOM.pod:3234-3238).

This is the package's one tree builder: every document, fragment and
chunked parse runs through :meth:`TreeBuilder.pump`.  Its hot path is
specialised in place — per-tag open-element counts (``_open``) let the
scope checks and stack walks return at once when the target is not open,
"in body" dispatches start and end tags through rule tables, elements
and text are appended straight onto the Document's arrays, and a table
rule that reprocesses a tag calls the next mode directly.
"""

from __future__ import annotations

from .constants import (
    ASCII_LOWER,
    BLOCK_START,
    BUTTON_SCOPE_EXTRA,
    FOREIGN_BREAKOUT,
    FORMATTING_TAGS,
    HEADING_TAGS,
    HTML_INTEGRATION_SVG,
    IMPLIED_END_TAGS,
    IMPLIED_END_TAGS_THOROUGH,
    LIST_ITEM_SCOPE_EXTRA,
    MATHML_TEXT_INTEGRATION,
    NS_HTML,
    NS_MATHML,
    NS_SVG,
    RAWTEXT_TAGS,
    RCDATA_TAGS,
    SCOPE_BASE,
    SELECT_SCOPE_INVERT,
    SPECIAL_HTML,
    SPECIAL_MATHML,
    SPECIAL_SVG,
    SVG_TAG_ADJUSTMENTS,
    TABLE_SCOPE,
    adjust_foreign_attrs,
)
from .document import NULL, Document
from .tokenizer import Tokenizer

_WS = "\t\n\x0c "
MARKER = ("MARKER",)

#: "has an element in scope" boundaries, per scope flavour and namespace
_LIST_SCOPE = SCOPE_BASE | LIST_ITEM_SCOPE_EXTRA
_BUTTON_SCOPE = SCOPE_BASE | BUTTON_SCOPE_EXTRA
_MATHML_SCOPE = MATHML_TEXT_INTEGRATION | frozenset(("annotation-xml",))
_TABLE_PARTS = frozenset(("table", "tbody", "tfoot", "thead", "tr"))
_CELLS = frozenset(("td", "th"))
_SECTIONS = frozenset(("tbody", "thead", "tfoot"))
_TABLE = frozenset(("table",))
#: "clear the stack back to a table / table body / table row context"
_TABLE_CONTEXT = frozenset(("table", "template", "html"))
_TBODY_CONTEXT = _SECTIONS | _TABLE_CONTEXT - {"table"}
_ROW_CONTEXT = frozenset(("tr", "template", "html"))
#: "in table" start tags that open a table part: tag -> (mode, the
#: element inserted first and the token reprocessed, or None)
_TABLE_SECTION_START = {
    "caption": ("in_caption", None), "colgroup": ("in_column_group", None),
    "col": ("in_column_group", "colgroup"), "tbody": ("in_table_body", None),
    "thead": ("in_table_body", None), "tfoot": ("in_table_body", None),
    "tr": ("in_table_body", "tbody"), "td": ("in_table_body", "tbody"),
    "th": ("in_table_body", "tbody")}
#: start tags that close a caption or a cell
_TABLE_STRUCTURE = frozenset(_TABLE_SECTION_START)
_TABLE_HEAD_START = frozenset(("caption", "col", "colgroup")) | _SECTIONS
_ROW_CLOSERS = _TABLE_HEAD_START | {"tr"}
#: end tags each table mode ignores
_TABLE_END_IGNORED = frozenset(
    ("body", "caption", "col", "colgroup", "html", "tbody", "td", "tfoot",
     "th", "thead", "tr"))
_CAPTION_END_IGNORED = _TABLE_END_IGNORED - {"caption"}
_TABLE_BODY_END_IGNORED = frozenset(
    ("body", "caption", "col", "colgroup", "html", "td", "th", "tr"))
_ROW_END_IGNORED = _TABLE_BODY_END_IGNORED - {"tr"}
_CELL_END_IGNORED = frozenset(("body", "caption", "col", "colgroup", "html"))
_SELECT_IN_TABLE_CLOSERS = frozenset(
    ("caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th"))


class TreeBuilder:
    __slots__ = (
        "scripts", "ignore_whitespace", "ignore_doctype", "doc", "tok",
        "stack", "_open", "afe", "mode", "original_mode",
        "template_modes", "head_id", "form_id", "frameset_ok",
        "foster_parenting", "pending_table_text", "skip_newline",
        "fragment_context_tag", "fragment_context_ns", "done", "pending",
        "_has_foreign", "_arrays", "_text_run", "_text_parts", "_stack_pos")

    def __init__(self, scripts: bool = True, ignore_whitespace: bool = False,
                 ignore_doctype: bool = False) -> None:
        #: reference parser options (DOM.pod:3234-3244)
        self.scripts = scripts
        self.ignore_whitespace = ignore_whitespace
        self.ignore_doctype = ignore_doctype
        self.doc: Document = None  # type: ignore[assignment]
        self.tok: Tokenizer = None  # type: ignore[assignment]
        self.stack: list[int] = []
        #: open elements per tag name (any namespace): "in scope" and
        #: the other stack walks return at once when the target is not
        #: open, so deep nesting costs O(1) per token instead of O(depth)
        self._open: dict[str, int] = {}
        #: each element's index in ``stack``, recorded when it is pushed:
        #: pops leave stale entries (``_stack_index`` rejects them) and
        #: the mid-stack edits re-record what they shift, so "is it open"
        #: and "where" cost O(1) at any depth
        self._stack_pos: dict[int, int] = {}
        self.afe: list = []  # entries: [node_id, tag, attrs] lists or MARKER
        self.mode = "initial"
        self.original_mode = ""
        self.template_modes: list[str] = []
        self.head_id = NULL
        self.form_id = NULL
        self.frameset_ok = True
        self.foster_parenting = False
        self.pending_table_text: list[str] = []
        self.skip_newline = False
        self.fragment_context_tag: str | None = None
        self.fragment_context_ns = NS_HTML
        self.done = False
        self.pending: list = []  # reprocess queue (LIFO)
        # sticky flag: any foreign (SVG/MathML) element ever entered the
        # tree/stack; false ⇒ the current node is HTML without a look
        self._has_foreign = False
        #: the text node whose merged character tokens wait, as pieces,
        #: to be joined once (``_flush_text``)
        self._text_run = NULL
        self._text_parts: list[str] = []

    # ==================================================================
    # public API
    # ==================================================================
    def parse(self, src: str) -> Document:
        self.begin(src)
        self.pump(self.tok.next_token)
        return self.doc

    def parse_fragment(self, src: str, context_tag: str = "div",
                       context_ns: int = NS_HTML,
                       doc: Document | None = None) -> tuple[Document, int]:
        """Fragment parsing (WHATWG §13.4). Returns (doc, fragment_node)."""
        self.begin(src, doc)
        self.fragment_context_tag = context_tag
        self.fragment_context_ns = context_ns
        if context_ns != NS_HTML:
            self._has_foreign = True
        frag = self.doc.new_fragment()
        root = self.doc.new_element("html")
        self.doc.append_child(frag, root)
        self._push(root)
        if context_ns == NS_HTML:
            if context_tag in RCDATA_TAGS:
                self.tok.set_rawtext(context_tag, "rcdata")
            elif context_tag in RAWTEXT_TAGS:
                # §13.4 step 2: noscript is RAWTEXT only when the
                # scripting flag is enabled; otherwise data state
                if context_tag != "noscript" or self.scripts:
                    self.tok.set_rawtext(context_tag, "rawtext")
            elif context_tag == "script":
                self.tok.set_rawtext(context_tag, "script")
            elif context_tag == "plaintext":
                self.tok.set_rawtext(context_tag, "plaintext")
            elif context_tag == "template":
                # spec §13.4 step 11: a template context seeds the
                # stack of template insertion modes with "in template"
                self.template_modes.append("in_template")
        self._reset_insertion_mode()
        self.pump(self.tok.next_token)
        # re-home children from the synthetic root onto the fragment node
        for c in self.doc.children(root):
            self.doc.append_child(frag, c)
        self.doc.remove(root)
        self.doc.fragment_context = context_tag
        return self.doc, frag

    # ==================================================================
    # main loop
    # ==================================================================
    def begin(self, src: str, doc: Document | None = None) -> None:
        """Start a parse of ``src`` into ``doc`` (a new Document if None)
        in the "initial" insertion mode; :meth:`pump` feeds it."""
        d = self.doc = doc if doc is not None else Document()
        d.scripting = self.scripts
        self.tok = Tokenizer(src)
        self.stack = []
        self._open = {}
        self._stack_pos = {}
        self.mode = "initial"
        self.done = False
        # the Document's arrays, for node creation without method hops
        self._arrays = (
            d.parent, d.first_child, d.last_child, d.next_sib, d.prev_sib,
            d.tag, d.ns, d.node_type, d.text, d.attrs, d.self_closed,
            d.raw_begin, d.raw_length, d.elem_begin, d.elem_length)

    def pump(self, pull) -> None:
        """Run tokens through the tree constructor until EOF is processed
        or ``pull`` returns None (the chunked parser's "need more
        input").  Reprocessed tokens go first; ``pull`` is asked for a
        new one only after ``allow_cdata`` is set for the adjusted
        current node.  This is the one token loop of every document,
        fragment and chunked parse."""
        pending = self.pending
        tok = self.tok
        skip_ws = self.ignore_whitespace
        stack = self.stack
        nss = self.doc.ns
        modes = _MODES
        # a fragment parsed in a foreign context: its root stands for the
        # context element, so the dispatcher decides there too
        foreign_root = (self.fragment_context_tag is not None
                        and self.fragment_context_ns != NS_HTML)
        try:
            while not self.done:
                # the adjusted current node is foreign: CDATA sections are
                # recognised and the dispatcher picks HTML or foreign rules
                foreign = (self._has_foreign and nss[stack[-1]] != NS_HTML
                           if stack else False)
                if pending:
                    token = pending.pop()
                else:
                    tok.allow_cdata = foreign
                    token = pull()
                    if token is None:
                        return
                if skip_ws and token[0] == "char" and not token[1].strip(_WS):
                    continue
                if foreign or (foreign_root and len(stack) == 1):
                    self._dispatch(token)
                else:
                    modes[self.mode](self, token)
        finally:
            # text runs merged during the loop are joined before anyone
            # (a chunked parse's caller included) reads the document
            self._flush_text()

    def _reprocess(self, token) -> None:
        self.pending.append(token)

    def _reprocess_now(self, token) -> None:
        """Reprocess ``token`` at once rather than through the queue: the
        same thing, as the table rules call it last, unless the
        dispatcher would send it to the foreign content rules."""
        stack = self.stack
        if self._has_foreign and (
                self.doc.ns[stack[-1]] != NS_HTML or (
                    len(stack) == 1 and self.fragment_context_tag is not None)):
            self.pending.append(token)
        else:
            _MODES[self.mode](self, token)

    # ==================================================================
    # dispatcher (HTML vs foreign content)
    # ==================================================================
    def _dispatch(self, token) -> None:
        """The tree construction dispatcher (WHATWG §13.2.6): HTML rules
        for an HTML adjusted current node and at integration points,
        the rules for foreign content otherwise."""
        tt = token[0]
        stack = self.stack
        if not stack or tt == "eof":
            self._process(token)
            return
        node = stack[-1]
        if len(stack) == 1 and self.fragment_context_tag is not None:
            ns, tag = self.fragment_context_ns, self.fragment_context_tag
        else:
            ns, tag = self.doc.ns[node], self.doc.tag[node]
        if ns == NS_HTML or (ns == NS_SVG and tag in HTML_INTEGRATION_SVG
                             and (tt == "char" or tt == "start")):
            self._process(token)
            return
        if ns == NS_MATHML:
            if tag in MATHML_TEXT_INTEGRATION:
                if tt == "char" or (tt == "start" and token[1] not in (
                        "mglyph", "malignmark")):
                    self._process(token)
                    return
            elif tag == "annotation-xml" and tt == "start" \
                    and token[1] == "svg":
                self._process(token)
                return
            elif tag == "annotation-xml" and (tt == "char" or tt == "start") \
                    and self._is_html_integration(node, ns, tag):
                self._process(token)
                return
        self._foreign(token)

    def _is_html_integration(self, node: int, ns: int, tag: str) -> bool:
        if ns == NS_SVG and tag in HTML_INTEGRATION_SVG:
            return True
        if ns == NS_MATHML and tag == "annotation-xml":
            attrs = self.doc.attrs[node] or {}
            enc = attrs.get("encoding", "").translate(ASCII_LOWER)
            return enc in ("text/html", "application/xhtml+xml")
        return False

    # ==================================================================
    # insertion helpers
    # ==================================================================
    def _insert_location(self) -> tuple[int, int]:
        """(parent, before_node|NULL) honoring foster parenting."""
        doc = self.doc
        target = self.stack[-1]
        if self.foster_parenting and doc.tag[target] in _TABLE_PARTS:
            # find last table in stack
            for i in range(len(self.stack) - 1, -1, -1):
                n = self.stack[i]
                if doc.tag[n] == "table" and doc.ns[n] == NS_HTML:
                    doc.fostered = True
                    p = doc.parent[n]
                    if p != NULL:
                        return p, n
                    return self.stack[i - 1], NULL
                if doc.tag[n] == "template" and doc.ns[n] == NS_HTML:
                    return n, NULL
            doc.fostered = True
            return self.stack[0], NULL
        return target, NULL

    def _insert_node(self, nid: int) -> None:
        parent, before = self._insert_location()
        if before != NULL:
            self.doc.insert_before(before, nid)
        else:
            self.doc.append_child(parent, nid)

    def _insert_element(self, token, ns: int = NS_HTML,
                        tag_override: str | None = None,
                        attrs_override: dict | None = None) -> int:
        """Create the element for a start tag (a tokenizer token carries
        its source positions in fields 4-7), insert it at the
        appropriate place and push it.  The node is appended to the
        Document's arrays here, without the Document's method hops:
        this is the hottest call of a parse."""
        tag = token[1] if tag_override is None else tag_override
        if attrs_override is not None:
            attrs = attrs_override or None
        else:
            attrs = dict(token[2]) if token[2] else None
        if ns != NS_HTML:
            self._has_foreign = True
        (parent, first, last, nxt, prev, tags, nss, types, texts, attrss,
         closed, rb, rl, eb, el) = self._arrays
        nid = len(tags)
        tags.append(tag)
        nss.append(ns)
        types.append(1)
        texts.append(None)
        attrss.append(attrs)
        first.append(NULL)
        last.append(NULL)
        nxt.append(NULL)
        closed.append(token[3])
        if len(token) > 4:
            rb.append(token[4])
            rl.append(token[5])
            eb.append(token[6])
            el.append(token[7])
        else:  # a start tag the rules imply: no source position
            rb.append(0)
            rl.append(0)
            eb.append(0)
            el.append(0)
        stack = self.stack
        if self.foster_parenting:
            parent.append(NULL)
            prev.append(NULL)
            self._insert_node(nid)
        else:
            p = stack[-1]
            lc = last[p]
            parent.append(p)
            prev.append(lc)
            if lc != NULL:
                nxt[lc] = nid
            else:
                first[p] = nid
            last[p] = nid
        self._stack_pos[nid] = len(stack)
        stack.append(nid)
        o = self._open
        o[tag] = o.get(tag, 0) + 1
        return nid

    def _insert_text(self, text: str) -> None:
        if not text:
            return
        doc = self.doc
        if self.foster_parenting:
            parent, before = self._insert_location()
            prev = (doc.prev_sib[before] if before != NULL
                    else doc.last_child[parent])
        else:
            parent, before = self.stack[-1], NULL
            prev = doc.last_child[parent]
        # merge with adjacent text node (myhtml merges runs too); the
        # pieces are joined once, when the run is flushed, so n merged
        # tokens cost O(n) rather than O(n^2)
        if prev != NULL and doc.node_type[prev] == 3:
            if prev != self._text_run:
                self._flush_text()
                self._text_run = prev
                self._text_parts = [doc.text[prev] or ""]
            self._text_parts.append(text)
            return
        if before != NULL:
            doc.insert_before(before, doc.new_text(text))
            return
        # a new last child of ``parent`` (``prev``), appended inline
        (parents, first, last, nxt, prevs, tags, nss, types, texts, attrss,
         closed, rb, rl, eb, el) = self._arrays
        nid = len(tags)
        tags.append("-text")
        nss.append(NS_HTML)
        types.append(3)
        texts.append(text)
        attrss.append(None)
        closed.append(False)
        rb.append(0)
        rl.append(0)
        eb.append(0)
        el.append(0)
        first.append(NULL)
        last.append(NULL)
        nxt.append(NULL)
        parents.append(parent)
        prevs.append(prev)
        if prev != NULL:
            nxt[prev] = nid
        else:
            first[parent] = nid
        last[parent] = nid

    def _flush_text(self) -> None:
        """Join the pending text run into its node's text."""
        if self._text_run != NULL:
            self.doc.text[self._text_run] = "".join(self._text_parts)
            self._text_run = NULL
            self._text_parts = []

    def _insert_comment(self, token, parent: int | None = None) -> None:
        nid = self.doc.new_comment(token[1])
        if parent is not None:
            self.doc.append_child(parent, nid)
        else:
            self._insert_node(nid)
        if len(token) >= 6:
            self.doc.raw_begin[nid] = token[2]
            self.doc.raw_length[nid] = token[3]
            self.doc.elem_begin[nid] = token[4]
            self.doc.elem_length[nid] = token[5]

    # ==================================================================
    # stack of open elements (every push and pop keeps ``_open``)
    # ==================================================================
    def _push(self, nid: int) -> None:
        self._stack_pos[nid] = len(self.stack)
        self.stack.append(nid)
        tag = self.doc.tag[nid]
        self._open[tag] = self._open.get(tag, 0) + 1

    def _pop(self) -> int:
        nid = self.stack.pop()
        self._open[self.doc.tag[nid]] -= 1
        return nid

    def _pop_to(self, i: int) -> None:
        """Pop every element above stack index ``i - 1``."""
        tags, o = self.doc.tag, self._open
        for n in self.stack[i:]:
            o[tags[n]] -= 1
        del self.stack[i:]

    def _unstack(self, nid: int) -> None:
        """Remove ``nid`` from the stack wherever it is."""
        i = self._stack_index(nid)
        del self.stack[i]
        self._restack(i)
        self._open[self.doc.tag[nid]] -= 1

    def _stack_index(self, nid: int) -> int:
        """``nid``'s index in the stack of open elements, or -1."""
        i = self._stack_pos.get(nid, -1)
        stack = self.stack
        if 0 <= i < len(stack) and stack[i] == nid:
            return i
        return -1

    def _restack(self, i: int, end: int | None = None) -> None:
        """Re-record the positions of stack entries ``i`` to ``end - 1``
        (to the top by default), after an edit moved them."""
        pos, stack = self._stack_pos, self.stack
        for j in range(i, len(stack) if end is None else end):
            pos[stack[j]] = j

    def _any_open(self, tags) -> bool:
        o = self._open
        for t in tags:
            if o.get(t):
                return True
        return False

    def _template_open(self) -> bool:
        """An HTML template element is on the stack."""
        if self._open.get("template"):
            tags, nss = self.doc.tag, self.doc.ns
            for n in self.stack:
                if tags[n] == "template" and nss[n] == NS_HTML:
                    return True
        return False

    def _current_tag(self) -> str:
        n = self.stack[-1]
        return self.doc.tag[n]

    def _has_in_scope(self, target, stops: frozenset = SCOPE_BASE) -> bool:
        """WHATWG 'has an element in scope': ``target`` is a tag name or a
        set of them, ``stops`` the HTML boundaries of the scope flavour."""
        one = isinstance(target, str)
        if not (self._open.get(target) if one else self._any_open(target)):
            return False
        tags, nss = self.doc.tag, self.doc.ns
        for n in reversed(self.stack):
            tag, ns = tags[n], nss[n]
            if ns == NS_HTML:
                if (tag == target) if one else (tag in target):
                    return True
                if tag in stops:
                    return False
            elif ns == NS_MATHML:
                if tag in _MATHML_SCOPE:
                    return False
            elif ns == NS_SVG and tag in HTML_INTEGRATION_SVG:
                return False
        return False

    def _in_scope(self, t):
        return self._has_in_scope(t)

    def _in_list_scope(self, t):
        return self._has_in_scope(t, _LIST_SCOPE)

    def _in_button_scope(self, t):
        return self._has_in_scope(t, _BUTTON_SCOPE)

    def _in_table_scope(self, t):
        one = isinstance(t, str)
        if not (self._open.get(t) if one else self._any_open(t)):
            return False
        tags, nss = self.doc.tag, self.doc.ns
        for n in reversed(self.stack):
            if nss[n] != NS_HTML:
                continue
            tag = tags[n]
            if (tag == t) if one else (tag in t):
                return True
            if tag in TABLE_SCOPE:
                return False
        return False

    def _in_select_scope(self, t):
        if not self._open.get(t):
            return False
        tags, nss = self.doc.tag, self.doc.ns
        for n in reversed(self.stack):
            if nss[n] != NS_HTML:
                return False
            tag = tags[n]
            if tag == t:
                return True
            if tag not in SELECT_SCOPE_INVERT:
                return False
        return False

    def _pop_until(self, target) -> None:
        """Pop up to and including the first HTML element named
        ``target`` (a tag name or a set of them)."""
        one = isinstance(target, str)
        stack, o = self.stack, self._open
        tags, nss = self.doc.tag, self.doc.ns
        while stack:
            n = stack.pop()
            tag = tags[n]
            o[tag] -= 1
            if nss[n] == NS_HTML and ((tag == target) if one
                                      else (tag in target)):
                return

    def _generate_implied_end_tags(self, exclude: str | None = None,
                                   thorough: bool = False) -> None:
        implied = IMPLIED_END_TAGS_THOROUGH if thorough else IMPLIED_END_TAGS
        stack, o = self.stack, self._open
        tags, nss = self.doc.tag, self.doc.ns
        while stack:
            n = stack[-1]
            t = tags[n]
            if nss[n] == NS_HTML and t in implied and t != exclude:
                stack.pop()
                o[t] -= 1
            else:
                return

    def _close_p(self) -> None:
        if not self._open.get("p"):
            return
        top = self.stack[-1]
        if self.doc.tag[top] == "p" and self.doc.ns[top] == NS_HTML:
            self.stack.pop()  # the p is the current node
            self._open["p"] -= 1
        elif self._has_in_scope("p", _BUTTON_SCOPE):
            self._generate_implied_end_tags(exclude="p")
            self._pop_until("p")

    def _is_special(self, nid: int) -> bool:
        doc = self.doc
        ns, tag = doc.ns[nid], doc.tag[nid]
        if ns == NS_HTML:
            return tag in SPECIAL_HTML
        if ns == NS_MATHML:
            return tag in SPECIAL_MATHML
        if ns == NS_SVG:
            return tag in SPECIAL_SVG
        return False

    # ==================================================================
    # active formatting elements
    # ==================================================================
    def _afe_push(self, nid: int, tag: str, attrs: dict | None) -> None:
        # Noah's Ark clause: max 3 identical entries since last marker
        # (entries and element attributes hold None, never {}, when
        # there are no attributes)
        attrs = attrs or None
        count = 0
        for entry in reversed(self.afe):
            if entry is MARKER:
                break
            if entry[1] == tag and entry[2] == attrs:
                count += 1
                if count == 3:
                    self.afe.remove(entry)
                    break
        self.afe.append([nid, tag, dict(attrs) if attrs else None])

    def _afe_clear_to_marker(self) -> None:
        while self.afe:
            if self.afe.pop() is MARKER:
                return

    def _afe_find(self, tag: str):
        for entry in reversed(self.afe):
            if entry is MARKER:
                return None
            if entry[1] == tag:
                return entry
        return None

    def _reconstruct_afe(self) -> None:
        afe = self.afe
        if not afe:
            return
        last = afe[-1]
        if last is MARKER or self._stack_index(last[0]) >= 0:
            return
        i = len(afe) - 1
        while i > 0:
            i -= 1
            entry = afe[i]
            if entry is MARKER or self._stack_index(entry[0]) >= 0:
                i += 1
                break
        self.doc.misnested = True
        while i < len(afe):
            entry = afe[i]
            nid = self.doc.new_element(entry[1], NS_HTML,
                                       dict(entry[2]) if entry[2] else None)
            self._insert_node(nid)
            self._push(nid)
            entry[0] = nid
            i += 1

    # ==================================================================
    # adoption agency algorithm (WHATWG §13.2.6.4.7 "in body" end tags)
    # ==================================================================
    def _adoption_agency(self, tag: str) -> None:
        doc = self.doc
        # step 1-2: fast path
        if self.stack:
            cur = self.stack[-1]
            if doc.tag[cur] == tag and doc.ns[cur] == NS_HTML:
                entry = self._afe_find(tag)
                if entry is not None and entry[0] == cur:
                    # the outer loop's first round: no furthest block
                    # above the current node, so pop it and its entry
                    doc.misnested = True
                    self._pop()
                    self.afe.remove(entry)
                    return
                in_afe = any(e is not MARKER and e[0] == cur for e in self.afe)
                if not in_afe:
                    self._pop()
                    return
        self.doc.misnested = True
        for _ in range(8):  # outer loop
            entry = self._afe_find(tag)
            if entry is None:
                self._any_other_end_tag(tag)
                return
            fmt_elt = entry[0]
            idx = self._stack_index(fmt_elt)
            if idx < 0:
                self.afe.remove(entry)
                return
            if not self._in_scope(tag):
                return
            # find furthest block: lowest stack element above fmt_elt
            # that is special
            stack = self.stack
            furthest = None
            for i in range(idx + 1, len(stack)):
                if self._is_special(stack[i]):
                    furthest = i
                    break
            if furthest is None:
                # pop up to and including fmt element; remove from afe
                self._pop_to(idx)
                self.afe.remove(entry)
                return
            common_ancestor = stack[idx - 1]
            bookmark = self.afe.index(entry)
            node_i = furthest
            fb = last_node = stack[furthest]
            # the inner loop removes stack entries below the furthest
            # block: ``fb_i`` follows its index
            fb_i = furthest
            inner = 0
            while True:  # inner loop
                inner += 1
                node_i -= 1
                node = stack[node_i]
                if node == fmt_elt:
                    break
                node_entry = None
                for e in self.afe:
                    if e is not MARKER and e[0] == node:
                        node_entry = e
                        break
                if inner > 3 and node_entry is not None:
                    ei = self.afe.index(node_entry)
                    self.afe.remove(node_entry)
                    if ei < bookmark:
                        bookmark -= 1
                    node_entry = None
                if node_entry is None:
                    del stack[node_i]
                    self._open[doc.tag[node]] -= 1
                    fb_i -= 1
                    continue
                # create clone of node
                clone = doc.new_element(doc.tag[node], doc.ns[node],
                                        dict(doc.attrs[node]) if doc.attrs[node] else None)
                node_entry[0] = clone
                stack[node_i] = clone
                node = clone
                if last_node == fb:
                    bookmark = self.afe.index(node_entry) + 1
                # move last_node under node
                doc.append_child(node, last_node)
                last_node = node
            # insert last_node at appropriate place for common_ancestor
            self._insert_relative_to(common_ancestor, last_node)
            # create clone of fmt element; move furthest block's children
            clone = doc.new_element(entry[1], NS_HTML,
                                    dict(entry[2]) if entry[2] else None)
            for c in doc.children(fb):
                doc.append_child(clone, c)
            doc.append_child(fb, clone)
            # afe: remove entry; insert new entry for clone at bookmark
            old_idx = self.afe.index(entry)
            if old_idx < bookmark:
                bookmark -= 1
            self.afe.remove(entry)
            self.afe.insert(bookmark, [clone, entry[1], entry[2]])
            # stack: remove fmt elt; insert clone after furthest block
            # (the clone has the element's tag: ``_open`` is unchanged),
            # then re-record the positions that moved: from the format
            # element's to the clone's, or to the top if the inner loop
            # removed entries
            del stack[idx]
            stack.insert(fb_i, clone)
            self._restack(idx, fb_i + 1 if fb_i == furthest else None)

    def _insert_relative_to(self, target: int, node: int) -> None:
        """Appropriate place for inserting relative to a given target
        (used by AAA step 14) — honors foster parenting for tables."""
        doc = self.doc
        if doc.tag[target] in _TABLE_PARTS and doc.ns[target] == NS_HTML:
            # foster parent
            for i in range(len(self.stack) - 1, -1, -1):
                n = self.stack[i]
                if doc.tag[n] == "table" and doc.ns[n] == NS_HTML:
                    p = doc.parent[n]
                    if p != NULL:
                        doc.insert_before(n, node)
                        return
                    doc.append_child(self.stack[i - 1], node)
                    return
            doc.append_child(self.stack[0], node)
            return
        doc.append_child(target, node)

    def _any_other_end_tag(self, tag: str) -> None:
        if not self._open.get(tag):
            return  # the walk below can only stop at a special element
        doc = self.doc
        for i in range(len(self.stack) - 1, -1, -1):
            n = self.stack[i]
            if doc.tag[n] == tag and doc.ns[n] == NS_HTML:
                self._generate_implied_end_tags(exclude=tag)
                self._pop_to(i)
                return
            if self._is_special(n):
                return

    # ==================================================================
    # insertion-mode machinery
    # ==================================================================
    # ``mode`` names the insertion mode; _MODES maps it to its handler
    def _process(self, token) -> None:
        _MODES[self.mode](self, token)

    def _reset_insertion_mode(self) -> None:
        doc = self.doc
        stack = self.stack
        context = self.fragment_context_tag
        for i in range(len(stack) - 1, -1, -1):
            n = stack[i]
            last = i == 0
            tag = doc.tag[n]
            if last and context is not None:
                tag = context
            elif doc.ns[n] != NS_HTML:
                # every case below names an HTML element; a foreign node
                # (e.g. a MathML <template>) matches none of them and
                # must fall through (round-4 fuzz find: a math template
                # selected the in-template mode with no template modes)
                if last:
                    self.mode = "in_body"
                    return
                continue
            mode = _RESET_MODES.get(tag)
            if mode is not None:
                self.mode = mode
                return
            if tag == "select":
                self.mode = "in_select"
                if not last:
                    for j in range(i - 1, 0, -1):
                        at = doc.tag[stack[j]]
                        if at == "template":
                            break
                        if at == "table":
                            self.mode = "in_select_in_table"
                            break
                return
            if tag in _CELLS and not last:
                self.mode = "in_cell"
                return
            if tag == "template":
                self.mode = self.template_modes[-1] if self.template_modes else "in_template"
                return
            if tag == "head" and not last:
                self.mode = "in_head"
                return
            if tag == "html":
                self.mode = "before_head" if self.head_id == NULL else "after_head"
                return
            if last:
                self.mode = "in_body"
                return

    # ------------------------------------------------------------------
    # initial / before html / before head
    # ------------------------------------------------------------------
    def _mode_initial(self, token) -> None:
        tt = token[0]
        if tt == "char":
            text = token[1].lstrip(_WS)
            if not text:
                return
            self.doc.quirks = True
            self.mode = "before_html"
            self._reprocess(("char", text, token[2], token[3]))
            return
        if tt == "comment":
            self._insert_comment_to(self.doc.root, token)
            return
        if tt == "doctype":
            if self.ignore_doctype:  # reference ignore_doctype=1: the
                return               # token is dropped, no doctype node
            name, public, system, force_quirks = token[1], token[2], token[3], token[4]
            nid = self.doc.new_doctype(name, public, system)
            self.doc.append_child(self.doc.root, nid)
            self.doc.doctype_node = nid
            self.doc.quirks = self._doctype_quirks(name, public, system, force_quirks)
            self.mode = "before_html"
            return
        self.doc.quirks = True
        self.mode = "before_html"
        self._reprocess(token)

    @staticmethod
    def _doctype_quirks(name, public, system, force_quirks) -> bool:
        if force_quirks or name != "html":
            return True
        pl = (public or "").translate(ASCII_LOWER)
        sl = (system or "").translate(ASCII_LOWER)
        if public is None and system is None:
            return False
        if pl in ("-//w3o//dtd w3 html strict 3.0//en//",
                  "-/w3c/dtd html 4.0 transitional/en", "html"):
            return True
        if sl == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd":
            return True
        quirky_prefixes = (
            "+//silmaril//", "-//as//", "-//advasoft ltd//", "-//ietf//dtd html 2.0",
            "-//ietf//dtd html 2.1", "-//ietf//dtd html 3.0", "-//ietf//dtd html 3.2",
            "-//ietf//dtd html 3//", "-//ietf//dtd html level", "-//ietf//dtd html strict//",
            "-//ietf//dtd html strict level", "-//ietf//dtd html//", "-//metrius//",
            "-//microsoft//dtd internet explorer", "-//netscape comm. corp.//",
            "-//o'reilly and associates//", "-//softquad software//", "-//softquad//",
            "-//spyglass//", "-//sq//", "-//sun microsystems corp.//", "-//w3c//dtd html 3",
            "-//w3c//dtd w3 html//", "-//w3o//dtd w3 html//", "-//webtechs//",
            "-//ietf//dtd html//",
        )
        if any(pl.startswith(p) for p in quirky_prefixes):
            return True
        if system is None and (
            pl.startswith("-//w3c//dtd html 4.01 frameset//")
            or pl.startswith("-//w3c//dtd html 4.01 transitional//")
        ):
            return True
        return False

    def _insert_comment_to(self, parent: int, token) -> None:
        self._insert_comment(token, parent=parent)

    def _mode_before_html(self, token) -> None:
        tt = token[0]
        if tt == "doctype":
            return
        if tt == "comment":
            self._insert_comment_to(self.doc.root, token)
            return
        if tt == "char":
            text = token[1].lstrip(_WS)
            if not text:
                return
            token = ("char", text, token[2], token[3])
        if tt == "start" and token[1] == "html":
            nid = self._insert_html_root(token)
            self.mode = "before_head"
            return
        if tt == "end" and token[1] not in ("head", "body", "html", "br"):
            return
        self._insert_html_root(None)
        self.mode = "before_head"
        self._reprocess(token)

    def _insert_html_root(self, token) -> int:
        doc = self.doc
        attrs = dict(token[2]) if token is not None and token[2] else None
        nid = doc.new_element("html", NS_HTML, attrs)
        if token is not None and len(token) >= 8:
            doc.raw_begin[nid] = token[4]
            doc.raw_length[nid] = token[5]
            doc.elem_begin[nid] = token[6]
            doc.elem_length[nid] = token[7]
        doc.append_child(doc.root, nid)
        doc.html_node = nid
        self._push(nid)
        return nid

    def _mode_before_head(self, token) -> None:
        tt = token[0]
        if tt == "char":
            text = token[1].lstrip(_WS)
            if not text:
                return
            token = ("char", text, token[2], token[3])
            tt = "char"
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            if token[1] == "html":
                self._mode_in_body(token)
                return
            if token[1] == "head":
                nid = self._insert_element(token)
                self.head_id = nid
                self.doc.head_node = nid
                self.mode = "in_head"
                return
        if tt == "end" and token[1] not in ("head", "body", "html", "br"):
            return
        nid = self._insert_element(("start", "head", [], False))
        self.head_id = nid
        self.doc.head_node = nid
        self.mode = "in_head"
        self._reprocess(token)

    # ------------------------------------------------------------------
    # in head / after head
    # ------------------------------------------------------------------
    def _mode_in_head(self, token) -> None:
        tt = token[0]
        if tt == "char":
            ws, rest, pos = _split_leading_ws(token)
            if ws:
                self._insert_text(ws)
            if not rest:
                return
            token = ("char", rest, pos, len(rest))
            self._pop()  # head
            self.mode = "after_head"
            self._reprocess(token)
            return
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            tag = token[1]
            if tag == "html":
                self._mode_in_body(token)
                return
            if tag in ("base", "basefont", "bgsound", "link", "meta"):
                self._insert_element(token)
                self._pop()
                return
            if tag == "title":
                self._insert_element(token)
                self.tok.set_rawtext(tag, "rcdata")
                self.original_mode = self.mode
                self.mode = "text"
                return
            if tag in ("noframes", "style", "noscript"):
                if tag == "noscript" and not self.scripts:
                    # scripting disabled (reference scripts=0): contents
                    # parse as child nodes, WHATWG "in head noscript"
                    self._insert_element(token)
                    self.mode = "in_head_noscript"
                    return
                self._insert_element(token)
                self.tok.set_rawtext(tag, "rawtext")
                self.original_mode = self.mode
                self.mode = "text"
                return
            if tag == "script":
                self._insert_element(token)
                self.tok.set_rawtext(tag, "script")
                self.original_mode = self.mode
                self.mode = "text"
                return
            if tag == "template":
                self._insert_element(token)
                self.afe.append(MARKER)
                self.frameset_ok = False
                self.mode = "in_template"
                self.template_modes.append("in_template")
                return
            if tag == "head":
                return
        if tt == "end":
            tag = token[1]
            if tag == "head":
                self._pop()
                self.mode = "after_head"
                return
            if tag == "template":
                self._end_template()
                return
            if tag not in ("body", "html", "br"):
                return
        self._pop()
        self.mode = "after_head"
        self._reprocess(token)

    def _mode_in_head_noscript(self, token) -> None:
        """WHATWG "in head noscript" (scripting disabled; reference
        scripts=0, DOM.pod:3240-3244): noscript contents parse as child
        nodes, restricted to head-legal content."""
        tt = token[0]
        if tt == "char":
            ws, rest, pos = _split_leading_ws(token)
            if ws:
                self._insert_text(ws)
            if not rest:
                return
            token = ("char", rest, pos, len(rest))  # parse error: pop
        elif tt == "comment":
            self._insert_comment(token)
            return
        elif tt == "doctype":
            return
        elif tt == "start":
            tag = token[1]
            if tag == "html":
                self._mode_in_body(token)
                return
            if tag in ("basefont", "bgsound", "link", "meta", "noframes",
                       "style"):
                self._mode_in_head(token)
                return
            if tag in ("head", "noscript"):
                return
        elif tt == "end":
            if token[1] == "noscript":
                self._pop()
                self.mode = "in_head"
                return
            if token[1] != "br":
                return
        # anything else: pop the noscript, reprocess in head
        self._pop()
        self.mode = "in_head"
        self._reprocess(token)

    def _end_template(self) -> None:
        if not self._template_open():
            return
        self._generate_implied_end_tags(thorough=True)
        if self.stack and not (
                self.doc.tag[self.stack[-1]] == "template"
                and self.doc.ns[self.stack[-1]] == NS_HTML):
            # spec parse error: </template> force-pops unclosed elements;
            # if any of them carried an AFE marker (applet/marquee/
            # object), the marker bookkeeping differs on reparse of the
            # serialization — flag as misnested (round-trip lossy)
            self.doc.misnested = True
        self._pop_until("template")
        self._afe_clear_to_marker()
        if self.template_modes:
            self.template_modes.pop()
        self._reset_insertion_mode()

    def _mode_after_head(self, token) -> None:
        tt = token[0]
        if tt == "char":
            ws, rest, pos = _split_leading_ws(token)
            if ws:
                self._insert_text(ws)
            if not rest:
                return
            token = ("char", rest, pos, len(rest))
            self._insert_body(None)
            self.mode = "in_body"
            self._reprocess(token)
            return
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            tag = token[1]
            if tag == "html":
                self._mode_in_body(token)
                return
            if tag == "body":
                self._insert_body(token)
                self.frameset_ok = False
                self.mode = "in_body"
                return
            if tag == "frameset":
                self._insert_element(token)
                self.mode = "in_frameset"
                return
            if tag in ("base", "basefont", "bgsound", "link", "meta", "noframes",
                       "script", "style", "template", "title"):
                self._push(self.head_id)
                self._mode_in_head(token)
                if self._stack_index(self.head_id) >= 0:
                    self._unstack(self.head_id)
                return
            if tag == "head":
                return
        if tt == "end":
            if token[1] == "template":
                self._end_template()
                return
            if token[1] not in ("body", "html", "br"):
                return
        self._insert_body(None)
        self.mode = "in_body"
        self._reprocess(token)

    def _insert_body(self, token) -> int:
        if token is None:
            token = ("start", "body", [], False)
        nid = self._insert_element(token)
        self.doc.body_node = nid
        return nid

    # ------------------------------------------------------------------
    # in body
    # ------------------------------------------------------------------
    def _mode_in_body(self, token) -> None:
        tt = token[0]
        if tt == "char":
            text = token[1]
            if self.skip_newline:
                self.skip_newline = False
                if text.startswith("\n"):
                    text = text[1:]
                if not text:
                    return
            if "\x00" in text:
                text = text.replace("\x00", "")
                if not text:
                    return
            afe = self.afe
            if afe and afe[-1] is not MARKER and afe[-1][0] != self.stack[-1]:
                self._reconstruct_afe()
            self._insert_text(text)
            if self.frameset_ok and text.strip(_WS):
                self.frameset_ok = False
            return
        self.skip_newline = False
        if tt == "start":
            start = _BODY_START.get(token[1])
            if start is not None:
                start(self, token)
            else:  # any other start tag: an ordinary element
                afe = self.afe
                if afe and afe[-1] is not MARKER and \
                        afe[-1][0] != self.stack[-1]:
                    self._reconstruct_afe()
                self._insert_element(token)
        elif tt == "end":
            tag = token[1]
            top = self.stack[-1]
            if tag not in _BODY_END_SPECIAL and self.doc.tag[top] == tag \
                    and self.doc.ns[top] == NS_HTML:
                # the end tag of the current node: every rule it can take
                # here (block, p, list item, heading, any other) pops it
                self.stack.pop()
                self._open[tag] -= 1
            else:
                end = _BODY_END.get(tag)
                if end is not None:
                    end(self, token)
                else:
                    self._any_other_end_tag(tag)
        elif tt == "comment":
            self._insert_comment(token)
        elif tt == "eof":
            if self.template_modes:
                # spec: process per the "in template" rules — its
                # no-template-on-stack branch is the fragment-case
                # stop (a direct _end_template here would early-return
                # without consuming a mode and loop forever)
                self._mode_in_template(token)
                return
            self.done = True

    # "in body" start tags, one handler per rule (table: _BODY_START)
    def _start_html(self, token) -> None:
        if not self._template_open():
            self._merge_attrs(self.stack[0], token)

    def _merge_attrs(self, nid: int, token) -> None:
        doc = self.doc
        attrs = doc.attrs[nid]
        for k, v in token[2]:
            if attrs is None:
                attrs = {}
                doc.attrs[nid] = attrs
            if k not in attrs:
                attrs[k] = v

    def _start_head_content(self, token) -> None:
        if token[1] == "noscript" and not self.scripts:
            # scripting disabled: ordinary element in body (WHATWG
            # "in body", noscript branch applies only when enabled)
            self._reconstruct_afe()
            self._insert_element(token)
            return
        self._mode_in_head(token)

    def _start_body(self, token) -> None:
        stack = self.stack
        if len(stack) < 2 or self.doc.tag[stack[1]] != "body" or \
                self._template_open():
            return
        self.frameset_ok = False
        self._merge_attrs(stack[1], token)

    def _start_frameset(self, token) -> None:
        doc = self.doc
        if len(self.stack) < 2 or doc.tag[self.stack[1]] != "body" or \
                not self.frameset_ok:
            return
        body = self.stack[1]
        if doc.parent[body] != NULL:
            doc.remove(body)
        self._pop_to(1)
        self._insert_element(token)
        self.mode = "in_frameset"

    def _start_block(self, token) -> None:
        self._close_p()
        self._insert_element(token)

    def _start_heading(self, token) -> None:
        self._close_p()
        if self._current_tag() in HEADING_TAGS:
            self._pop()
        self._insert_element(token)

    def _start_pre(self, token) -> None:
        self._close_p()
        self._insert_element(token)
        self.skip_newline = True
        self.frameset_ok = False

    def _start_form(self, token) -> None:
        in_template = self._template_open()
        if self.form_id != NULL and not in_template:
            return
        self._close_p()
        nid = self._insert_element(token)
        if not in_template:
            self.form_id = nid

    def _start_list_item(self, token) -> None:
        self.frameset_ok = False
        group = ("li",) if token[1] == "li" else ("dd", "dt")
        doc = self.doc
        top = self.stack[-1]
        t = doc.tag[top]
        if t in group and doc.ns[top] == NS_HTML:
            self.stack.pop()  # the open item is the current node
            self._open[t] -= 1
        elif self._any_open(group):
            for n in reversed(self.stack):
                t = doc.tag[n]
                if t in group and doc.ns[n] == NS_HTML:
                    self._generate_implied_end_tags(exclude=t)
                    self._pop_until(t)
                    break
                if self._is_special(n) and t not in ("address", "div", "p"):
                    break
        self._close_p()
        self._insert_element(token)

    def _start_plaintext(self, token) -> None:
        self._close_p()
        self._insert_element(token)
        self.tok.set_rawtext("plaintext", "plaintext")

    def _start_button(self, token) -> None:
        if self._in_scope("button"):
            self._generate_implied_end_tags()
            self._pop_until("button")
        self._reconstruct_afe()
        self._insert_element(token)
        self.frameset_ok = False

    def _start_a(self, token) -> None:
        entry = self._afe_find("a")
        if entry is not None:
            self._adoption_agency("a")
            if entry in self.afe:
                self.afe.remove(entry)
            if self._stack_index(entry[0]) >= 0:
                self._unstack(entry[0])
        self._start_formatting(token)

    def _start_formatting(self, token) -> None:
        if self.afe:
            self._reconstruct_afe()
        nid = self._insert_element(token)
        self._afe_push(nid, token[1], self.doc.attrs[nid])

    def _start_nobr(self, token) -> None:
        self._reconstruct_afe()
        if self._in_scope("nobr"):
            self._adoption_agency("nobr")
            self._reconstruct_afe()
        self._start_formatting(token)

    def _start_marker(self, token) -> None:
        self._reconstruct_afe()
        self._insert_element(token)
        self.afe.append(MARKER)
        self.frameset_ok = False

    def _start_table(self, token) -> None:
        if not self.doc.quirks:
            self._close_p()
        self._insert_element(token)
        self.frameset_ok = False
        self.mode = "in_table"

    def _start_void(self, token) -> None:
        self._reconstruct_afe()
        self._insert_element(token)
        self._pop()
        self.frameset_ok = False

    def _start_input(self, token) -> None:
        self._reconstruct_afe()
        nid = self._insert_element(token)
        self._pop()
        attrs = self.doc.attrs[nid] or {}
        if attrs.get("type", "").translate(ASCII_LOWER) != "hidden":
            self.frameset_ok = False

    def _start_param(self, token) -> None:
        self._insert_element(token)
        self._pop()

    def _start_hr(self, token) -> None:
        self._close_p()
        self._start_param(token)
        self.frameset_ok = False

    def _start_image(self, token) -> None:
        self._mode_in_body(("start", "img") + token[2:])

    def _start_textarea(self, token) -> None:
        self._insert_element(token)
        self.tok.set_rawtext("textarea", "rcdata")
        self.skip_newline = True
        self.frameset_ok = False
        self.original_mode = self.mode
        self.mode = "text"

    def _start_rawtext(self, token) -> None:
        tag = token[1]
        if tag == "xmp":
            self._close_p()
            self._reconstruct_afe()
        if tag != "noembed":
            self.frameset_ok = False
        self._insert_element(token)
        self.tok.set_rawtext(tag, "rawtext")
        # generic rawtext algorithm: original mode = CURRENT mode
        # (in-table delegation must restore the table mode, or the
        # following text skips foster parenting — round-4 fuzz find)
        self.original_mode = self.mode
        self.mode = "text"

    def _start_select(self, token) -> None:
        if self.afe:
            self._reconstruct_afe()
        self._insert_element(token)
        self.frameset_ok = False
        if self.mode in ("in_table", "in_caption", "in_table_body",
                         "in_row", "in_cell"):
            self.mode = "in_select_in_table"
        else:
            self.mode = "in_select"

    def _start_option(self, token) -> None:
        if self._current_tag() == "option":
            self._pop()
        self._reconstruct_afe()
        self._insert_element(token)

    def _start_ruby_text(self, token) -> None:
        if self._in_scope("ruby"):
            self._generate_implied_end_tags(
                exclude="rtc" if token[1] in ("rp", "rt") else None)
        self._insert_element(token)

    def _start_foreign(self, token) -> None:
        if self.afe:
            self._reconstruct_afe()
        svg = token[1] == "svg"
        attrs = adjust_foreign_attrs(token[2], svg=svg, mathml=not svg)
        self._insert_element(token, ns=NS_SVG if svg else NS_MATHML,
                             attrs_override=attrs)
        if token[3]:
            self._pop()

    def _start_ignored(self, token) -> None:
        pass

    # "in body" end tags (table: _BODY_END; any other: _any_other_end_tag)
    def _end_template_tag(self, token) -> None:
        self._end_template()

    def _end_body(self, token) -> None:
        if self._in_scope("body"):
            self.mode = "after_body"
            if token[1] == "html":
                self._reprocess(token)

    def _end_p(self, token) -> None:
        if not self._in_button_scope("p"):
            self._insert_element(("start", "p", [], False))
        self._close_p()

    def _end_list_item(self, token) -> None:
        tag = token[1]
        if self._in_list_scope(tag) if tag == "li" else self._in_scope(tag):
            self._generate_implied_end_tags(exclude=tag)
            self._pop_until(tag)

    def _end_block(self, token) -> None:
        tag = token[1]
        if self._in_scope(tag):
            self._generate_implied_end_tags()
            self._pop_until(tag)

    def _end_form(self, token) -> None:
        if not self._template_open():
            node = self.form_id
            self.form_id = NULL
            if node == NULL or self._stack_index(node) < 0 or \
                    not self._in_scope("form"):
                return
            self._generate_implied_end_tags()
            if self.stack[-1] != node:
                # remove-without-popping left elements above the
                # form open: the tree cannot round-trip through
                # serialization (the explicit close tags re-parse
                # differently) — same family as nested forms
                self.doc.misnested = True
            self._unstack(node)
        elif self._in_scope("form"):
            self._generate_implied_end_tags()
            self._pop_until("form")

    def _end_heading(self, token) -> None:
        if self._in_scope(HEADING_TAGS):
            self._generate_implied_end_tags()
            self._pop_until(HEADING_TAGS)

    def _end_formatting(self, token) -> None:
        self._adoption_agency(token[1])

    def _end_marker(self, token) -> None:
        tag = token[1]
        if self._in_scope(tag):
            self._generate_implied_end_tags()
            self._pop_until(tag)
            self._afe_clear_to_marker()

    def _end_br(self, token) -> None:
        self._mode_in_body(("start", "br", [], False))

    # ------------------------------------------------------------------
    # text mode (rawtext/rcdata/script bodies)
    # ------------------------------------------------------------------
    def _mode_text(self, token) -> None:
        tt = token[0]
        if tt == "char":
            text = token[1]
            if self.skip_newline:
                self.skip_newline = False
                if text.startswith("\n"):
                    text = text[1:]
            self._insert_text(text)
            return
        self.skip_newline = False
        if tt == "eof":
            self._pop()
            self.mode = self.original_mode
            self._reprocess(token)
            return
        # end tag
        self._pop()
        self.mode = self.original_mode

    # ------------------------------------------------------------------
    # tables
    # ------------------------------------------------------------------
    def _clear_back_to(self, tags: frozenset) -> None:
        """Pop until the current node is an HTML element in ``tags``."""
        stack, o = self.stack, self._open
        names, nss = self.doc.tag, self.doc.ns
        while stack:
            n = stack[-1]
            t = names[n]
            if nss[n] == NS_HTML and t in tags:
                return
            stack.pop()
            o[t] -= 1

    def _mode_in_table(self, token) -> None:
        tt = token[0]
        if tt == "char":
            if self.doc.tag[self.stack[-1]] in _TABLE_PARTS:
                # "in table text", entered with this token already taken
                text = token[1].replace("\x00", "")
                self.pending_table_text = [text] if text else []
                self.original_mode = self.mode
                self.mode = "in_table_text"
                return
        elif tt == "start":
            tag = token[1]
            section = _TABLE_SECTION_START.get(tag)
            if section is not None:
                # caption/colgroup/col/tbody/thead/tfoot/tr/td/th: clear
                # to the table, insert the section (or the implied one
                # and reprocess the token in its mode)
                mode, implied = section
                self._clear_back_to(_TABLE_CONTEXT)
                if tag == "caption":
                    self.afe.append(MARKER)
                self.mode = mode
                if implied is None:
                    self._insert_element(token)
                else:
                    self._insert_element(("start", implied, [], False))
                    self._reprocess_now(token)
                return
            if tag == "table":
                if self._in_table_scope("table"):
                    self._pop_until("table")
                    self._reset_insertion_mode()
                    self._reprocess_now(token)
                return
            if tag in ("style", "script", "template"):
                self._mode_in_head(token)
                return
            if tag == "input":
                attrs = dict(token[2])
                if attrs.get("type", "").translate(ASCII_LOWER) == "hidden":
                    self._insert_element(token)
                    self._pop()
                    return
            elif tag == "form":
                doc = self.doc
                if self.form_id == NULL and not any(
                    doc.tag[n] == "template" for n in self.stack
                ):
                    nid = self._insert_element(token)
                    self.form_id = nid
                    self._pop()
                return
        elif tt == "end":
            tag = token[1]
            if tag == "table":
                if self._close_table_part("table", _TABLE):
                    self._reset_insertion_mode()
                return
            if tag in _TABLE_END_IGNORED:
                return
            if tag == "template":
                self._end_template()
                return
        elif tt == "comment":
            self._insert_comment(token)
            return
        elif tt == "doctype":
            return
        elif tt == "eof":
            self._mode_in_body(token)
            return
        # anything else: foster parenting
        self.foster_parenting = True
        self._mode_in_body(token)
        self.foster_parenting = False

    def _mode_in_table_text(self, token) -> None:
        if token[0] == "char":
            text = token[1].replace("\x00", "")
            if text:
                self.pending_table_text.append(text)
            return
        # flush
        text = "".join(self.pending_table_text)
        self.pending_table_text = []
        if text:
            if text.strip(_WS):
                self.foster_parenting = True
                if self.afe:
                    self._reconstruct_afe()
                self._insert_text(text)
                self.frameset_ok = False
                self.foster_parenting = False
            else:
                self._insert_text(text)
        self.mode = self.original_mode
        self._reprocess_now(token)

    def _mode_in_caption(self, token) -> None:
        tt = token[0]
        if tt == "end":
            tag = token[1]
            if tag == "caption":
                self._close_caption()
                return
            if tag == "table":
                if self._in_table_scope("caption"):
                    self._close_caption()
                    self._reprocess_now(token)
                return
            if tag in _CAPTION_END_IGNORED:
                return
        elif tt == "start" and token[1] in _TABLE_STRUCTURE:
            if self._in_table_scope("caption"):
                self._close_caption()
                self._reprocess_now(token)
            return
        self._mode_in_body(token)

    def _close_caption(self) -> None:
        top = self.stack[-1]
        if self.doc.tag[top] == "caption" and self.doc.ns[top] == NS_HTML:
            self.stack.pop()  # the caption is the current node
            self._open["caption"] -= 1
        elif self._in_table_scope("caption"):
            self._generate_implied_end_tags()
            self._pop_until("caption")
        else:
            return
        self._afe_clear_to_marker()
        self.mode = "in_table"

    def _mode_in_column_group(self, token) -> None:
        tt = token[0]
        if tt == "char":
            ws, rest, pos = _split_leading_ws(token)
            if ws:
                self._insert_text(ws)
            if not rest:
                return
            token = ("char", rest, pos, len(rest))
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            if token[1] == "html":
                self._mode_in_body(token)
                return
            if token[1] == "col":
                self._insert_element(token)
                self._pop()
                return
            if token[1] == "template":
                self._mode_in_head(token)
                return
        if tt == "end":
            if token[1] == "colgroup":
                if self._current_tag() == "colgroup":
                    self._pop()
                    self.mode = "in_table"
                return
            if token[1] == "col":
                return
            if token[1] == "template":
                self._end_template()
                return
        if tt == "eof":
            self._mode_in_body(token)
            return
        if self._current_tag() == "colgroup":
            self._pop()
            self.mode = "in_table"
            self._reprocess_now(token)

    def _close_table_part(self, target, context: frozenset) -> bool:
        """If ``target`` (a tag name or a set) is in table scope, clear
        the stack back to ``context`` and pop the element reached; False
        if not in scope.  A current node matching ``target`` is popped
        without the walks."""
        stack = self.stack
        top = stack[-1]
        tag = self.doc.tag[top]
        if self.doc.ns[top] == NS_HTML and (
                tag == target if isinstance(target, str) else tag in target):
            stack.pop()
            self._open[tag] -= 1
            return True
        if not self._in_table_scope(target):
            return False
        self._clear_back_to(context)
        self._pop()
        return True

    def _mode_in_table_body(self, token) -> None:
        tt = token[0]
        if tt == "start":
            tag = token[1]
            if tag == "tr":
                self._clear_back_to(_TBODY_CONTEXT)
                self._insert_element(token)
                self.mode = "in_row"
                return
            if tag in _CELLS:
                self._clear_back_to(_TBODY_CONTEXT)
                self._insert_element(("start", "tr", [], False))
                self.mode = "in_row"
                self._reprocess_now(token)
                return
            if tag in _TABLE_HEAD_START:
                if self._close_table_part(_SECTIONS, _TBODY_CONTEXT):
                    self.mode = "in_table"
                    self._reprocess_now(token)
                return
        elif tt == "end":
            tag = token[1]
            if tag in _SECTIONS:
                if self._close_table_part(tag, _TBODY_CONTEXT):
                    self.mode = "in_table"
                return
            if tag == "table":
                if self._close_table_part(_SECTIONS, _TBODY_CONTEXT):
                    self.mode = "in_table"
                    self._reprocess_now(token)
                return
            if tag in _TABLE_BODY_END_IGNORED:
                return
        self._mode_in_table(token)

    def _mode_in_row(self, token) -> None:
        tt = token[0]
        if tt == "start":
            tag = token[1]
            if tag in _CELLS:
                self._clear_back_to(_ROW_CONTEXT)
                self._insert_element(token)
                self.mode = "in_cell"
                self.afe.append(MARKER)
                return
            if tag in _ROW_CLOSERS:
                if self._close_table_part("tr", _ROW_CONTEXT):
                    self.mode = "in_table_body"
                    self._reprocess_now(token)
                return
        elif tt == "end":
            tag = token[1]
            if tag == "tr" or tag == "table":
                if self._close_table_part("tr", _ROW_CONTEXT):
                    self.mode = "in_table_body"
                    if tag == "table":
                        self._reprocess_now(token)
                return
            if tag in _SECTIONS:
                if self._in_table_scope(tag):
                    if self._close_table_part("tr", _ROW_CONTEXT):
                        self.mode = "in_table_body"
                    self._reprocess_now(token)
                return
            if tag in _ROW_END_IGNORED:
                return
        self._mode_in_table(token)

    def _mode_in_cell(self, token) -> None:
        tt = token[0]
        if tt == "end":
            tag = token[1]
            if tag in _CELLS:
                top = self.stack[-1]
                if self.doc.tag[top] == tag and self.doc.ns[top] == NS_HTML:
                    self.stack.pop()  # the cell is the current node
                    self._open[tag] -= 1
                elif self._in_table_scope(tag):
                    self._generate_implied_end_tags()
                    self._pop_until(tag)
                else:
                    return
                self._afe_clear_to_marker()
                self.mode = "in_row"
                return
            if tag in _CELL_END_IGNORED:
                return
            if tag in _TABLE_PARTS:
                if self._in_table_scope(tag):
                    self._close_cell()
                    self._reprocess_now(token)
                return
        elif tt == "start" and token[1] in _TABLE_STRUCTURE:
            if self._in_table_scope(_CELLS):
                self._close_cell()
                self._reprocess_now(token)
            return
        self._mode_in_body(token)

    def _close_cell(self) -> None:
        top = self.stack[-1]
        tag = self.doc.tag[top]
        if tag in _CELLS and self.doc.ns[top] == NS_HTML:
            self.stack.pop()  # the cell is the current node
            self._open[tag] -= 1
        else:
            self._generate_implied_end_tags()
            self._pop_until(_CELLS)
        self._afe_clear_to_marker()
        self.mode = "in_row"

    # ------------------------------------------------------------------
    # select
    # ------------------------------------------------------------------
    def _mode_in_select(self, token) -> None:
        tt = token[0]
        doc = self.doc
        if tt == "char":
            text = token[1]
            if "\x00" in text:
                text = text.replace("\x00", "")
            self._insert_text(text)
            return
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            tag = token[1]
            if tag == "html":
                self._mode_in_body(token)
                return
            if tag == "option":
                if self._current_tag() == "option":
                    self._pop()
                self._insert_element(token)
                return
            if tag == "optgroup":
                if self._current_tag() == "option":
                    self._pop()
                if self._current_tag() == "optgroup":
                    self._pop()
                self._insert_element(token)
                return
            if tag == "hr":
                # current spec (hr-in-select, 2023): pop an open
                # option/optgroup, insert the hr, pop it (void)
                if self._current_tag() == "option":
                    self._pop()
                if self._current_tag() == "optgroup":
                    self._pop()
                self._insert_element(token)
                self._pop()
                return
            if tag == "select":
                if self._in_select_scope("select"):
                    self._pop_until("select")
                    self._reset_insertion_mode()
                return
            if tag in ("input", "keygen", "textarea"):
                if self._in_select_scope("select"):
                    self._pop_until("select")
                    self._reset_insertion_mode()
                    self._reprocess(token)
                return
            if tag in ("script", "template"):
                self._mode_in_head(token)
                return
        if tt == "end":
            tag = token[1]
            if tag == "optgroup":
                if self._current_tag() == "option" and len(self.stack) >= 2 \
                        and doc.tag[self.stack[-2]] == "optgroup":
                    self._pop()
                if self._current_tag() == "optgroup":
                    self._pop()
                return
            if tag == "option":
                if self._current_tag() == "option":
                    self._pop()
                return
            if tag == "select":
                if self._in_select_scope("select"):
                    self._pop_until("select")
                    self._reset_insertion_mode()
                return
            if tag == "template":
                self._end_template()
                return
        if tt == "eof":
            self._mode_in_body(token)
            return

    def _mode_in_select_in_table(self, token) -> None:
        tt = token[0]
        if tt == "start" and token[1] in _SELECT_IN_TABLE_CLOSERS:
            self._pop_until("select")
            self._reset_insertion_mode()
            self._reprocess(token)
            return
        if tt == "end" and token[1] in _SELECT_IN_TABLE_CLOSERS:
            if self._in_table_scope(token[1]):
                self._pop_until("select")
                self._reset_insertion_mode()
                self._reprocess(token)
            return
        self._mode_in_select(token)

    # ------------------------------------------------------------------
    # template (simplified but mode-stack correct)
    # ------------------------------------------------------------------
    def _mode_in_template(self, token) -> None:
        tt = token[0]
        if tt in ("char", "comment", "doctype"):
            self._mode_in_body(token)
            return
        if tt == "start":
            tag = token[1]
            if tag in ("base", "basefont", "bgsound", "link", "meta",
                       "noframes", "script", "style", "template", "title"):
                self._mode_in_head(token)
                return
            mode = _TEMPLATE_START_MODES.get(tag, "in_body")
            self.template_modes[-1] = mode
            self.mode = mode
            self._reprocess_now(token)
            return
        if tt == "end":
            if token[1] == "template":
                self._end_template()
            return
        if tt == "eof":
            if not self._template_open():
                self.done = True
                return
            self._end_template()
            self._reprocess(token)

    # ------------------------------------------------------------------
    # after body / frameset / trailers
    # ------------------------------------------------------------------
    def _mode_after_body(self, token) -> None:
        tt = token[0]
        if tt == "char":
            ws, rest, pos = _split_leading_ws(token)
            if ws:
                self._mode_in_body(("char", ws, token[2], len(ws)))
            if not rest:
                return
            self.mode = "in_body"
            self._reprocess(("char", rest, pos, len(rest)))
            return
        if tt == "comment":
            self._insert_comment(token, parent=self.stack[0])
            return
        if tt == "doctype":
            return
        if tt == "start" and token[1] == "html":
            self._mode_in_body(token)
            return
        if tt == "end" and token[1] == "html":
            if self.fragment_context_tag is None:
                self.mode = "after_after_body"
            return
        if tt == "eof":
            self.done = True
            return
        self.mode = "in_body"
        self._reprocess(token)

    def _mode_in_frameset(self, token) -> None:
        tt = token[0]
        if tt == "char":
            ws = "".join(c for c in token[1] if c in _WS)
            if ws:
                self._insert_text(ws)
            return
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            tag = token[1]
            if tag == "html":
                self._mode_in_body(token)
                return
            if tag == "frameset":
                self._insert_element(token)
                return
            if tag == "frame":
                self._insert_element(token)
                self._pop()
                return
            if tag == "noframes":
                self._mode_in_head(token)
                return
        if tt == "end" and token[1] == "frameset":
            if self._current_tag() != "html":
                self._pop()
            if self.fragment_context_tag is None and self._current_tag() != "frameset":
                self.mode = "after_frameset"
            return
        if tt == "eof":
            self.done = True

    def _mode_after_frameset(self, token) -> None:
        tt = token[0]
        if tt == "char":
            ws = "".join(c for c in token[1] if c in _WS)
            if ws:
                self._insert_text(ws)
            return
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "start" and token[1] == "html":
            self._mode_in_body(token)
            return
        if tt == "start" and token[1] == "noframes":
            self._mode_in_head(token)
            return
        if tt == "end" and token[1] == "html":
            self.mode = "after_after_frameset"
            return
        if tt == "eof":
            self.done = True

    def _mode_after_after_body(self, token) -> None:
        tt = token[0]
        if tt == "comment":
            self._insert_comment(token, parent=self.doc.root)
            return
        if tt == "doctype":
            self._mode_in_body(token)
            return
        if tt == "char":
            ws, rest, pos = _split_leading_ws(token)
            if ws:
                self._mode_in_body(("char", ws, token[2], len(ws)))
            if not rest:
                return
            self.mode = "in_body"
            self._reprocess(("char", rest, pos, len(rest)))
            return
        if tt == "start" and token[1] == "html":
            self._mode_in_body(token)
            return
        if tt == "eof":
            self.done = True
            return
        self.mode = "in_body"
        self._reprocess(token)

    def _mode_after_after_frameset(self, token) -> None:
        tt = token[0]
        if tt == "comment":
            self._insert_comment(token, parent=self.doc.root)
            return
        if tt in ("doctype",):
            return
        if tt == "char":
            ws = "".join(c for c in token[1] if c in _WS)
            if ws:
                self._mode_in_body(("char", ws, 0, len(ws)))
            return
        if tt == "start" and token[1] == "html":
            self._mode_in_body(token)
            return
        if tt == "start" and token[1] == "noframes":
            self._mode_in_head(token)
            return
        if tt == "eof":
            self.done = True

    # ------------------------------------------------------------------
    # foreign content (WHATWG §13.2.6.5)
    # ------------------------------------------------------------------
    def _foreign(self, token) -> None:
        tt = token[0]
        doc = self.doc
        if tt == "char":
            text = token[1]
            if "\x00" in text:
                text = text.replace("\x00", "\ufffd")
            self._insert_text(text)
            if self.frameset_ok and text.strip(_WS):
                self.frameset_ok = False
            return
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            tag = token[1]
            breakout = tag in FOREIGN_BREAKOUT or (
                tag == "font" and any(
                    k in ("color", "face", "size") for k, _ in token[2]
                )
            )
            if breakout:
                while True:
                    n = self.stack[-1]
                    ns, t = doc.ns[n], doc.tag[n]
                    if ns == NS_HTML:
                        break
                    if ns == NS_MATHML and t in MATHML_TEXT_INTEGRATION:
                        break
                    if self._is_html_integration(n, ns, t):
                        break
                    self._pop()
                self._process(token)
                return
            # the adjusted current node's namespace
            if len(self.stack) == 1 and self.fragment_context_tag is not None:
                cur_ns = self.fragment_context_ns
            else:
                cur_ns = doc.ns[self.stack[-1]]
            if not token[2]:
                attrs = {}
                if cur_ns == NS_SVG:
                    tag = SVG_TAG_ADJUSTMENTS.get(tag, tag)
            elif cur_ns == NS_SVG:
                tag = SVG_TAG_ADJUSTMENTS.get(tag, tag)
                attrs = adjust_foreign_attrs(token[2], svg=True)
            elif cur_ns == NS_MATHML:
                attrs = adjust_foreign_attrs(token[2], mathml=True)
            else:
                attrs = dict(token[2])
            self._insert_element(token, ns=cur_ns, tag_override=tag,
                                 attrs_override=attrs)
            if token[3]:
                self._pop()
            return
        if tt == "end":
            tag = token[1]
            if tag in ("br", "p"):
                # spec: an end tag br/p in foreign content is a parse
                # error handled EXACTLY like a breakout start tag — pop
                # to an HTML/integration-point node, reprocess as HTML
                # (round-4 fuzz find: </br> nested the br inside the
                # foreign subtree instead of breaking out)
                while True:
                    n = self.stack[-1]
                    ns, t = doc.ns[n], doc.tag[n]
                    if ns == NS_HTML:
                        break
                    if ns == NS_MATHML and t in MATHML_TEXT_INTEGRATION:
                        break
                    if self._is_html_integration(n, ns, t):
                        break
                    self._pop()
                self._process(token)
                return
            stack = self.stack
            node_i = len(stack) - 1
            if node_i > 0 and doc.tag[stack[-1]].translate(ASCII_LOWER) == tag:
                self._pop()  # the end tag of the current node
                return
            while node_i > 0:
                node = self.stack[node_i]
                if doc.tag[node].translate(ASCII_LOWER) == tag:
                    self._pop_to(node_i)
                    return
                node_i -= 1
                if doc.ns[self.stack[node_i]] == NS_HTML:
                    self._process(token)
                    return
            return
        if tt == "eof":
            self._process(token)


#: "in template" start tags that pick the template's insertion mode
#: (any other start tag: "in body")
_TEMPLATE_START_MODES = {
    "caption": "in_table", "colgroup": "in_table", "tbody": "in_table",
    "tfoot": "in_table", "thead": "in_table", "col": "in_column_group",
    "tr": "in_table_body", "td": "in_row", "th": "in_row"}
#: "reset the insertion mode": elements that select a mode by tag alone
_RESET_MODES = {
    "tr": "in_row", "tbody": "in_table_body", "thead": "in_table_body",
    "tfoot": "in_table_body", "caption": "in_caption",
    "colgroup": "in_column_group", "table": "in_table", "body": "in_body",
    "frameset": "in_frameset"}
#: insertion mode name -> handler
_MODES = {name[6:]: fn for name, fn in vars(TreeBuilder).items()
          if name.startswith("_mode_")}


def _rule_table(rules) -> dict:
    """tag -> handler; rules are listed in the spec's order, so a tag
    named by two rules takes the first."""
    table: dict = {}
    for tags, handler in rules:
        for tag in tags:
            table.setdefault(tag, handler)
    return table


_TB = TreeBuilder
#: "in body" start-tag rules; a tag in none of them is an ordinary element
_BODY_START = _rule_table((
    (("html",), _TB._start_html),
    (("base", "basefont", "bgsound", "link", "meta", "noframes", "script",
      "style", "template", "title", "noscript"), _TB._start_head_content),
    (("body",), _TB._start_body),
    (("frameset",), _TB._start_frameset),
    (BLOCK_START, _TB._start_block),
    (HEADING_TAGS, _TB._start_heading),
    (("pre", "listing"), _TB._start_pre),
    (("form",), _TB._start_form),
    (("li", "dd", "dt"), _TB._start_list_item),
    (("plaintext",), _TB._start_plaintext),
    (("button",), _TB._start_button),
    (("a",), _TB._start_a),
    (("b", "big", "code", "em", "font", "i", "s", "small", "strike",
      "strong", "tt", "u"), _TB._start_formatting),
    (("nobr",), _TB._start_nobr),
    (("applet", "marquee", "object"), _TB._start_marker),
    (("table",), _TB._start_table),
    (("area", "br", "embed", "img", "keygen", "wbr"), _TB._start_void),
    (("input",), _TB._start_input),
    (("param", "source", "track"), _TB._start_param),
    (("hr",), _TB._start_hr),
    (("image",), _TB._start_image),
    (("textarea",), _TB._start_textarea),
    (("xmp", "iframe", "noembed"), _TB._start_rawtext),
    (("select",), _TB._start_select),
    (("optgroup", "option"), _TB._start_option),
    (("rb", "rtc", "rp", "rt"), _TB._start_ruby_text),
    (("math", "svg"), _TB._start_foreign),
    (("caption", "col", "colgroup", "frame", "head", "tbody", "td", "tfoot",
      "th", "thead", "tr"), _TB._start_ignored),
))
#: end tags whose "in body" rule does more than pop a matching current node
_BODY_END_SPECIAL = FORMATTING_TAGS | frozenset(
    ("body", "html", "template", "form", "br", "applet", "marquee", "object"))
#: "in body" end-tag rules; any other end tag: _any_other_end_tag
_BODY_END = _rule_table((
    (("template",), _TB._end_template_tag),
    (("body", "html"), _TB._end_body),
    (("p",), _TB._end_p),
    (("li", "dd", "dt"), _TB._end_list_item),
    (BLOCK_START | {"button", "listing", "pre"}, _TB._end_block),
    (("form",), _TB._end_form),
    (HEADING_TAGS, _TB._end_heading),
    (FORMATTING_TAGS, _TB._end_formatting),
    (("applet", "marquee", "object"), _TB._end_marker),
    (("br",), _TB._end_br),
))


def _split_leading_ws(token) -> tuple[str, str, int]:
    text = token[1]
    stripped = text.lstrip(_WS)
    ws = text[: len(text) - len(stripped)]
    return ws, stripped, token[2] + len(ws)


def parse(src: str, **opts) -> Document:
    """Parse a full HTML document string into a Document.  ``opts``:
    ``scripts`` / ``ignore_whitespace`` / ``ignore_doctype``
    (reference parser options, DOM.pod:3234-3244)."""
    return TreeBuilder(**opts).parse(src)


def parse_fragment(src: str, context_tag: str = "div",
                   context_ns: int = NS_HTML,
                   scripts: bool = True) -> tuple[Document, int]:
    return TreeBuilder(scripts=scripts).parse_fragment(
        src, context_tag, context_ns)
